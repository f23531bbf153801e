"""An extraction backend that does no extraction work.

Run through extract_kernel in place of the default backend, it leaves the
cost of moving rows to the Python workers and back (Arrow transfer, batch
framing, the kernel's own bookkeeping) without the parse.
"""

from __future__ import annotations

import pandas as pd

from paraocr_spark.backends import ExtractorBackend


class PassThroughBackend(ExtractorBackend):
    def extract_batch(self, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        return pd.DataFrame({
            "extracted_text": [""] * n,
            "spans": [[] for _ in range(n)],
            "method": ["passthrough"] * n,
            "error": [None] * n,
        })
