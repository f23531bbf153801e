"""Per-partition lineage/metrics rollup (north-rule requirement).

Analog of the reference's performance log (PerformanceTracker,
parallel.py:33-61, sink parallel.py:124-137): wall time measured inside the
kernel per Arrow batch, attributed evenly across the batch's rows
(parallel.py:42-49), then rolled up per Spark partition with one tiny
groupBy. The lineage table doubles as the resume checkpoint's audit trail
(FIXTURES.md §3).
"""

from __future__ import annotations

import hashlib
import json

from pyspark import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINEAGE_SCHEMA_DDL = (
    "run_id string, partition_id int, doc_count long, bytes long, "
    "wall_time_s double, config_fp string, invocation_id string"
)


class LineageAccParam(AccumulatorParam):
    """Replace-merge dict accumulator: {(stage_id, partition_id[, _pid]):
    (docs, bytes, kernel_wall_s)}, the last key element being the _pid the
    docs are charged to.

    Each task sends exactly ONE update (its whole-partition totals): a
    kernel task keyed by (stage_id, partition_id), a giant-reassembly task
    one entry per merged _pid keyed by (stage_id, partition_id, _pid). Both
    keys are unique per task within a stage and STABLE across task retries
    / speculative attempts / stage resubmission (retries keep the stage
    id). Merging by key replacement therefore makes the rollup idempotent
    under every re-execution mode, sidestepping the classic "accumulators
    in transformations double-count on retry" hazard: a retried task
    overwrites its own earlier entry instead of adding to it.
    """

    def zero(self, value):  # noqa: D102 — AccumulatorParam contract
        return {}

    def addInPlace(self, a, b):  # noqa: D102
        a.update(b)
        return a


def lineage_rows_from_acc(acc_value: dict, run_id: str, config_fp: str,
                          invocation_id: str) -> list[dict]:
    """Driver-side rollup of the accumulator into lineage rows.

    Sums the entries by the _pid each is charged to (``key[-1]``): normal
    docs report from their kernel task, a salted giant once from its merged
    row at reassembly. The rows therefore equal lineage_rollup over the
    written rows of the invocation, one per _pid, on every route."""
    by_pid: dict[int, list] = {}
    for key, (docs, nbytes, wall) in acc_value.items():
        if docs == 0:
            continue  # empty partition (e.g. a fully-resumed run): no row,
            # as lineage_rollup over zero written rows has none
        cur = by_pid.setdefault(key[-1], [0, 0, 0.0])
        cur[0] += docs
        cur[1] += nbytes
        cur[2] += wall
    return [
        {
            "run_id": run_id,
            "partition_id": pid,
            "doc_count": c[0],
            "bytes": c[1],
            "wall_time_s": c[2],
            "config_fp": config_fp,
            "invocation_id": invocation_id,
        }
        for pid, c in sorted(by_pid.items())
    ]


def config_fingerprint(config: dict) -> str:
    """SHA-1 over the sorted config — cache/checkpoint invalidation key.

    Analog of the reference's config fingerprint in cache manifests
    (parallel.py:95-96: {dpi, pdf_engine, cache_version}).
    """
    blob = json.dumps(config, sort_keys=True, default=str).encode("utf-8")
    return hashlib.sha1(blob).hexdigest()


def lineage_rollup(extracted_with_metrics: DataFrame, run_id: str,
                   config_fp: str, invocation_id: str = "") -> DataFrame:
    """Roll kernel metric columns (_pid, _doc_bytes, _wall_s) into lineage rows.

    ``run_id`` is the user-facing label; ``invocation_id`` (run_id + uuid,
    stamped by run_and_write) uniquely scopes one invocation so resumed
    runs never double-count prior appends."""
    return (
        extracted_with_metrics
        .groupBy(F.col("_pid").alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("doc_count"),
            F.sum("_doc_bytes").alias("bytes"),
            F.sum("_wall_s").alias("wall_time_s"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id", "doc_count", "bytes", "wall_time_s",
            F.lit(config_fp).alias("config_fp"),
            F.lit(invocation_id).alias("invocation_id"),
        )
    )
