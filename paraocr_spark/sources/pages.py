"""Deterministic synthetic Common-Crawl-style ``pages`` table (FIXTURES.md §1).

Schema (BASELINE.json input_hint):
    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

Document classes by ``i % 10`` (FIXTURES.md):
    0-3  clean HTML (nav/article/footer; content must survive, chrome drops)
    4-5  link-heavy boilerplate (>60% anchor text blocks must drop)
    6-7  fast-path native text (``text`` column passes the quality gate)
    8    binary layout payload (out-of-order lines, multi page)
    9    layout doc; every 160th (i % 160 == 9) is a giant skewed doc
    2%   corrupt/NULL overlay -> in-band error rows

Generation is a pure function of ``i`` (seeded per-row PRNG), so it can run
serially (fixtures) or distributed (``spark.range(N).mapInPandas``) and
produce identical rows — the distributed generator is also how the bench
synthesizes input at scale without external data.
"""

from __future__ import annotations

import datetime as _dt
import html as _htmlmod
import random
from collections.abc import Iterator

import pandas as pd

from paraocr_spark.core import layout

_EPOCH = _dt.datetime(2025, 1, 1, tzinfo=_dt.timezone.utc)

_LANGS = ["vi", "en", "vi", "en", "ja", "de", "vi", "en", "vi", "en"]  # 40/40/10/10

_VOCAB = (
    "the quick brown fox jumps over a lazy dog and runs through the green "
    "field while small birds sing in tall trees near the old stone bridge "
    "where water flows fast under bright morning light with good clear air"
).split()

_NAV_WORDS = ["home", "about", "contact", "products", "blog", "login", "search"]

PAGES_SCHEMA_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def _rng(i: int) -> random.Random:
    return random.Random((i * 2654435761 + 42) & 0xFFFFFFFF)


def _sentence(r: random.Random, n: int) -> str:
    return " ".join(r.choice(_VOCAB) for _ in range(n))


def _nav_html(r: random.Random) -> str:
    links = "".join(
        f'<a href="/{w}">{w}</a> ' for w in r.sample(_NAV_WORDS, 4)
    )
    return f"<nav>{links}</nav>"


def _clean_html(r: random.Random) -> str:
    # Sized like real web pages (~20-60 paragraphs, tens of KB) so the
    # parse cost per document is representative of Common-Crawl HTML —
    # benchmarks on toy 2 KB pages are I/O-bound and mislead scaling runs.
    paras = "".join(
        f"<p>{_htmlmod.escape(_sentence(r, r.randint(15, 40)))}</p>"
        for _ in range(r.randint(20, 60))
    )
    sidebar = "".join(
        f'<aside><a href="/t{j}">{_sentence(r, 3)}</a></aside>' for j in range(6)
    )
    return (
        "<html><head><title>t</title></head><body>"
        + _nav_html(r)
        + sidebar
        + f"<article><h1>{_htmlmod.escape(_sentence(r, 4))}</h1>{paras}</article>"
        + f"<footer>copyright {r.randint(1999, 2025)} example corp</footer>"
        + "</body></html>"
    )


def _linkheavy_html(r: random.Random) -> str:
    # Blocks where >60% of chars sit inside <a> — classifier must drop them.
    link_blocks = "".join(
        "<div>"
        + "".join(
            f'<a href="/x{j}">{_sentence(r, 5)}</a> ' for j in range(r.randint(4, 8))
        )
        + f"{r.choice(_VOCAB)}</div>"
        for _ in range(r.randint(15, 40))
    )
    real = "".join(
        f"<p>{_htmlmod.escape(_sentence(r, r.randint(10, 30)))}</p>"
        for _ in range(r.randint(5, 15))
    )
    return f"<html><body>{_nav_html(r)}{link_blocks}<article>{real}</article></body></html>"


_DICTISH = "the and of to in on with from small fast good old under over".split()


def _native_text(r: random.Random) -> str:
    # >=100 chars with guaranteed >=0.5 dictionary-hit ratio so the fast-path
    # gate always passes (min_native_text_chars=100 config.py:56, dict ratio
    # 0.3 config.py:57).
    words = [
        r.choice(_DICTISH) if k % 2 == 0 else r.choice(_VOCAB) for k in range(40)
    ]
    s = " ".join(words)
    while len(s) < 120:
        s += " " + r.choice(_DICTISH) + " " + r.choice(_VOCAB)
    return s


def _layout_payload(r: random.Random, n_pages: int) -> bytes:
    pages = []
    for _ in range(n_pages):
        lines = [
            (float(r.randint(0, 600)), float(y * 12), _sentence(r, r.randint(6, 12)))
            for y in range(r.randint(25, 50))
        ]
        r.shuffle(lines)  # arrive out of document order
        pages.append(lines)
    return layout.encode_layout(pages)


def gen_page(i: int) -> dict:
    """Generate row i of the pages table. Pure and deterministic."""
    r = _rng(i)
    cls = i % 10
    url = f"https://site{i % 50}.example/path/{i}"
    warc_ts = _EPOCH + _dt.timedelta(seconds=i * 137)
    lang = _LANGS[i % 10]
    html_b: bytes | None = None
    text: str | None = None

    if i % 50 == 13:  # corrupt overlay: nothing at all -> error row
        pass
    elif i % 50 == 27:  # corrupt overlay: invalid utf-8, not layout magic
        html_b = b"\xff\xfe\x00broken" + bytes(r.getrandbits(8) for _ in range(16))
    elif cls <= 3:
        html_b = _clean_html(r).encode("utf-8")
    elif cls <= 5:
        html_b = _linkheavy_html(r).encode("utf-8")
    elif cls <= 7:
        text = _native_text(r)
        html_b = _clean_html(r).encode("utf-8")  # present but short-circuited
    elif cls == 8:
        html_b = _layout_payload(r, r.randint(2, 6))
    else:  # cls == 9: layout docs; every 160th is giant (skew tail — real
        # web corpora have ~0.1-1% documents at 100x median size)
        n_pages = 400 if i % 160 == 9 else r.randint(3, 8)
        html_b = _layout_payload(r, n_pages)

    return {"url": url, "warc_ts": warc_ts, "html": html_b, "text": text, "lang": lang}


def gen_pages_pdf(start: int, end: int) -> pd.DataFrame:
    rows = [gen_page(i) for i in range(start, end)]
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


_WRAP_PRE = (
    '<html><head><title>t</title></head><body>'
    '<nav><a href="/">home</a> <a href="/blog">blog</a> <a href="/about">about</a></nav>'
    "<article><p>"
)
_WRAP_POST = "</p></article><footer>fine print copyright notice</footer></body></html>"


def pages_from_documents(docs, mode: str = "html"):
    """Bridge the driver's ``documents`` table into the pages schema.

    mode='html'   -> text wrapped in boilerplate HTML (nav/footer noise),
                     ``text`` column NULL: exercises the html_extract route;
                     extraction must recover exactly the original text.
    mode='native' -> ``text`` column populated, html NULL: exercises the
                     fast-path gate (native_text when it passes, in-band
                     error when it doesn't).

    Built entirely from Spark expressions so Catalyst can pipeline it with
    the scan (no Python between parquet and the kernel).
    """
    from pyspark.sql import functions as F

    url = F.concat(
        F.lit("https://site"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".example/doc/"), F.col("doc_id").cast("string"),
    ).alias("url")
    warc_ts = F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 137).alias("warc_ts")
    if mode == "html":
        html = F.concat(F.lit(_WRAP_PRE), F.col("text"), F.lit(_WRAP_POST)).cast("binary").alias("html")
        text = F.lit(None).cast("string").alias("text")
    elif mode == "native":
        html = F.lit(None).cast("binary").alias("html")
        text = F.col("text").alias("text")
    else:
        raise ValueError(mode)
    return docs.select(url, warc_ts, html, text, F.col("lang"))


def pages_df(spark, n: int, partitions: int = 32):
    """Distributed deterministic pages table: spark.range -> mapInPandas."""

    def gen_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            yield pd.DataFrame(
                [gen_page(int(i)) for i in ids],
                columns=["url", "warc_ts", "html", "text", "lang"],
            )

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen_batches, schema=PAGES_SCHEMA_DDL)
    )
