"""The three workloads: inputs from the seed, set-up, one timed job, and
the check of that job's output.

Each workload object is driven the same way (see run.py): ``setup()`` once
(inputs, warm-up), then repeatedly ``prepare_rep()`` (untimed per-repeat
set-up), ``job()`` (timed), ``check()`` (untimed).
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

#: period of the synthetic class mix: gen_page(i) routes on i % 10, i % 50
#: and i % 160, all of which divide 800
PERIOD = 800
EXTRACT_DOCS = 2 * PERIOD
#: distinct id ranges the seed picks from. gen_page(i) stamps its page
#: 137 s * i after 2025-01-01; pandas holds timestamps only up to 2262, so
#: ids must stay below about 5e7 (here below 1.6e7: years up to 2094)
SEED_BLOCKS = 10_000
#: the resumed run finds every url done except those of one block of 160
#: consecutive ids in ten (a lost partition): a tenth of the docs, with the
#: full class mix and exactly one giant per block
RESUME_BLOCK = 160
RESUME_LOST_BLOCK = 3
#: documents of the dedup subset, and how many of its near-duplicate
#: clusters (docs sharing their first 40 characters; the bundled table has
#: 233 of them, holding 9.5% of its docs) it holds
DEDUP_DOCS = 250
DEDUP_CLUSTERS = 12
DEDUP_QUERIES = ("clean_corpus", "dedup_ngram_jaccard")
_BUNDLED_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "data", "documents_sf0.1.parquet")


def data_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's _SUCCESS markers
    and .crc side files excluded)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if not f.startswith((".", "_")))
    return total


def data_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path)
               for f in files if not f.startswith((".", "_")))


# ------------------------------------------------------------- extraction
def route_class(i: int) -> str:
    """The class gen_page(i) builds, in the terms the router sees."""
    if i % 50 == 13:
        return "no_content"
    if i % 50 == 27:
        return "invalid_utf8"
    if i % 160 == 9:
        return "giant_layout"
    return ("html", "html", "html", "html", "link_boilerplate",
            "link_boilerplate", "native_text", "native_text", "layout",
            "layout")[i % 10]


def write_pages(spark, lo: int, hi: int, path: str) -> None:
    """gen_page(lo..hi-1) as a parquet pages table, generated on the
    workers."""
    import pandas as pd

    from paraocr_spark.sources.pages import PAGES_SCHEMA_DDL, gen_page

    cols = ["url", "warc_ts", "html", "text", "lang"]

    def gen(batches):
        for b in batches:
            yield pd.DataFrame([gen_page(int(i)) for i in b["id"]],
                               columns=cols)

    (spark.range(lo, hi, 1, 2 * spark.sparkContext.defaultParallelism)
     .mapInPandas(gen, PAGES_SCHEMA_DDL)
     .write.mode("overwrite").parquet(path))


def read_output(out_path: str, config_fp: str, columns: list[str],
                urls: set | None = None):
    """Rows of an extracted table under one config_fp, read with pyarrow
    (no Spark job)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    d = ds.dataset(out_path, format="parquet", partitioning="hive")
    flt = pc.field("config_fp") == config_fp
    if urls is not None:
        flt = flt & pc.field("url").isin(sorted(urls))
    return d.to_table(columns=columns, filter=flt)


class ExtractFresh:
    """One run_and_write over synthetic pages, into an empty output."""

    name = "extract_fresh"
    n_docs = EXTRACT_DOCS

    def __init__(self, spark, work: str, seed: int):
        from paraocr_spark.pipeline import PipelineConfig

        self.spark, self.work, self.seed = spark, work, seed
        # the seed shifts the id range by whole periods: same class mix,
        # different rows
        self.lo = (seed % SEED_BLOCKS) * EXTRACT_DOCS
        self.ids = range(self.lo, self.lo + EXTRACT_DOCS)
        self.pages_path = os.path.join(work, "pages")
        self.cfg = PipelineConfig(run_id="bench")
        self.rep_dir = None

    def setup(self, tracer) -> None:
        from paraocr_spark.pipeline import run_and_write

        with tracer.span("setup.input"):
            self.make_input()
        with tracer.span("setup.warmup"):
            d = os.path.join(self.work, "warmup")
            run_and_write(self.spark, self.spark.read.parquet(self.pages_path),
                          os.path.join(d, "out"), os.path.join(d, "lin"),
                          self.cfg)
            shutil.rmtree(d)

    def make_input(self) -> None:
        import pyarrow.parquet as pq

        write_pages(self.spark, self.lo, self.lo + EXTRACT_DOCS,
                    self.pages_path)
        # gen_page(i) ends its url with "/<i>"
        self.url_of = {int(u.rsplit("/", 1)[1]): u for u in
                       pq.read_table(self.pages_path, columns=["url"])
                       ["url"].to_pylist()}

    def prepare_rep(self, i: int) -> None:
        self.rep_dir = os.path.join(self.work, f"rep{i}")
        os.makedirs(self.rep_dir)
        self.bytes_before = 0

    def out_paths(self) -> tuple[str, str]:
        return (os.path.join(self.rep_dir, "out"),
                os.path.join(self.rep_dir, "lin"))

    def out_bytes(self) -> int:
        """Data bytes of the output and lineage tables."""
        return sum(data_bytes(p) for p in self.out_paths())

    def job(self) -> dict:
        from paraocr_spark.pipeline import run_and_write

        out, lin = self.out_paths()
        return run_and_write(self.spark, self.spark.read.parquet(self.pages_path),
                             out, lin, self.cfg)

    def sample_ids(self) -> list[int]:
        """Three ids of every route class, seeded."""
        rng = random.Random(self.seed)
        by_class: dict[str, list[int]] = {}
        for i in self.ids:
            by_class.setdefault(route_class(i), []).append(i)
        return [i for c in sorted(by_class)
                for i in rng.sample(by_class[c], min(3, len(by_class[c])))]

    def check(self) -> int:
        """Docs missing, duplicated or wrong in this repeat's output."""
        from paraocr_spark.core.reference import extract_document
        from paraocr_spark.sources.pages import gen_page

        out, _ = self.out_paths()
        urls = read_output(out, self.cfg.fingerprint, ["url"])["url"].to_pylist()
        counts: dict[str, int] = {}
        for u in urls:
            counts[u] = counts.get(u, 0) + 1
        want = set(self.url_of.values())
        bad = {u for u in want if counts.get(u, 0) != 1}
        bad.update(u for u in counts if u not in want)

        sample = {self.url_of[i]: i for i in self.sample_ids()}
        rows = read_output(out, self.cfg.fingerprint,
                           ["url", "extracted_text", "spans", "method", "error"],
                           set(sample)).to_pylist()
        for r in rows:
            p = gen_page(sample[r["url"]])
            ref = extract_document(p["html"], p["text"])
            got_spans = [(s["start"], s["end"]) for s in r["spans"] or []]
            if (r["extracted_text"], got_spans, r["method"], r["error"]) != (
                    ref.extracted_text, list(ref.spans), ref.method, ref.error):
                bad.add(r["url"])
        return len(bad)

    def finish_rep(self) -> None:
        shutil.rmtree(self.rep_dir)


def _block():
    """Which of the ten blocks of RESUME_BLOCK consecutive ids a page's id
    falls in."""
    from pyspark.sql import functions as F

    page_id = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    return F.pmod(F.floor(page_id / RESUME_BLOCK), F.lit(10))


class ExtractResume(ExtractFresh):
    """The same pages, resumed against a prior output holding ~90% of the
    urls, through the shard-cache route."""

    name = "extract_resume"

    def __init__(self, spark, work: str, seed: int):
        super().__init__(spark, work, seed)
        self.prior = os.path.join(work, "prior")
        self.prior_urls: set[str] = set()

    def _cfg(self, base: str):
        from paraocr_spark.pipeline import PipelineConfig

        return PipelineConfig(run_id="bench",
                              shard_cache_path=os.path.join(base, "cache"))

    def setup(self, tracer) -> None:
        from paraocr_spark.pipeline import run_and_write

        with tracer.span("setup.input"):
            self.make_input()
        # the prior output: a resumed run over nine blocks in ten, through
        # the timed job's route; its own prior holds one url of another
        # site, so the anti-join is real
        with tracer.span("setup.prior"):
            pages = self.spark.read.parquet(self.pages_path)
            cfg = self._cfg(self.prior)
            out = os.path.join(self.prior, "out")
            other = os.path.join(self.work, "other_site")
            self.spark.createDataFrame(
                [("https://other.example/0", cfg.fingerprint)],
                "url string, config_fp string").write.parquet(other)
            run_and_write(self.spark, pages.where(_block() != RESUME_LOST_BLOCK),
                          out, os.path.join(self.prior, "lin"), cfg,
                          done=self.spark.read.parquet(other))
            self.prior_urls = set(read_output(
                out, cfg.fingerprint, ["url"])["url"].to_pylist())
        # the JVM is still compiling after one run: one untimed repeat more
        with tracer.span("setup.warmup"):
            self.prepare_rep("warmup")
            self.job()
            self.finish_rep()

    def prepare_rep(self, i: int) -> None:
        self.rep_dir = os.path.join(self.work, f"rep{i}")
        shutil.copytree(self.prior, self.rep_dir)
        os.sync()  # the copy's write-back must not overlap the timed job
        self.cfg = self._cfg(self.rep_dir)
        self.bytes_before = self.out_bytes()

    def job(self) -> dict:
        from paraocr_spark.pipeline import run_and_write

        out, lin = self.out_paths()
        return run_and_write(self.spark, self.spark.read.parquet(self.pages_path),
                             out, lin, self.cfg,
                             done=self.spark.read.parquet(out))

    def sample_ids(self) -> list[int]:
        """Three ids of every route class among the urls this run must
        extract, plus one per class among those the prior holds."""
        rng = random.Random(self.seed)
        new, old = {}, {}
        for i in self.ids:
            side = old if self.url_of[i] in self.prior_urls else new
            side.setdefault(route_class(i), []).append(i)
        out = []
        for side, k in ((new, 3), (old, 1)):
            for c in sorted(side):
                out += rng.sample(side[c], min(k, len(side[c])))
        return out


# ------------------------------------------------------------------ dedup
def dedup_subset(seed: int, path: str) -> int:
    """A seeded subset of DEDUP_DOCS of the bundled sf0.1 documents,
    written as ``path/documents.parquet``: DEDUP_CLUSTERS whole
    near-duplicate clusters, so every seed gives the dedup stages the same
    amount of real duplication, and single documents for the rest, each
    taken in the order of a seeded hash. Returns the row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(_BUNDLED_DOCS)
    groups: dict[str, list[int]] = {}
    for row, text in enumerate(t["text"].to_pylist()):
        groups.setdefault((text or "")[:40], []).append(row)

    def rank(key: str) -> bytes:
        return hashlib.blake2b(f"{seed}:{key}".encode(), digest_size=8).digest()

    clusters = sorted((k for k, g in groups.items() if len(g) > 1), key=rank)
    keep = [row for k in clusters[:DEDUP_CLUSTERS] for row in groups[k]]
    singles = sorted((k for k, g in groups.items() if len(g) == 1), key=rank)
    keep += [groups[k][0] for k in singles[:DEDUP_DOCS - len(keep)]]
    sub = t.take(pa.array(sorted(keep)))
    os.makedirs(path, exist_ok=True)
    pq.write_table(sub, os.path.join(path, "documents.parquet"))
    return sub.num_rows


def canon(df) -> list[tuple]:
    """Order-insensitive value rows of a pandas frame, as
    tools/check_oracles.py compares them: columns sorted by name, every
    cell stringified."""
    df = df[sorted(df.columns)]
    return sorted(tuple(str(v) for v in row)
                  for row in df.itertuples(index=False))


def dedup_oracle_sql() -> dict[str, str]:
    """DuckDB text of the two checked queries from oracle_sql().

    oracle_sql() also builds oracles for other queries whose text embeds
    constants read from testdata directories. Those generators are stubbed
    while it runs, so the benchmark reads nothing outside its inputs; the
    two queries used here depend on no data file."""
    import __spark_entry__ as entry

    stubbed = {}
    for name in ("_bpe_oracle_sql", "_neardup_auto_oracle_sql",
                 "_ivf_recall_oracle_sql"):
        if hasattr(entry, name):
            stubbed[name] = getattr(entry, name)
            setattr(entry, name, lambda *a, **k: "")
    try:
        sql = entry.oracle_sql()
    finally:
        for name, fn in stubbed.items():
            setattr(entry, name, fn)
    return {q: sql[q] for q in DEDUP_QUERIES}


class CorpusDedup:
    """clean_corpus then dedup_ngram_jaccard from __spark_entry__.queries()
    over a seeded subset of the sf0.1 documents; each result is written to
    parquet, as a cleaning job would."""

    name = "corpus_dedup"

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.sf = os.path.join(work, "sf")
        self.rep_dir = None
        self._oracle = None
        self.n_docs = 0

    def setup(self, tracer) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        with tracer.span("setup.input"):
            self.n_docs = dedup_subset(self.seed, self.sf)
        with tracer.span("setup.warmup"):
            d = os.path.join(self.work, "warmup")
            for q in DEDUP_QUERIES:
                self.queries[q](self.spark, self.sf).write.parquet(
                    os.path.join(d, q))
            shutil.rmtree(d)

    def prepare_rep(self, i: int) -> None:
        self.rep_dir = os.path.join(self.work, f"rep{i}")
        os.makedirs(self.rep_dir)
        self.bytes_before = 0

    def out_bytes(self) -> int:
        return data_bytes(self.rep_dir)

    def job(self) -> dict:
        for q in DEDUP_QUERIES:
            self.queries[q](self.spark, self.sf).write.parquet(
                os.path.join(self.rep_dir, q))
        return {}

    def oracle(self) -> dict[str, list[tuple]]:
        if self._oracle is None:
            import duckdb

            con = duckdb.connect()
            try:
                con.sql("create view documents as select * from read_parquet("
                        f"'{os.path.join(self.sf, 'documents.parquet')}')")
                self._oracle = {q: canon(con.sql(s).df())
                                for q, s in dedup_oracle_sql().items()}
            finally:
                con.close()
        return self._oracle

    def check(self) -> int:
        """Docs named by a result row that differs from the oracle."""
        from collections import Counter

        import pyarrow.parquet as pq

        bad: set[str] = set()
        for q, want in self.oracle().items():
            t = pq.read_table(os.path.join(self.rep_dir, q))
            got, exp = Counter(canon(t.to_pandas())), Counter(want)
            cols = sorted(t.column_names)
            id_cols = [cols.index(c) for c in ("doc_id", "a", "b") if c in cols]
            for row in (got - exp) + (exp - got):
                bad.update(row[k] for k in id_cols)
        return min(len(bad), self.n_docs)

    def finish_rep(self) -> None:
        shutil.rmtree(self.rep_dir)


WORKLOADS = {w.name: w for w in (ExtractFresh, ExtractResume, CorpusDedup)}
