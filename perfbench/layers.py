"""The traced run: one untraced and one traced repeat of the workload's job,
then timed calls into each layer's public functions on the same inputs.

A layer's time is a difference between probes that share everything but
that layer, each probe a noop-sink action (or a collect where the layer's
result is small):

    io.scan_s            read of the job's input
    resume.antijoin_s    filter_unprocessed(input, done) minus the scan
    skew.salt_s          salt_pages(giants) minus the anti-joined scan
    extract.arrow_s      extract_kernel with a pass-through backend, minus
                         its input (the fan-out and salted kernel input)
    extract.kernel_s     extract_kernel minus the pass-through kernel
    extract.reassembly_s extract_pages minus extract_kernel on its input
    io.write_s           write_extracted of the job's own output, minus the
                         read of that output

Single-process timings of core/ run on a fixed-size sample of the
workload's own rows. Spark-side counts come from the event log of the
traced repeat. The map from each metric to the end-to-end metric it
should move is in perfbench/README.md.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from perfbench.measure import measure_reps, one_rep
from perfbench.trace import Tracer, job_stats, read_event_log
from perfbench.workloads import (ExtractResume, data_bytes, data_files,
                                 read_output, route_class)

PASSTHROUGH = "perfbench.passthrough.PassThroughBackend"
#: rows per route class in the core/ sample
CORE_SAMPLE_PER_CLASS = 24
#: the extract workloads run the dedup layers over about 1 in 10 of their
#: extracted documents
DEDUP_DOCS_MOD = 10
METHODS = ("native_text", "html_extract", "layout_extract", "error")

#: the layers each workload's job runs through, whose times should add
#: up to its untraced wall
IN_PATH = {
    "extract_fresh": ("io.scan_s", "resume.antijoin_s", "skew.fanout_plan_s",
                      "skew.salt_s", "extract.arrow_s", "extract.kernel_s",
                      "extract.reassembly_s", "io.write_s",
                      "pipeline.lineage_s"),
    "extract_resume": ("io.scan_s", "resume.antijoin_s", "skew.fanout_plan_s",
                       "pipeline.shard_cache_s", "extract.arrow_s",
                       "extract.kernel_s", "extract.reassembly_s",
                       "io.write_s", "pipeline.lineage_s"),
    "corpus_dedup": ("io.scan_s", "extract.arrow_s", "extract.kernel_s",
                     "extract.reassembly_s", "corpus.clean_s",
                     "dedup.shingle_s", "dedup.ngram_jaccard_s"),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Probe:
    """Timed calls into the layers, collected as per-layer metrics."""

    def __init__(self, spark, tracer: Tracer, work: str):
        self.spark, self.tracer = spark, tracer
        self.dir = os.path.join(work, "probes")
        self.m: dict[str, tuple[float, str]] = {}

    def time(self, name: str, action) -> float:
        with self.tracer.span(name):
            t = time.perf_counter()
            action()
            return time.perf_counter() - t

    def put(self, name: str, value, unit: str) -> None:
        self.m[name] = (value, unit)

    # ---------------------------------------------------------- extraction
    def extraction(self, pages_fn, done_fn, cfg) -> None:
        """io.scan / resume / skew / extract layers over ``pages_fn()``
        resumed against ``done_fn()`` (None: a fresh run)."""
        from paraocr_spark.operators.extract import (extract_kernel,
                                                     extract_pages,
                                                     split_normal_giants)
        from paraocr_spark.operators.resume import filter_unprocessed
        from paraocr_spark.operators.skew import (ensure_min_parallelism,
                                                  salt_pages)

        def todo():
            return filter_unprocessed(pages_fn(), done_fn(), cfg.fingerprint)

        def kernel_input():
            normal, giants = split_normal_giants(todo())
            return ensure_min_parallelism(normal).unionByName(
                salt_pages(giants))

        scan = self.time("io.scan", lambda: _noop(pages_fn()))
        anti = self.time("resume.antijoin", lambda: _noop(todo()))
        self.put("io.scan_s", scan, "s")
        self.put("resume.antijoin_s", anti - scan, "s")
        self.put("resume.new_docs", todo().count(), "count")

        plans = []
        for _ in range(3):
            normal, _g = split_normal_giants(todo())
            plans.append(self.time("skew.fanout_plan",
                                   lambda: ensure_min_parallelism(normal)))
        self.put("skew.fanout_plan_s", statistics.median(plans), "s")

        salted = self.time("skew.salt", lambda: _noop(
            salt_pages(split_normal_giants(todo())[1])))
        self.put("skew.salt_s", salted - anti, "s")
        self.put("skew.shards",
                 salt_pages(split_normal_giants(todo())[1]).count(), "count")

        kin = self.time("extract.input", lambda: _noop(kernel_input()))
        passed = self.time("extract.arrow", lambda: _noop(
            extract_kernel(kernel_input(), PASSTHROUGH)))
        kern = self.time("extract.kernel", lambda: _noop(
            extract_kernel(kernel_input(), cfg.backend, cfg.backend_kwargs)))
        pages = self.time("extract.pages", lambda: _noop(extract_pages(
            todo(), backend=cfg.backend, backend_kwargs=cfg.backend_kwargs)))
        self.put("extract.arrow_s", passed - kin, "s")
        self.put("extract.kernel_s", kern - passed, "s")
        self.put("extract.reassembly_s", pages - kern, "s")

    def shard_cache(self, pages_fn, done_fn, cfg, prior_cache) -> None:
        """The eager half of the shard-cache route (cache probe and giant
        shard append) against a copy of ``prior_cache`` (None: empty)."""
        import dataclasses
        import shutil

        from paraocr_spark.operators.resume import filter_unprocessed
        from paraocr_spark.pipeline import extract_with_shard_cache

        cache = os.path.join(self.dir, "shard_cache")
        if prior_cache and os.path.isdir(prior_cache):
            shutil.copytree(prior_cache, cache)
        c = dataclasses.replace(cfg, shard_cache_path=cache)
        todo = filter_unprocessed(pages_fn(), done_fn(), c.fingerprint)
        self.put("pipeline.shard_cache_s", self.time(
            "pipeline.shard_cache",
            lambda: extract_with_shard_cache(self.spark, todo, c)), "s")

    def write(self, out_path: str, info: dict, cfg) -> None:
        """write_extracted of the job's own output; the pipeline's counts
        and phase times of that job."""
        from pyspark.sql import functions as F

        from paraocr_spark.sources import io as pio

        def pre():
            return (self.spark.read.parquet(out_path)
                    .where(F.col("invocation_id") == info["invocation_id"])
                    .drop("warc_bucket"))

        dest = os.path.join(self.dir, "write")
        scan = self.time("io.write_input", lambda: _noop(pre()))
        wrote = self.time("io.write", lambda: pio.write_extracted(
            pre(), dest, n_buckets=cfg.warc_buckets))
        self.put("io.write_s", wrote - scan, "s")
        self.put("io.write_files", data_files(dest), "count")
        self.put("io.write_bytes", data_bytes(dest), "bytes")

        methods = read_output(out_path, cfg.fingerprint,
                              ["method", "error", "invocation_id"])
        methods = [r for r in methods.to_pylist()
                   if r["invocation_id"] == info["invocation_id"]]
        for m in METHODS:
            self.put(f"pipeline.docs.{m}",
                     sum(r["method"] == m for r in methods), "count")
        self.put("pipeline.error_docs",
                 sum(r["error"] is not None for r in methods), "count")
        self.put("pipeline.kernel_cpu_s", info["kernel_cpu_s"], "s")
        # phase_s comes rounded to the millisecond; the lineage phase is
        # the rest of the unrounded wall
        self.put("pipeline.write_job_s", info["phase_s"]["write_job"], "s")
        self.put("pipeline.lineage_s",
                 info["wall_s"] - info["phase_s"]["write_job"], "s")

    def lineage_append(self, lineage_path: str, info: dict) -> None:
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from paraocr_spark.sources import io as pio

        rows = ds.dataset(lineage_path).to_table(
            filter=pc.field("invocation_id") == info["invocation_id"]
        ).to_pylist()
        dest = os.path.join(self.dir, "lineage")
        self.put("io.lineage_append_s", self.time(
            "io.lineage_append", lambda: pio.write_lineage_rows(rows, dest)),
            "s")

    # -------------------------------------------------------------- core/
    def core(self, rows: list[dict]) -> None:
        """Single-process timings of core/ on ``rows`` (pages dicts)."""
        import pandas as pd

        from paraocr_spark.core import htmlx, layout, quality
        from paraocr_spark.core.features import compute_features_batch
        from paraocr_spark.core.reference import extract_document

        def per_item(name, fn, items) -> float:
            """Seconds per item, looping until 0.2 s have elapsed."""
            with self.tracer.span(name):
                n, t0 = 0, time.perf_counter()
                while True:
                    for it in items:
                        fn(it)
                    n += len(items)
                    dt = time.perf_counter() - t0
                    if dt >= 0.2:
                        return dt / n

        html, lay = [], []
        for r in rows:
            h = r["html"]
            if quality.fastpath_ok(r["text"]) or not h:
                continue
            if h.startswith(layout.MAGIC):
                lay.append(h)
            else:
                try:
                    html.append(h.decode("utf-8"))
                except UnicodeDecodeError:
                    pass
        texts = pd.Series([r["text"] for r in rows], dtype=object)
        extracted = [extract_document(r["html"], r["text"]).extracted_text
                     for r in rows]
        self.put("core.html_ms_per_doc",
                 1e3 * per_item("core.html", htmlx.extract_html, html), "ms")
        self.put("core.layout_ms_per_doc",
                 1e3 * per_item("core.layout", layout.extract_layout, lay),
                 "ms")
        self.put("core.gate_ms_per_kdoc", 1e6 * per_item(
            "core.gate", quality.fastpath_ok_series, [texts]) / len(rows),
            "ms")
        self.put("core.features_ms_per_doc", 1e3 * per_item(
            "core.features", compute_features_batch, [extracted])
            / len(rows), "ms")

    # ------------------------------------------------------ dedup, corpus
    def dedup(self, docs_fn) -> None:
        """operators.dedup and operators.corpus over ``docs_fn()`` (doc_id,
        text, lang)."""
        from paraocr_spark.operators.corpus import clean_corpus, span_dedup
        from paraocr_spark.operators.dedup import (dedup_ngram_jaccard,
                                                   minhash_signatures,
                                                   ppjoin_candidates,
                                                   shingle_cache,
                                                   with_shingles)

        self.put("dedup.shingle_s", self.time(
            "dedup.shingle", lambda: _noop(with_shingles(docs_fn()))), "s")
        with shingle_cache(docs_fn()) as sh:
            self.time("dedup.shingle_cache", lambda: _noop(sh))
            self.put("dedup.minhash_s", self.time(
                "dedup.minhash", lambda: _noop(minhash_signatures(sh))), "s")
            cands = ppjoin_candidates(sh, 0.5, distinct=False).count()
            pairs = []
            self.put("dedup.ngram_jaccard_s", self.time(
                "dedup.ngram_jaccard", lambda: pairs.extend(
                    dedup_ngram_jaccard(docs_fn(), 0.5, sh=sh).collect())),
                "s")
        self.put("dedup.ppjoin_candidates", cands, "count")
        self.put("dedup.pairs_out", len(pairs), "count")
        self.put("dedup.verify_yield", len(pairs) / cands if cands else 0.0,
                 "ratio")

        self.put("corpus.span_dedup_s", self.time(
            "corpus.span_dedup", lambda: _noop(span_dedup(docs_fn()))), "s")

        def clean():
            with clean_corpus(docs_fn(), w=5, threshold=0.9,
                              quotas={"en": 300, "zh": 200},
                              default_quota=100) as result:
                result.collect()

        self.put("corpus.clean_s", self.time("corpus.clean", clean), "s")


def _extract_core_rows(wl) -> list[dict]:
    """A fixed number of the input's rows of every route class but the
    giants (whose parse is sharded), seeded."""
    from paraocr_spark.sources.pages import gen_page

    rng = random.Random(wl.seed)
    by_class: dict[str, list[int]] = {}
    for i in wl.ids:
        by_class.setdefault(route_class(i), []).append(i)
    return [gen_page(i) for c in sorted(by_class) if c != "giant_layout"
            for i in rng.sample(by_class[c],
                                min(CORE_SAMPLE_PER_CLASS, len(by_class[c])))]


def _dedup_core_rows(spark, docs) -> list[dict]:
    """The first documents of the dedup subset as the pages clean_corpus
    extracts from, plus some of them rendered as one-page layout payloads,
    so every core route has rows of this workload."""
    from paraocr_spark.core import layout
    from paraocr_spark.sources.pages import pages_from_documents

    first = docs.orderBy("doc_id").limit(4 * CORE_SAMPLE_PER_CLASS)
    texts = [r["text"] for r in first.select("text").collect()]
    rows = [r.asDict() for r in pages_from_documents(first, "html").collect()]
    for r, text in list(zip(rows, texts))[:CORE_SAMPLE_PER_CLASS]:
        words = (text or "").split()
        lines = [(0.0, 12.0 * k, " ".join(words[j:j + 10]))
                 for k, j in enumerate(range(0, len(words), 10))]
        rows.append({**r, "html": layout.encode_layout([lines[::-1]])})
    return rows


def traced_run(spark, wl, tracer: Tracer, seconds: float) -> dict:
    import shutil

    from pyspark.sql import functions as F

    from paraocr_spark.pipeline import PipelineConfig, run_and_write
    from paraocr_spark.sources.pages import pages_from_documents

    # untraced repeats, as in a --trace 0 run: no spans, no job tags (the
    # event log stays on)
    reps, attempted, failed = measure_reps(wl, seconds)
    untraced = statistics.median(r["wall_s"] for r in reps)
    # traced repeat; its output feeds the probes below
    rep = one_rep(wl, len(reps), tracer)
    traced, info = rep["wall_s"], rep["info"]
    attempted += wl.n_docs
    failed += wl.check()

    p = Probe(spark, tracer, wl.work)
    with tracer.span("layers"):
        if wl.name == "corpus_dedup":
            docs_path = os.path.join(wl.sf, "documents.parquet")

            def docs_fn():
                return spark.read.parquet(docs_path)

            def pages_fn():
                return pages_from_documents(docs_fn(), "html")

            cfg = PipelineConfig(run_id="probe")
            out, lin = (os.path.join(p.dir, "run", "out"),
                        os.path.join(p.dir, "run", "lin"))
            pinfo = run_and_write(spark, pages_fn(), out, lin, cfg)
            p.extraction(pages_fn, lambda: None, cfg)
            p.shard_cache(pages_fn, lambda: None, cfg, None)
            p.write(out, pinfo, cfg)
            p.lineage_append(lin, pinfo)
            p.core(_dedup_core_rows(spark, docs_fn()))
            p.dedup(docs_fn)
        else:
            prior = (os.path.join(wl.prior, "out")
                     if isinstance(wl, ExtractResume) else None)

            def pages_fn():
                return spark.read.parquet(wl.pages_path)

            def done_fn():
                return spark.read.parquet(prior) if prior else None

            out, lin = wl.out_paths()
            p.extraction(pages_fn, done_fn, wl.cfg)
            p.shard_cache(pages_fn, done_fn, wl.cfg,
                          os.path.join(wl.prior, "cache") if prior else None)
            p.write(out, info, wl.cfg)
            p.lineage_append(lin, info)
            p.core(_extract_core_rows(wl))
            docs = os.path.join(p.dir, "docs")
            (spark.read.parquet(out)
             .where((F.col("invocation_id") == info["invocation_id"])
                    & (F.col("method") != "error")
                    & (F.pmod(F.xxhash64("url"), F.lit(DEDUP_DOCS_MOD)) == 0)
                    & (F.length("extracted_text") < 20000))
             .select(F.xxhash64("url").alias("doc_id"),
                     F.col("extracted_text").alias("text"), "lang")
             .write.parquet(docs))
            p.dedup(lambda: spark.read.parquet(docs))
    wl.finish_rep()
    shutil.rmtree(p.dir, ignore_errors=True)

    m = dict(p.m)
    m["trace.untraced_wall_s"] = (untraced, "s")
    m["trace.traced_wall_s"] = (traced, "s")
    m["trace.overhead_s"] = (traced - untraced, "s")
    explained = sum(m[k][0] for k in IN_PATH[wl.name])
    m["trace.unexplained_s"] = (untraced - explained, "s")
    m["trace.unexplained_frac"] = ((untraced - explained) / untraced, "ratio")
    return {"attempted": attempted, "failed": failed, "metrics": m,
            "traced_wall": traced}


def finish(result: dict, event_dir: str, tracer: Tracer, args,
           root: str) -> dict:
    """Add the event-log metrics of the traced repeat and write the spans
    out; call after Spark has stopped (the log is complete then)."""
    js = job_stats(read_event_log(event_dir), "job")
    m = result["metrics"]
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (js[k], "count")
    for k in ("shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = (js[k], "bytes")
    m["spark.executor_cpu_s"] = (js["executor_cpu_s"], "s")
    m["spark.gc_s"] = (js["gc_s"], "s")
    m["spark.job_wall_s"] = (js["job_wall_s"], "s")
    m["spark.driver_only_s"] = (result["traced_wall"] - js["job_wall_s"], "s")
    m["skew.task_s_max"] = (js["task_s_max"], "s")
    m["skew.task_s_p99"] = (js["task_s_p99"], "s")
    m["extract.python_bytes_sent"] = (js["python_bytes_sent"], "bytes")
    m["extract.python_bytes_received"] = (js["python_bytes_received"], "bytes")
    own = tracer.self_times()
    m["setup.input_s"] = (own["setup.input"], "s")
    m["setup.warmup_s"] = (own["setup.warmup"] + own.get("setup.prior", 0.0),
                           "s")
    tracer.dump(os.path.join(root, ".perfbench_out",
                             f"spans-{args.workload}-{args.seed}.json"))
    return result
