"""Pipeline-level behavior: resume idempotence, lineage, sinks."""

import pathlib

import pytest
from pyspark.sql import functions as F

from paraocr_spark.pipeline import PipelineConfig, run_and_write, run_extraction
from paraocr_spark.sources import io as pio
from paraocr_spark.sources.pages import pages_df


def test_resume_is_idempotent(spark, tmp_path: pathlib.Path):
    """Run, then re-run with resume: second run processes 0 rows
    (cli.py:227-231 analog: second run over same output is a no-op)."""
    out = str(tmp_path / "extracted")
    lin = str(tmp_path / "lineage")
    pages = pages_df(spark, 120, 4)
    cfg = PipelineConfig(run_id="r1")
    m1 = run_and_write(spark, pages, out, lin, cfg)
    assert m1["rows"] == 120
    done = pio.read_table(spark, out)
    m2 = run_and_write(spark, pages, out, lin, PipelineConfig(run_id="r2"), done)
    assert m2["rows"] == 0
    # output still has exactly one row per url
    final = pio.read_table(spark, out)
    assert final.count() == 120
    assert final.select("url").distinct().count() == 120


def test_resume_partial(spark, tmp_path):
    """Delete half the output -> re-run processes exactly the missing half."""
    pages = pages_df(spark, 100, 4)
    cfg = PipelineConfig(run_id="r1")
    extracted, _ = run_extraction(spark, pages, cfg)
    half = extracted.where(F.hash("url") % 2 == 0).persist()
    n_half = half.count()
    ext2, _ = run_extraction(spark, pages, PipelineConfig(run_id="r2"), done=half)
    assert ext2.count() == 100 - n_half
    # no overlap between the kept half and the reprocessed rest
    assert ext2.join(half, "url", "inner").count() == 0
    half.unpersist()


def test_lineage_rollup(spark, tmp_path):
    pages = pages_df(spark, 200, 4)
    extracted, lineage = run_extraction(spark, pages, PipelineConfig(run_id="rl"))
    rows = lineage.collect()
    assert sum(r.doc_count for r in rows) == 200
    assert all(r.wall_time_s > 0 for r in rows)
    assert all(r.run_id == "rl" for r in rows)
    assert len({r.partition_id for r in rows}) == len(rows)
    # bytes roll up to the total html payload size
    total_bytes = sum(r.bytes for r in rows)
    assert total_bytes > 0


def test_warc_bucket_partitioning(spark, tmp_path):
    pages = pages_df(spark, 50, 2)
    extracted, _ = run_extraction(spark, pages, PipelineConfig(run_id="rb"))
    out = str(tmp_path / "bucketed")
    pio.write_extracted(extracted, out)
    dirs = [p.name for p in pathlib.Path(out).iterdir() if p.is_dir()]
    assert any(d.startswith("warc_bucket=") for d in dirs)
    back = pio.read_table(spark, out)
    assert back.count() == 50


def test_compaction_preserves_rows(spark, tmp_path):
    """Many small appends -> compact -> same rows, fewer files."""
    out = str(tmp_path / "frag")
    lin = str(tmp_path / "frag_lin")
    for i in range(3):  # three appends fragment the table
        run_and_write(spark, pages_df(spark, 40, 4).where(
            F.col("url").isNotNull()), out, lin,
            PipelineConfig(run_id=f"c{i}"),
            done=pio.read_table(spark, out) if i else None)
    before_files = len(list(pathlib.Path(out).rglob("*.parquet")))
    before_rows = pio.read_table(spark, out).count()
    stats = pio.compact_table(spark, out, target_file_mb=256)
    after = pio.read_table(spark, out)
    assert after.count() == before_rows
    after_files = len(list(pathlib.Path(out).rglob("*.parquet")))
    assert after_files <= before_files
    assert after_files <= stats["target_files"] * 64  # bounded by buckets


def test_config_fingerprint_invalidates_resume(spark, tmp_path):
    """A changed extraction config must reprocess everything even when urls
    match — the analog of the reference's cache_version bump
    (parallel.py:95-96, cli.py:393-397)."""
    from paraocr_spark.operators.resume import filter_unprocessed

    pages = pages_df(spark, 60, 4)
    cfg_a = PipelineConfig(run_id="a", extra={"v": 1})
    cfg_b = PipelineConfig(run_id="b", extra={"v": 2})
    assert cfg_a.fingerprint != cfg_b.fingerprint
    ext_a, _ = run_extraction(spark, pages, cfg_a)
    done = ext_a.select("url", "config_fp")
    # same config: all skipped
    assert filter_unprocessed(pages, done, cfg_a.fingerprint).count() == 0
    # changed config: nothing skipped
    assert filter_unprocessed(pages, done, cfg_b.fingerprint).count() == 60


def test_lineage_scoped_to_invocation(spark, tmp_path):
    """A resume that REUSES the same run_id must not roll prior appends'
    rows into the new invocation's lineage (double-count bug class), and
    a reader of one run's output rows must partition-prune on run_id."""
    out = str(tmp_path / "inv_out")
    lin = str(tmp_path / "inv_lin")
    m1 = run_and_write(spark, pages_df(spark, 80, 4), out, lin,
                       PipelineConfig(run_id="same"))
    assert m1["rows"] == 80
    done = pio.read_table(spark, out)
    m2 = run_and_write(spark, pages_df(spark, 120, 4), out, lin,
                       PipelineConfig(run_id="same"), done)
    assert m2["rows"] == 40  # only the 40 new docs, not 80 + 40
    lineage = spark.read.parquet(lin)
    per_inv = {
        r.invocation_id: r.total for r in
        lineage.groupBy("invocation_id").agg(
            F.sum("doc_count").alias("total")).collect()
    }
    assert per_inv[m1["invocation_id"]] == 80
    assert per_inv[m2["invocation_id"]] == 40
    # run_id is a physical partition directory -> a reader's run_id
    # predicate prunes instead of scanning every run's appends
    import pathlib as _pl
    dirs = [p.name for p in _pl.Path(out).iterdir() if p.is_dir()]
    assert any(d == "run_id=same" for d in dirs), dirs
    import contextlib, io as _io
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        pio.read_table(spark, out).where(F.col("run_id") == "same").explain()
    assert "run_id" in buf.getvalue() and "PartitionFilters" in buf.getvalue()


@pytest.mark.parametrize("route", ["plain", "shard_cache"])
def test_lineage_rows_equal_rollup_of_written_rows(spark, tmp_path, route):
    """One lineage path: on both routes the lineage rows of an invocation
    equal lineage_rollup over the rows it wrote, partition for partition —
    normal docs charged to their kernel task, a giant once to its merged
    row's _pid. On the cache route one giant's shards are reused from the
    cache and the other's are extracted fresh."""
    import math

    from paraocr_spark.operators.lineage import lineage_rollup

    pages = pages_df(spark, 200, 4)  # giants at ids 9 and 169
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    cfg = PipelineConfig(run_id="ln")
    if route == "shard_cache":
        cfg = PipelineConfig(run_id="ln",
                             shard_cache_path=str(tmp_path / "cache"))
        run_and_write(spark, pages.where(F.col("url").endswith("/9")),
                      str(tmp_path / "warm"), str(tmp_path / "warm_lin"), cfg)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")  # a giant's shards land in several tasks
    try:
        m = run_and_write(spark, pages, out, lin, cfg)
    finally:
        spark.conf.set(key, prev)
    assert m["rows"] == 200

    inv = F.col("invocation_id") == m["invocation_id"]
    written = pio.read_table(spark, out).where(inv)
    exp = {r.partition_id: r for r in
           lineage_rollup(written, "ln", cfg.fingerprint).collect()}
    got = {r.partition_id: r for r in
           spark.read.parquet(lin).where(inv).collect()}
    assert sorted(got) == sorted(exp)
    for pid, e in exp.items():
        g = got[pid]
        assert (g.doc_count, g.bytes) == (e.doc_count, e.bytes), pid
        assert math.isclose(g.wall_time_s, e.wall_time_s), pid


def test_write_extracted_rejects_mixed_partition_layout(spark, tmp_path):
    """ADVICE r2: appending a (run_id, warc_bucket) layout onto a table
    written with warc_bucket-only partitions breaks partition discovery for
    all subsequent reads — the writer must refuse with a clear error."""
    import pytest

    from paraocr_spark.sources.pages import pages_df
    from paraocr_spark.sources import io as pio

    path = str(tmp_path / "extracted_legacy")
    old = pages_df(spark, 8, 2).select("url", "warc_ts", "lang")
    pio.write_extracted(old, path, n_buckets=2)  # no run_id column: old layout
    new = old.withColumn("run_id", F.lit("r1"))
    with pytest.raises(ValueError, match="partition layout mismatch"):
        pio.write_extracted(new, path, n_buckets=2)
    # same layout appends stay allowed
    pio.write_extracted(old, path, n_buckets=2)


def test_write_extracted_scopes_sortfree_write_confs(spark, tmp_path, monkeypatch):
    """The bucketed write must run with the planned partition-sort OFF (the
    sort moved the full output through an UnsafeExternalSorter — 312 CPU-s
    at 1.15M docs / 4 executors) and concurrent writers ON, because each
    rebalanced task holds several whole buckets (about n_buckets /
    parallelism) and writes them through one open writer each — and must
    RESTORE both confs afterwards, success or failure, so unbucketed
    writers elsewhere keep the planned sort."""
    from pyspark.sql.readwriter import DataFrameWriter

    from paraocr_spark.sources.pages import pages_df
    from paraocr_spark.sources import io as pio

    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.optimizer.plannedWrite.enabled",
                  "spark.sql.maxConcurrentOutputFileWriters")
    }
    seen = {}
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, **kw):
        seen["planned"] = spark.conf.get("spark.sql.optimizer.plannedWrite.enabled")
        seen["writers"] = spark.conf.get("spark.sql.maxConcurrentOutputFileWriters")
        return real_parquet(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    df = pages_df(spark, 8, 2).select("url", "warc_ts", "lang")
    pio.write_extracted(df, str(tmp_path / "t"), n_buckets=2)
    assert seen == {"planned": "false", "writers": "32"}
    after = {k: spark.conf.get(k) for k in before}
    assert after == before

    # restore also on write failure (schema broken mid-write via a spy that
    # raises): confs must not leak
    def boom(self, path, **kw):
        raise RuntimeError("synthetic write failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    import pytest

    with pytest.raises(RuntimeError, match="synthetic write failure"):
        pio.write_extracted(df, str(tmp_path / "t2"), n_buckets=2)
    assert {k: spark.conf.get(k) for k in before} == before


def _write_plan(spark, path: str) -> str:
    """Executed physical plan of the last SQL execution that wrote ``path``
    (Spark's own SQL status store, filled by the listener bus)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        plan = execs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan and path in plan:
            return plan
    raise AssertionError(f"no write of {path} in the SQL status store")


def test_bucketed_write_plan_and_layout(spark, tmp_path):
    """The bucketed write shuffles by rebalance, never by a fixed-count
    repartition: AQE sizes its tasks by bytes, yet every bucket still lands
    in exactly one file, every row in the bucket with_warc_bucket computes
    for it, and every url exactly once."""
    import re

    n, n_buckets = 400, 8
    out = str(tmp_path / "layout")
    df = (pages_df(spark, n, 4).select("url", "warc_ts", "lang")
          .withColumn("run_id", F.lit("rp")))
    pio.write_extracted(df, out, n_buckets=n_buckets)

    plan = _write_plan(spark, out)
    assert re.search(r"hashpartitioning\(warc_bucket#\d+, \d+\), "
                     r"REBALANCE_PARTITIONS_BY_COL", plan), plan
    assert not re.search(r"hashpartitioning\(warc_bucket#\d+, 8\), "
                         r"REPARTITION_BY_NUM", plan), plan

    bucket_dirs = list(pathlib.Path(out, "run_id=rp").glob("warc_bucket=*"))
    assert bucket_dirs
    for d in bucket_dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d

    back = pio.read_table(spark, out)
    misplaced = pio.with_warc_bucket(
        back.withColumnRenamed("warc_bucket", "written"), n_buckets
    ).where(F.col("written") != F.col("warc_bucket"))
    assert misplaced.count() == 0
    assert back.count() == n
    assert back.select("url").distinct().count() == n


def test_split_bucket_overwrite_replay_is_idempotent(spark, tmp_path):
    """A hot bucket that AQE splits over several tasks (several files in
    one partition directory) must still be replaced WHOLE by a dynamic
    partition overwrite: replaying the same micro-batch leaves every url
    exactly once."""
    n = 400
    out = str(tmp_path / "replay")
    hot_ts = F.lit("2020-01-01 00:00:00").cast("timestamp")
    batch = (
        pages_df(spark, n, 4)
        # 60% of the rows share one warc_ts, so they share one bucket
        .withColumn("warc_ts", F.when(F.substring("url", -1, 1) < "6", hot_ts)
                    .otherwise(F.col("warc_ts")))
        .withColumn("run_id", F.lit("stream-b0"))
    )
    hot_bucket = pio.with_warc_bucket(
        spark.range(1).select(hot_ts.alias("warc_ts")), 8
    ).first()["warc_bucket"]
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "1k")  # every map block of the hot bucket splits off
    try:
        pio.write_extracted(batch, out, mode="overwrite", n_buckets=8)
        hot_dir = pathlib.Path(out, "run_id=stream-b0",
                               f"warc_bucket={hot_bucket}")
        assert len(list(hot_dir.glob("*.parquet"))) > 1
        pio.write_extracted(batch, out, mode="overwrite", n_buckets=8)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    back = pio.read_table(spark, out)
    assert back.count() == n
    assert back.select("url").distinct().count() == n


def test_zip_source_expands_archives_and_extracts(spark, tmp_path):
    """S10 (reference webui.py:70-118): ZIP archives expand to pages rows —
    one row per entry with stable archive!entry urls and the entry's zip
    timestamp — and the rows extract byte-identically to running the
    reference extractor on the raw entry bytes. A corrupt archive becomes
    ONE in-band error row, never a scan failure."""
    import zipfile
    from datetime import datetime

    from paraocr_spark.core import reference as ref
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.io import read_pages_zip
    from paraocr_spark.sources.pages import gen_page

    payloads = {}
    zdir = tmp_path / "zips"
    zdir.mkdir()
    for z in range(2):
        with zipfile.ZipFile(zdir / f"crawl{z}.zip", "w") as zf:
            zf.writestr("docs/", "")  # dir entry: must be skipped
            for j in range(3):
                page = gen_page(z * 50 + j)
                name = f"docs/page{j}.bin"
                info = zipfile.ZipInfo(name, date_time=(2021, 3, 4, 5, 6, 2 * j))
                zf.writestr(info, page["html"] or page["text"].encode())
                payloads[(f"crawl{z}.zip", name)] = page
    (zdir / "broken.zip").write_bytes(b"PK\x03\x04 not a real zip")

    pages = read_pages_zip(spark, str(zdir)).cache()
    rows = pages.collect()
    assert len(rows) == 7  # 2 archives x 3 entries + 1 corrupt-archive row
    by_url = {r["url"]: r for r in rows}
    for (archive, name), page in payloads.items():
        url = next(u for u in by_url if u.endswith(f"{archive}!{name}"))
        r = by_url[url]
        assert bytes(r["html"]) == (page["html"] or page["text"].encode())
        assert r["warc_ts"] == datetime(2021, 3, 4, 5, 6, 2 * int(name[-5]))
    corrupt = [r for r in rows if "!" not in r["url"]]
    assert len(corrupt) == 1 and corrupt[0]["url"].endswith("broken.zip")

    ext = {r["url"]: r for r in extract_pages(pages).collect()}
    for url, r in by_url.items():
        exp = ref.extract_document(bytes(r["html"]), None)
        assert (ext[url]["extracted_text"], ext[url]["method"],
                ext[url]["error"]) == (exp.extracted_text, exp.method,
                                       exp.error), url
    pages.unpersist()


def test_jsonl_source_roundtrip_and_extraction(spark, tmp_path):
    """S1 alternate format: JSONL (base64 html) -> pages schema -> the same
    extraction results as the parquet source, byte-identical."""
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_df

    pages = pages_df(spark, 60, 2)
    path = str(tmp_path / "pages_jsonl")
    pio.write_pages_jsonl(pages, path)
    back = pio.read_pages_jsonl(spark, path)
    assert back.schema.simpleString() == pages.schema.simpleString()

    def result_map(df):
        return {
            r.url: (r.extracted_text, r.method, r.error)
            for r in df.select("url", "extracted_text", "method", "error").collect()
        }

    assert result_map(extract_pages(back)) == result_map(extract_pages(pages))


def test_jsonl_roundtrip_preserves_microseconds(spark, tmp_path):
    """ADVICE r3: Spark's default JSON timestampFormat truncates to ms —
    the explicit microsecond format on writer AND reader must roundtrip
    sub-ms warc_ts exactly (and still parse ms-only external dumps)."""
    import datetime as dt
    import json

    ts = dt.datetime(2025, 3, 1, 12, 30, 45, 123456)
    pages = spark.createDataFrame(
        [("u1", ts, b"<p>hello world</p>", None, "en")],
        schema=pages_df(spark, 1, 1).schema,
    )
    path = str(tmp_path / "micro_jsonl")
    pio.write_pages_jsonl(pages, path)
    back = pio.read_pages_jsonl(spark, path).collect()[0]
    assert back.warc_ts.microsecond == 123456
    assert back.warc_ts.replace(tzinfo=None) == ts

    # ms-only dumps (the old writer format / external interchange) parse too
    ext = tmp_path / "ms_jsonl"
    ext.mkdir()
    (ext / "part.json").write_text(json.dumps({
        "url": "u2", "warc_ts": "2025-03-01T12:30:45.123",
        "html_b64": "", "text": "t", "lang": "en",
    }) + "\n")
    row = pio.read_pages_jsonl(spark, str(ext)).collect()[0]
    assert row.warc_ts.replace(tzinfo=None) == dt.datetime(2025, 3, 1, 12, 30, 45, 123000)


def test_iceberg_write_read_when_runtime_present(spark, tmp_path):
    """Exercises the write_extracted Iceberg branch (catalog-name target ->
    writeTo().append()) against a local hadoop catalog.

    SKIPPED in this sandbox: the iceberg-spark-runtime jar is not baked in
    and cannot be vendored offline, so the branch is UNVERIFIED here (see
    README "Optional dependencies"). On a cluster with the jar this test
    runs for real: sessions pick up the catalog conf below, the write goes
    through Iceberg's snapshot commit, and the read-back sees the rows.
    """
    from paraocr_spark.sources import io as pio

    if not pio._iceberg_available(spark):
        import pytest

        pytest.skip("iceberg-spark-runtime jar not on the classpath")

    wh = str(tmp_path / "warehouse")
    spark.conf.set("spark.sql.catalog.it", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.it.type", "hadoop")
    spark.conf.set("spark.sql.catalog.it.warehouse", wh)
    spark.sql("create database if not exists it.db")
    df = spark.createDataFrame(
        [("u1", "t1"), ("u2", "t2")], schema="url string, extracted_text string"
    ).withColumn("warc_ts", F.current_timestamp())
    spark.sql(
        "create table if not exists it.db.extracted "
        "(url string, extracted_text string, warc_ts timestamp) using iceberg"
    )
    pio.write_extracted(df, "it.db.extracted")
    assert spark.table("it.db.extracted").count() == 2
