"""Shard-level partial-result reuse for giant docs — the analog of the
reference's per-page txt cache resume (parallel.py:431-448)."""

import pytest
from pyspark.sql import functions as F

from paraocr_spark.operators.extract import extract_pages
from paraocr_spark.pipeline import PipelineConfig, run_and_write
from paraocr_spark.sources.pages import pages_df

N = 200  # includes giant layout docs at i=9 and i=169 (i%160==9)


def _result_map(df):
    return {
        r.url: (r.extracted_text, r.method, r.error,
                tuple((s["start"], s["end"]) for s in r.spans))
        for r in df.collect()
    }


@pytest.fixture()
def paths(tmp_path):
    return {k: str(tmp_path / k) for k in ("out1", "out2", "lin", "cache")}


def test_shard_cache_identical_results(spark, paths):
    pages = pages_df(spark, N, 4)
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    m = run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    assert m["rows"] == N
    got = _result_map(
        spark.read.parquet(paths["out1"]).select(
            "url", "extracted_text", "method", "error", "spans")
    )
    exp = _result_map(
        extract_pages(pages).select(
            "url", "extracted_text", "method", "error", "spans")
    )
    assert got == exp


def test_shard_cache_skips_finished_shards(spark, paths):
    """Populate the cache from a one-giant run; the full run must extract
    only the OTHER giant's shards (finished shards never pay the kernel
    again), and a same-config re-run appends nothing."""
    pages = pages_df(spark, N, 4)
    giant9 = pages.where(F.col("url").endswith("/9"))
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    run_and_write(spark, giant9, paths["out1"], paths["lin"], cfg)
    cache1 = spark.read.parquet(paths["cache"])
    shards_giant9 = cache1.count()
    assert shards_giant9 > 1, "giant must have been split into shards"

    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg)
    cache2 = spark.read.parquet(paths["cache"])
    # giant 9's shard rows were REUSED, not re-extracted: their count (and
    # first-run partition ids) are unchanged
    assert cache2.where(F.col("url").endswith("/9")).count() == shards_giant9
    # the only additions are the other giant's shards
    added = cache2.count() - shards_giant9
    n_169 = cache2.where(F.col("url").endswith("/169")).count()
    assert added == n_169 and n_169 > 1

    # same config re-run over the same pages: zero new cache rows
    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg,
                  done=spark.read.parquet(paths["out2"]))
    assert spark.read.parquet(paths["cache"]).count() == cache2.count()


def test_shard_cache_invalidated_by_config_change(spark, paths):
    """A different config_fp must NOT reuse cached shards (the reference's
    cache_version semantics)."""
    pages = pages_df(spark, N, 4).where(F.col("url").endswith("/9"))
    cfg_a = PipelineConfig(run_id="a", shard_cache_path=paths["cache"],
                           extra={"v": 1})
    cfg_b = PipelineConfig(run_id="b", shard_cache_path=paths["cache"],
                           extra={"v": 2})
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg_a)
    n_a = spark.read.parquet(paths["cache"]).count()
    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg_b)
    cache = spark.read.parquet(paths["cache"])
    assert cache.count() == 2 * n_a  # re-extracted under the new fp
    assert cache.select("config_fp").distinct().count() == 2


def test_fully_cached_resume_writes_nothing_and_gc_bounds_files(spark, paths):
    """VERDICT r2 #5: a fully-cached resume must not add a cache file, and
    gc_shard_cache drops stale config_fp generations + compacts, so K
    resumes/config-bumps leave a bounded file count."""
    import pathlib

    from paraocr_spark.pipeline import gc_shard_cache

    def cache_files():
        return sorted(
            str(p) for p in pathlib.Path(paths["cache"]).rglob("*.parquet")
        )

    pages = pages_df(spark, N, 4)
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    files1 = cache_files()
    assert files1, "first run must populate the cache"

    # resume with identical config: everything cached -> zero-row append
    done = spark.read.parquet(paths["out1"])
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg, done=done)
    assert cache_files() == files1, "fully-cached resume appended files"

    # a config bump writes a second generation; GC keeps only the live one
    cfg2 = PipelineConfig(run_id="sc2", shard_cache_path=paths["cache"],
                          extra={"v": 2})
    run_and_write(spark, pages, paths["out2"], paths["lin"], cfg2)
    both = spark.read.parquet(paths["cache"])
    assert both.select("config_fp").distinct().count() == 2
    stats = gc_shard_cache(spark, paths["cache"], cfg2.fingerprint)
    assert stats["files_after"] <= stats["files_before"]
    live = spark.read.parquet(paths["cache"])
    assert live.select("config_fp").distinct().count() == 1
    assert live.where(F.col("config_fp") == cfg2.fingerprint).count() == stats["rows_kept"]


def test_gc_crash_recovery_and_stale_dirs(spark, paths):
    """ADVICE r3: a gc_shard_cache that crashed between its two renames
    (cache gone, data stranded at __old) must be recovered — by the next gc
    AND by the next extraction — and stale __gc/__old dirs must not make a
    later gc fail or rename onto them."""
    import os
    import shutil

    from paraocr_spark.pipeline import gc_shard_cache

    pages = pages_df(spark, N, 4)
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    rows = spark.read.parquet(paths["cache"]).count()
    assert rows > 0

    # simulate the crash window: first rename done, second never ran
    backup, staging = paths["cache"] + "__old", paths["cache"] + "__gc"
    os.rename(paths["cache"], backup)
    os.makedirs(staging, exist_ok=True)  # plus a stale staging dir

    stats = gc_shard_cache(spark, paths["cache"], cfg.fingerprint)
    assert stats["rows_kept"] == rows, "backup not recovered"
    assert not os.path.exists(backup) and not os.path.exists(staging)
    assert spark.read.parquet(paths["cache"]).count() == rows

    # same crash state, recovered by extraction instead of gc: the resumed
    # run must see the cached shards (no re-extract) and produce full output
    os.rename(paths["cache"], backup)
    m = run_and_write(spark, pages, paths["out2"], paths["lin"], cfg)
    assert m["rows"] == N
    assert os.path.isdir(paths["cache"]) and not os.path.exists(backup)

    # stale dirs WITH a live cache (crash after swap, before cleanup):
    # gc must clear them, not fail or rename onto them
    os.makedirs(staging, exist_ok=True)
    shutil.copytree(paths["cache"], backup)
    stats = gc_shard_cache(spark, paths["cache"], cfg.fingerprint)
    assert stats["rows_kept"] == rows
    assert not os.path.exists(backup) and not os.path.exists(staging)


def _parquet_files(path):
    import pathlib

    return sorted(pathlib.Path(path).rglob("*.parquet"))


def test_runs_without_giants_leave_an_empty_cache(spark, paths):
    """Runs whose pages hold no giant append zero shard rows, which the
    config_fp= layout writes as no data file at all: the cache is then a
    directory without parquet files, and the next run must read it as
    empty. A later run with giants fills it; every url lands once."""
    import os

    pages = pages_df(spark, N, 4)
    no_giants = pages.where(~F.col("url").rlike("/(9|169)$"))
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    run_and_write(spark, pages_df(spark, 9, 2), paths["out1"], paths["lin"],
                  cfg)
    assert os.path.isdir(paths["cache"]) and not _parquet_files(paths["cache"])
    m2 = run_and_write(spark, no_giants, paths["out1"], paths["lin"], cfg,
                       done=spark.read.parquet(paths["out1"]))
    assert m2["rows"] == N - 2 - 9
    assert not _parquet_files(paths["cache"])

    m3 = run_and_write(spark, pages, paths["out1"], paths["lin"], cfg,
                       done=spark.read.parquet(paths["out1"]))
    assert m3["rows"] == 2
    assert _parquet_files(paths["cache"])
    out = spark.read.parquet(paths["out1"])
    assert out.count() == N
    assert out.select("url").distinct().count() == N


def test_unpartitioned_cache_refused_until_gc_rewrites_it(spark, paths):
    """A cache in the unpartitioned layout (data files at its root) would
    be silently dropped by partition discovery after the first config_fp=
    append, losing its giants from the output. The run must refuse it,
    naming gc_shard_cache; gc rewrites it into the config_fp= layout, and
    the resumed run then reuses its shards and returns every url once."""
    import os

    from paraocr_spark.operators.extract import extract_kernel
    from paraocr_spark.operators.skew import salt_pages
    from paraocr_spark.pipeline import gc_shard_cache

    pages = pages_df(spark, N, 4)
    cfg = PipelineConfig(run_id="sc", shard_cache_path=paths["cache"])
    (extract_kernel(salt_pages(pages.where(F.col("url").endswith("/9"))))
     .withColumn("config_fp", F.lit(cfg.fingerprint))
     .write.parquet(paths["cache"]))
    n9 = spark.read.parquet(paths["cache"]).count()
    assert n9 > 1

    with pytest.raises(ValueError, match="gc_shard_cache"):
        run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    assert not os.path.exists(paths["out1"])

    stats = gc_shard_cache(spark, paths["cache"], cfg.fingerprint)
    assert stats["rows_kept"] == n9
    assert all(f.parent.name == f"config_fp={cfg.fingerprint}"
               for f in _parquet_files(paths["cache"]))

    m = run_and_write(spark, pages, paths["out1"], paths["lin"], cfg)
    assert m["rows"] == N
    out = spark.read.parquet(paths["out1"])
    assert out.count() == N
    assert out.select("url").distinct().count() == N
    cache = spark.read.parquet(paths["cache"])
    assert cache.where(F.col("url").endswith("/9")).count() == n9
