"""Timing one workload's job: repeats, CPU, memory, output bytes."""

from __future__ import annotations

import contextlib
import statistics
import sys
import time
import traceback

from perfbench import procfs

#: repeats stop at this count even if --seconds has not elapsed
MAX_REPS = 50
#: repeats go on past --seconds up to this count: the first repeat after
#: the warm-up is the slowest of a run (the JVM is still compiling), and
#: a median over three or more leaves it out
MIN_REPS = 3


def one_rep(wl, i, tracer=None) -> dict:
    """Set up and time one repeat of the workload's job; the output stays
    until ``wl.finish_rep()``. ``tracer`` wraps the job in a "job" span."""
    t = time.perf_counter()
    wl.prepare_rep(i)
    # a full GC lets the heap shrink back, so the repeat's peak memory is
    # its own rather than whatever earlier repeats left committed
    wl.spark.sparkContext._jvm.System.gc()
    rep_setup = time.perf_counter() - t
    cpu0 = procfs.tree_cpu_s()
    with procfs.PeakRss() as rss, (tracer.span("job") if tracer
                                   else contextlib.nullcontext()):
        t = time.perf_counter()
        info = wl.job()
        wall = time.perf_counter() - t
    cpu = procfs.tree_cpu_s() - cpu0
    print(f"perfbench: {wl.name} repeat {i} {wall:.3f} s {cpu:.2f} cpu-s",
          file=sys.stderr)
    return {"wall_s": wall, "cpu_s": cpu, "rss": rss.peak_bytes,
            "out_bytes": wl.out_bytes() - wl.bytes_before,
            "setup_s": rep_setup, "info": info}


def measure_reps(wl, seconds: float) -> tuple[list[dict], int, int]:
    """Repeat the timed job for ``seconds`` (at least MIN_REPS times).
    Returns the per-repeat samples, docs attempted and docs failed."""
    reps, attempted, failed = [], 0, 0
    deadline = time.perf_counter() + seconds
    while len(reps) < MAX_REPS:
        attempted += wl.n_docs
        try:
            reps.append(one_rep(wl, len(reps)))
        except Exception:  # the job raised: all of its docs failed
            traceback.print_exc()
            failed += wl.n_docs
            break
        failed += wl.check()
        wl.finish_rep()
        if len(reps) >= MIN_REPS and time.perf_counter() >= deadline:
            break
    return reps, attempted, failed


def end_to_end(reps: list[dict], n_docs: int, setup_s: float) -> dict:
    med = statistics.median
    return {
        "docs_per_s": (med(n_docs / r["wall_s"] for r in reps), "1/s"),
        "cpu_s_per_kdoc": (med(1000 * r["cpu_s"] / n_docs for r in reps), "s"),
        "out_bytes_per_doc": (med(r["out_bytes"] / n_docs for r in reps),
                              "bytes"),
        "peak_rss_mb": (med(r["rss"] / 2**20 for r in reps), "MB"),
        "setup_s": (setup_s + med(r["setup_s"] for r in reps), "s"),
    }


