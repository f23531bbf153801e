"""paraocr_spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload extract_fresh --seed 1 \\
        --seconds 8 --trace 0

Run from the root of a checkout; everything it writes stays under
``.perfbench_work/`` (removed on exit) and ``.perfbench_out/`` (traces).
With ``--trace 0`` the last stdout line holds the end-to-end metrics, with
``--trace 1`` the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, session, trace  # noqa: E402
from perfbench.measure import end_to_end, measure_reps  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def run(args, work: str) -> dict:
    session.confine(work)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = session.start(work, event_dir)
    try:
        session.ship(spark, ROOT, work)
        tracer = trace.Tracer(spark.sparkContext, bool(args.trace))
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup(tracer)
        setup_s = time.perf_counter() - _T_START
        if args.trace:
            result = layers.traced_run(spark, wl, tracer, args.seconds)
        else:
            reps, attempted, failed = measure_reps(wl, args.seconds)
            result = {"attempted": attempted, "failed": failed,
                      "metrics": end_to_end(reps, wl.n_docs, setup_s)
                      if reps else {}}
    finally:
        session.stop(spark)
    if args.trace:
        result = layers.finish(result, event_dir, tracer, args, ROOT)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import paraocr_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {k: {"value": v, "unit": u}
               for k, (v, u) in sorted(result["metrics"].items())}
    frac = result["failed"] / max(1, result["attempted"])
    for k, m in metrics.items():
        print(f"{args.workload:15s} {k:34s} {m['value']:.6g} {m['unit']}")
    print(f"{args.workload:15s} {'docs_failed_frac':34s} {frac:.6g} ratio")
    print(json.dumps({
        "correct": result["failed"] == 0 and bool(metrics),
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
