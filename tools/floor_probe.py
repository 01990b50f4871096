"""One-off exhibit for the scheduling-floor claim (VERDICT r6 ask #7):
time the worst-ratio SUB-SECOND headline keys at sf0.001 / sf0.01 / sf0.1
in one exclusive window.  If their wall time is ~flat while the data grows
100x, the high engine-vs-oracle ratios on these keys are Spark's constant
per-job scheduling floor (~0.15-0.3 s: task scheduling, codegen cache
lookups, noop-sink commit), not a plan defect — the floor amortizes to
irrelevance at cluster scale while DuckDB's sub-10 ms in-process starts
don't pay it at all.

Usage: python tools/floor_probe.py   (prints a markdown table for
BENCH_NOTES.md; run exclusively — no concurrent Spark/pytest)."""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from bench import force  # noqa: E402
from experiments_datafusion_spark.queries import all_queries  # noqa: E402
from experiments_datafusion_spark.session import get_spark  # noqa: E402

# The >4x sub-second entries the round-6 VERDICT called floor artifacts.
# Round 13: keys may also be given on the command line (the six
# unattributed >=8x headline keys from the r12 verdict get their probe
# the same way).
KEYS = ("dedup_exact", "tpch_q6", "topk", "ev_tumbling", "agg_stats")
SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


def main() -> None:
    keys = tuple(sys.argv[1:]) or KEYS
    spark = get_spark("floor-probe")
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()
    # warmup every (key, sf) once: codegen + IO cache
    for k in keys:
        for sf in SF_DIRS:
            force(reg[k].fn(spark, sf))
    print("| key | sf0.001 s | sf0.01 s | sf0.1 s | 100x data -> time x |")
    print("|---|---|---|---|---|")
    for k in keys:
        t = {}
        for sf in SF_DIRS:
            best = min(
                (lambda t0=time.perf_counter(): (force(reg[k].fn(spark, sf)), time.perf_counter() - t0)[1])()
                for _ in range(2)
            )
            t[sf] = best
        ratio = t[SF_DIRS[2]] / max(t[SF_DIRS[0]], 1e-9)
        print(
            f"| {k} | {t[SF_DIRS[0]]:.3f} | {t[SF_DIRS[1]]:.3f} "
            f"| {t[SF_DIRS[2]]:.3f} | {ratio:.2f}x |"
        )


if __name__ == "__main__":
    main()
