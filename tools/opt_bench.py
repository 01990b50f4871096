"""Optimization-round measurement harness (round 13).

Runs ONLY the headline interleaved windows from bench.py (no refsort /
merge / analytics sweeps) so a before/after cycle takes minutes, and can
dump `.explain("formatted")` for any set of keys into plans/r13/.

Usage:
  python tools/opt_bench.py bench [out.json]       # headline windows only
  python tools/opt_bench.py plans <suffix> [keys]  # plans/r13/<key>_<suffix>.txt
  python tools/opt_bench.py time <key>... [--reps N]  # isolate keys: total,
      construct (building the DataFrame) and execute (forcing it) per rep
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import bench  # noqa: E402
from experiments_datafusion_spark.plans.audit import explain_str  # noqa: E402
from experiments_datafusion_spark.queries import all_queries  # noqa: E402
from experiments_datafusion_spark.session import get_spark  # noqa: E402

PLANS_DIR = REPO / "plans" / "r14"


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "bench"
    spark = get_spark("edfs-opt-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    if cmd == "bench":
        out = Path(sys.argv[2]) if len(sys.argv) > 2 else None
        results, record = bench.run_headline_windows(spark, registry)
        payload = {
            "queries": results,
            "headline_windows": {
                k: v for k, v in record.items() if k != "windows"
            },
            "sf_dir": bench.SF_DIR,
        }
        line = json.dumps(payload)
        if out:
            out.write_text(json.dumps({**payload, "windows": record["windows"]}, indent=1))
        print(line)
    elif cmd == "plans":
        suffix = sys.argv[2]
        keys = sys.argv[3:] or bench.HEADLINE
        PLANS_DIR.mkdir(parents=True, exist_ok=True)
        for name in keys:
            df = registry[name].fn(spark, bench.SF_DIR)
            txt = explain_str(df, "formatted")
            (PLANS_DIR / f"{name}_{suffix}.txt").write_text(txt)
            n_exchange = txt.count("Exchange")
            print(f"{name}: {len(txt.splitlines())} lines, {n_exchange} Exchange refs")
    elif cmd == "time":
        # explicit --reps flag (r13 advisor: an all-digit registry key
        # would have been silently consumed as the rep count)
        args = sys.argv[2:]
        reps = 5
        if "--reps" in args:
            i = args.index("--reps")
            reps = int(args[i + 1])
            args = args[:i] + args[i + 2:]
        names = args
        sc = spark.sparkContext
        for name in names:
            sc.setJobDescription(f"opt_bench warmup {name}")
            bench.force(registry[name].fn(spark, bench.SF_DIR))
            times, construct, execute = [], [], []
            jobs = stages = tasks = 0
            for i in range(reps):
                group = f"opt-{name}-{i}"
                sc.setJobGroup(group, name)
                t0 = time.perf_counter()
                df = registry[name].fn(spark, bench.SF_DIR)
                t1 = time.perf_counter()
                bench.force(df)
                t2 = time.perf_counter()
                times.append(round(t2 - t0, 4))
                construct.append(round(t1 - t0, 4))
                execute.append(round(t2 - t1, 4))
                if i == 0:
                    st = sc.statusTracker()
                    jids = st.getJobIdsForGroup(group)
                    jobs = len(jids)
                    sids = [
                        s
                        for j in jids
                        for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])
                    ]
                    stages = len(set(sids))
                    for s in set(sids):
                        info = st.getStageInfo(s)
                        if info:
                            tasks += info.numTasks
                sc.setJobGroup(f"opt-{name}-done", name)
            print(
                json.dumps(
                    {
                        "key": name,
                        "times": times,
                        "best": min(times),
                        "median": sorted(times)[len(times) // 2],
                        "construct": construct,
                        "execute": execute,
                        "construct_median": sorted(construct)[len(construct) // 2],
                        "execute_median": sorted(execute)[len(execute) // 2],
                        "jobs": jobs,
                        "stages": stages,
                        "tasks": tasks,
                    }
                ),
                flush=True,
            )
    else:
        raise SystemExit(f"unknown command {cmd}")


if __name__ == "__main__":
    main()
