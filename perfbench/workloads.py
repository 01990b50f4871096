"""Workload definitions, the seeded operation order, and the process
environment every benchmark run uses."""

from __future__ import annotations

import os
import random
from pathlib import Path

SF = 0.1
DRIVER_MEM = "2g"
# Byte copies of the repo's read-only test tables (TESTDATA.md, seed 42), so
# a run reads only files inside its checkout.
DATA = Path(__file__).resolve().parent / "data"

# Short relational queries: plan construction, the parquet scan and the
# per-job scheduling floor dominate; no Python workers, little shuffle.
OLAP_INTERACTIVE = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10",
    "agg_stats", "grouping_cube", "win_ranking", "topk",
    "ev_tumbling", "ev_session", "dedup_exact", "sort_multicol",
)
# CPU-heavy pipeline keys: shuffle, aggregation, iterative multi-job plans
# and the Python-worker boundary dominate.  dedup_minhash_lsh (12 s first
# run), sortbench_merge (a 1M-row output to verify) and text_containment
# (dedup_jaccard's shingle-join shape) are left out to fit the run budget.
LLM_BATCH = (
    "dedup_jaccard", "text_bpe_apply", "sim_topk_pq_trained", "docs_tfidf_cosine",
    "graph_pagerank", "ev_ewma", "mm_phash_pairs",
)
WORKLOADS = {"olap_interactive": OLAP_INTERACTIVE, "llm_batch": LLM_BATCH}
# Typical wall seconds of one warm pass, local[4] at sf0.1.  A run times a
# fixed number of whole passes sized from --seconds with these, so every
# run of a workload times the same operations whatever the host's speed
# (a timed stop would give a faster commit more, and warmer, samples).
PASS_SECONDS = {"olap_interactive": 6.2, "llm_batch": 14.7}

# Untimed passes after the verify pass.  On olap_interactive the first pass
# after it still ran 10-60% slower per key (the JIT is still compiling the
# hot paths); llm_batch's seconds-long operations hardly move.
WARMUP_PASSES = {"olap_interactive": 1, "llm_batch": 0}


def sf_dir(sf: float) -> Path:
    return DATA / f"sf{sf:g}"


def pass_count(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_SECONDS[workload]))


def passes(keys: tuple[str, ...], seed: int):
    """Endless passes over ``keys``, each in its own seeded shuffle: the
    seed changes the order, never the mix."""
    rng = random.Random(seed)
    while True:
        p = list(keys)
        rng.shuffle(p)
        yield p


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def bench_env(run_tmp: Path) -> dict[str, str]:
    """Point every temp path of the run (Python ``tempfile``, the JVM's
    ``java.io.tmpdir``, Spark's local dirs) into ``run_tmp`` and pin the
    session size.  The heap is committed at its full size from the start
    (-Xms = -Xmx): with G1 growing it on demand, the JVM's peak resident
    memory varied by 20% between runs of the same code.  Must run before
    the JVM starts."""
    local = run_tmp / "spark-local"
    local.mkdir(parents=True, exist_ok=True)
    env = {
        "TMPDIR": str(run_tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={run_tmp} -XX:-UsePerfData -Xms{DRIVER_MEM}",
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env
