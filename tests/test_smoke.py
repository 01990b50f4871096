"""Driver-contract smoke tests for __spark_entry__."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(df.schema.fields) > 0
    assert len(rows) > 0


def test_queries_oracle_keys_align():
    q = entrymod.queries()
    o = entrymod.oracle_sql()
    assert q, "queries() must not be empty"
    missing = set(o) - set(q)
    assert not missing, f"oracle_sql keys not in queries(): {missing}"


def test_driver_window_is_pinned():
    """The driver's CORRECTNESS pass verifies a 50-key prefix of queries().
    Two invariants, both WINDOW-RELATIVE so rotating the window between
    rounds cannot stale this test (hardcoded per-round snapshots broke in
    r2 and again in r6):
      1. the registry surfaces exactly _PRIORITY as its prefix — a module
         edit must not silently displace the driver window;
      2. a key runs without an oracle ONLY when the registry documents it
         in ROWS_ONLY_BY_DESIGN — dropping an oracle by accident (or adding
         an unoracled key without its property-test story) fails here."""
    from experiments_datafusion_spark.queries import (
        ROWS_ONLY_BY_DESIGN,
        _PRIORITY,
        all_queries,
    )

    keys = list(entrymod.queries())
    assert len(_PRIORITY) <= 50
    assert keys[: len(_PRIORITY)] == list(_PRIORITY)
    unoracled = {n for n, q in all_queries().items() if q.oracle is None}
    assert unoracled == ROWS_ONLY_BY_DESIGN, (
        unoracled ^ ROWS_ONLY_BY_DESIGN
    )


def test_table_sample_deterministic_and_bounded(spark, sf_dir):
    from experiments_datafusion_spark.queries import all_queries

    fn = all_queries()["table_sample"].fn
    n1 = fn(spark, sf_dir).count()
    n2 = fn(spark, sf_dir).count()
    total = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert n1 == n2  # seeded sample is reproducible
    assert 0.05 * total < n1 < 0.15 * total  # ~10% Bernoulli


# The round-4 anchor composition, pinned as a LITERAL (round-7 advisor:
# asserting R4_COMPARABLE == HEADLINE[:29] was tautological because that is
# its definition — inserting a key into the first 29 HEADLINE slots would
# silently change the "fixed forever" cross-round anchor).  Any edit to
# this list is an explicit decision to break r4..r7 comparability.
_R4_ANCHOR = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10",
    "sort_multicol", "topk", "agg_stats", "grouping_cube", "win_ranking",
    "ev_tumbling", "ev_session", "dedup_exact", "dedup_jaccard",
    "dedup_minhash_lsh", "dedup_embedding_lsh", "sim_topk_bruteforce",
    "sim_topk_pq", "text_quality", "text_dup_spans", "graph_pagerank",
    "docs_winnowing", "scd2_snapshot", "interval_coverage",
    "search_rrf_fusion", "freq_token_pairs", "ev_ewma",
    "sim_topk_pq_trained", "docs_tfidf_cosine",
)


def test_bench_headline_keys_valid():
    """bench.py's key lists must stay consistent with the registry: every
    headline key exists, the oracle-exclusion list only names ORACLED
    headline keys (excluding a rows-only key would be a no-op typo), the
    r4-comparable anchor matches the PINNED literal composition above (the
    cross-round comparability contract), and no anchor key is
    oracle-excluded (an excluded key is never DuckDB-timed, so it would
    KeyError the anchor subtotal — VERDICT r7 defect #2)."""
    from bench import BENCH_ORACLE_EXCLUDE, HEADLINE, R4_COMPARABLE
    from experiments_datafusion_spark.queries import all_queries

    q = all_queries()
    missing = [k for k in HEADLINE if k not in q]
    assert not missing, missing
    assert set(BENCH_ORACLE_EXCLUDE) <= set(HEADLINE)
    for k in BENCH_ORACLE_EXCLUDE:
        assert q[k].oracle is not None, f"{k}: excluded but has no oracle anyway"
    assert tuple(R4_COMPARABLE) == _R4_ANCHOR
    assert not (set(BENCH_ORACLE_EXCLUDE) & set(R4_COMPARABLE))


def test_shipped_package_archive_lives_under_sparkfiles_root(spark):
    """The package archive ``addPyFile`` ships must sit under the context's
    SparkFiles root, which Spark deletes on ``stop()`` — an archive in a
    private temp dir elsewhere outlives every session that made one."""
    import os
    from urllib.parse import urlparse

    from pyspark import SparkFiles

    root = os.path.realpath(SparkFiles.getRootDirectory())
    shipped = [f for f in spark.sparkContext.listFiles if f.endswith("/edfs_pkg.zip")]
    assert shipped
    for uri in shipped:
        path = os.path.realpath(urlparse(uri).path)
        assert os.path.commonpath([root, path]) == root, (uri, root)
