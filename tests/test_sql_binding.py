"""SQL-bodied keys bind their input DataFrames as ``spark.sql`` arguments,
never as fixed-name session temp views: building them leaves the catalog
as it was, and keys built concurrently on one session cannot read each
other's inputs."""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from experiments_datafusion_spark.queries import all_queries

# Every key whose construction reaches a spark.sql program with DataFrame
# arguments (directly or through an operator).
SQL_BOUND_KEYS = (
    "tpch_q3", "tpch_q5", "tpch_q10", "grouping_sets", "udf_python_udtf",
    "docs_tfidf_cosine", "search_rrf_fusion", "freq_token_pairs",
    "graph_pagerank", "mm_phash_pairs", "text_bpe_train", "text_bpe_apply",
    "sim_topk_bruteforce", "sim_topk_pq", "sim_topk_pq_trained",
    "dedup_jaccard", "dedup_jaccard_capped", "dedup_clusters",
    "dedup_near_canonical", "split_leakage_safe", "dedup_minhash_lsh",
    "text_containment", "text_containment_fast", "text_dup_spans",
    "text_dup_spans_fast",
)

# Keys that shared view names before (the two PQ tiers), plus two others.
CONCURRENT_KEYS = ("sim_topk_pq", "sim_topk_pq_trained", "tpch_q5", "dedup_jaccard")


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_building_sql_keys_leaves_catalog_unchanged(spark, sf_dir):
    reg = all_queries()
    before = _temp_views(spark)
    for key in SQL_BOUND_KEYS:
        reg[key].fn(spark, sf_dir)
    assert _temp_views(spark) == before


def test_concurrent_builds_match_sequential(spark, sf_dir):
    reg = all_queries()
    sequential = {k: _rows(reg[k].fn(spark, sf_dir)) for k in CONCURRENT_KEYS}
    start = threading.Barrier(len(CONCURRENT_KEYS), timeout=120)

    def build(key):
        start.wait()  # all constructions begin together
        return _rows(reg[key].fn(spark, sf_dir))

    with ThreadPoolExecutor(len(CONCURRENT_KEYS)) as pool:
        concurrent = dict(zip(CONCURRENT_KEYS, pool.map(build, CONCURRENT_KEYS)))
    assert concurrent == sequential
