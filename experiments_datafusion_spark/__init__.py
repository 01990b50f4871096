"""experiments_datafusion_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query & data-processing capability surface of
``jaylmiller/experiments-datafusion`` (reference at /root/reference/, a Rust
multi-column-sort micro-benchmark over DataFusion 19 — see SURVEY.md), built
Spark-first: logical plans are declared through the DataFrame / SQL API and
optimized by Catalyst; custom code exists only where Spark has no built-in
(as-of joins, MinHash/SimHash dedup, ANN search, text analysis).

Layout:
    session.py    SparkSession factory (AQE, Arrow, UTC, tuned shuffle)
    io.py         parquet table loaders / temp-view registration
    generators.py seed-deterministic rebuilds of the reference's 4 workloads
    operators/    sort, split, joins (as-of/salted), dedup, similarity, text
    queries/      the operator registry: name -> (spark fn, oracle SQL)
    streaming/    Structured Streaming pipelines over the events table
    plans/        explain/plan-audit helpers
"""

from experiments_datafusion_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
