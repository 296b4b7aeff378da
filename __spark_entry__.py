"""Driver contract for the spark-graft builder (PySpark target).

``queries()``/``oracle_sql()`` are generated from the engine's typed query
registry (receiptanalyzerpipeline_spark.plans.registry) — one entry per
declared query of SURVEY.md §2.12 / §2.11, each paired with the ANSI-SQL
oracle DuckDB runs on the same parquet tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from receiptanalyzerpipeline_spark.plans import DRIVER_REGISTRY

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "q_j1_multijoin_revenue"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return DRIVER_REGISTRY[FLAGSHIP].spark(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented query/operator from SURVEY.md §2.

    The driver's correctness gate records at most 50 queries, so this is
    the consolidated DRIVER_REGISTRY (≤50 entries): the headline bench
    queries standalone (q_x30 via its portable-ML suite, q_x32 via the
    model-scoring suite) plus suite queries that fuse the remaining
    registry variants (plans/suites.py). Every entry has an oracle (zero
    rows-only checks). Every individual member of the full 120+-entry
    REGISTRY stays oracle-checked by the local replica of the gate
    (tests/test_oracle_queries.py; non-driver members run in its slow
    pass); bench.py times only the bench-flagged queries."""
    return {name: q.spark for name, q in sorted(DRIVER_REGISTRY.items())}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; omitted for non-SQL-expressible ops
    (driver then records a weaker rows-only check)."""
    return {
        name: q.oracle for name, q in sorted(DRIVER_REGISTRY.items()) if q.oracle is not None
    }
