"""Key-skew diagnostics (the ``x_skew_report`` extra) and their DuckDB
oracle, checked in tests/test_skew.py."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key: str, k: int = 10) -> DataFrame:
    """Key-skew diagnostics for choosing a shuffle strategy: the
    ``k`` heaviest values of ``key`` with their row counts and share
    of the table (key_value cast to string so the report schema is
    key-type-agnostic). A top key holding >1/shuffle-partitions of
    the rows is the signal to salt (window ops) or lean on AQE skew
    split (joins).

    One partial-aggregated groupBy + a TakeOrderedAndProject top-k —
    the total-count side is a scalar broadcast, nothing wide
    materializes. Deterministic tie-break on the key value."""
    total = df.count()
    counts = df.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count("*").alias("n_rows")
    )
    return (
        counts.orderBy(F.col("n_rows").desc(), F.col("key_value").asc())
        .limit(k)
        .select(
            "key_value",
            "n_rows",
            F.round(F.col("n_rows") / F.lit(total), 6).alias("share"),
        )
    )


SKEW_REPORT_ORACLE = """
SELECT {key}::VARCHAR AS key_value,
       count(*) AS n_rows,
       round(count(*) / (SELECT count(*) FROM {table}), 6) AS share
FROM {table}
GROUP BY key_value
ORDER BY n_rows DESC, key_value ASC
LIMIT {k}
"""
