"""Source readers beyond parquet: CSV, JSON-lines, and Arrow handoff.

The reference reads exactly one format (parquet via pyarrow/DuckDB);
its S9 operator is the zero-copy Arrow→engine handoff
(query_enginev5.py:293-300). Spark-side equivalents:

- CSV/JSONL with EXPLICIT schemas (never inference in production —
  inference is a full extra pass at 100 TB and can mistype columns),
- ``from_arrow``: Arrow table → DataFrame (the S9 handoff; Arrow-
  enabled createDataFrame),
- ``to_arrow``: DataFrame → Arrow table for library interop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    header: bool = True,
    **options,
) -> DataFrame:
    """Schema'd CSV scan (predicate pushdown limited by format — CSV
    has no zone maps; write it out with ``MicroBlockWriter`` for
    scan-heavy use)."""
    return (
        spark.read.options(header=header, **options)
        .schema(schema)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str, **options
) -> DataFrame:
    """Schema'd JSON-lines scan."""
    return spark.read.options(**options).schema(schema).json(path)


def from_arrow(spark: SparkSession, table) -> DataFrame:
    """Arrow table → DataFrame (reference S9 handoff,
    query_enginev5.py:293-300). Spark 4's createDataFrame takes the
    pyarrow Table directly — no pandas detour, no dtype drift (nullable
    ints stay ints), true to the reference's zero-copy spirit."""
    return spark.createDataFrame(table)


def to_arrow(df: DataFrame):
    """DataFrame → pyarrow Table (driver-side; bounded results only).
    Spark 4's native toArrow() — Arrow batches off the JVM without a
    pandas intermediary."""
    return df.toArrow()

