"""Plan checks that only the suites use: the ReadSchema of each scan
(column pruning) and the broadcast hints that survive analysis."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from columnar_database_project_spark.plans.verify import formatted_plan


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan (column-pruning check)."""
    plan = formatted_plan(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema:\s*(\S+)", plan)]


def forced_broadcast_hints(df: DataFrame) -> int:
    """How many explicit broadcast hints (``F.broadcast``/``/*+ BROADCAST */``)
    survive analysis in this plan.

    Spark honors an explicit hint REGARDLESS of the frame's actual size —
    AQE never demotes a hinted broadcast — so a hint on a
    corpus-proportional frame is an executor/driver OOM at 100 TB even
    when it is correct and fast at test scale. Policy (see
    DEPLOY.md §Broadcast-hint policy): hints are allowed only on frames
    bounded by construction — dimension tables, 1-row/fixed-row
    aggregates, bounded key spaces (e.g. a 2^16 signature space), or
    capacity-capped sketches. Anything that grows with the corpus
    (vocabulary tables, n-gram tables, candidate-pair sets, duplicate-id
    lists) must be left unhinted so AQE size-gates the join strategy at
    runtime. Counted from the analyzed logical plan, where every
    ``F.broadcast`` shows as a ``ResolvedHint``."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"ResolvedHint", plan))
