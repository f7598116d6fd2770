"""SparkSession factory tuned for this engine.

Local-mode testing runs on local[N]; the config choices below are the
ones that matter at cluster scale too (AQE, Arrow, sane shuffle
partition count), so production reuses the same builder with a
different master.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS")
    or (len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count())
)


def _default_driver_mem() -> str:
    """A quarter of physical memory, clamped to 1..8 GiB."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, phys // (4 << 30)))}g"


def get_spark(
    app_name: str = "columnar_database_project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing + skew-join handling replace the
      reference's hand-tuned block selection at scale.
    - Parquet filter pushdown on (default, asserted): this is the
      Spark-native form of the reference's zone-map row-group pruning
      (reference query_enginev5.py:64-230).
    - Arrow on: fast toPandas()/pandas_udf boundary.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing stays at stock settings: parallelismFirst=true
        # (the default) keeps post-shuffle parallelism at cluster width,
        # which A/B-measured ~12% faster than size-first coalescing on
        # the window/agg set here (a 10 MB shuffle squeezed into one
        # 64 MB-advisory partition serializes its sort). On a multi-node
        # deployment with real per-task overhead, size-first coalescing
        # (parallelismFirst=false) is worth re-measuring — see DEPLOY.md.
        # 64 MB broadcast ceiling: still size-gated (a 2 TB customer
        # table at true 100 TB never qualifies), but lets AQE broadcast
        # the filtered side of fact-to-fact joins from runtime stats
        # instead of shuffling both sides. Matches executor memory
        # headroom on a 4-8 GB/core cluster profile.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Spark's default parquet timestamp encoding is legacy INT96,
        # which the parquet spec gives NO min/max statistics — every
        # timestamp column written by the engine would carry empty
        # zone-maps (footer stats None/None), silently disabling both
        # OUR block pruning and Spark's own row-group pruning on date
        # predicates. TIMESTAMP_MICROS is the modern standard (what
        # the testdata itself uses) and restores footer stats.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Inside the ``with`` body the session conf ``key`` is ``value``;
    after it the previous value is back, or the key is unset when it was
    unset. The conf is session-wide: work another thread runs in the
    same session meanwhile sees ``value`` too."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

