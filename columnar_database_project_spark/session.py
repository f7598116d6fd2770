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


def input_bytes(sf_dir: str) -> int:
    """Total bytes of the parquet tables under ``sf_dir``."""
    total = 0
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                p = os.path.join(sf_dir, name)
                if os.path.isfile(p):
                    total += os.path.getsize(p)
    except OSError:
        pass
    return total


# Three size regimes, each boundary MEASURED, not guessed:
# - tiny (< TINY_INPUT_BYTES): latency-bound — per-stage scheduling +
#   AQE's per-shuffle re-optimization barrier (~10-40 ms each,
#   measured r5) dominate the data work, so fewer/larger knobs win
#   (8 partitions, AQE off).
# - mid (TINY..SMALL): the crossover band. A full-headline A/B on the
#   80 MB sf0.5 replica (r6) measured the mid config (32 partitions,
#   AQE on, 16 MB splits for scan parallelism) beating the tiny
#   config on 10 of 14 queries, total 11.8 s -> 10.2 s; q3's join was
#   the biggest win (1.93 -> 1.67), matching the forced-regime A/B.
# - large (>= SMALL_INPUT_BYTES): the standard at-scale config —
#   shuffle partitions track data volume, 128 MB splits. The 100 TB
#   story is this branch.
TINY_INPUT_BYTES = 64 * 1024 * 1024
SMALL_INPUT_BYTES = 256 * 1024 * 1024


def tune_for_scale(spark, sf_dir: str) -> dict[str, str]:
    """Set size-aware runtime confs for queries over ``sf_dir``.

    Mirrors what a resource estimator does on a real cluster: pick the
    shuffle-partition count, AQE mode, and scan split size from input
    volume (regime boundaries measured — see the constants above).
    Returns the conf dict it applied (for tests/logging).
    """
    b = input_bytes(sf_dir)
    if b and b < TINY_INPUT_BYTES:
        conf = {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        }
    elif b and b < SMALL_INPUT_BYTES:
        conf = {
            "spark.sql.shuffle.partitions": str(DEFAULT_CPUS),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        }
    else:
        parts = max(DEFAULT_CPUS, min(2000, b // (64 * 1024 * 1024) or DEFAULT_CPUS))
        # Split size must track CORES AVAILABLE, not just data volume
        # (r8 fix, measured): a flat 128 MB split put the 395 MB sf2.5
        # lineitem on 3-4 scan tasks of a 32-thread box — scan-bound
        # q6 ran 7.5 s vs 1.2 s with adequate splits (q5 17.9 s vs
        # ~2 s). Target ~3 tasks per core so every scan saturates the
        # executor pool, capped at 128 MB — at genuine cluster scale
        # (b ≫ cores × 384 MB) the cap engages and this IS the
        # standard 128 MB config; the floor keeps tiny-split overhead
        # bounded.
        split = min(
            128 * 1024 * 1024,
            max(16 * 1024 * 1024, b // (3 * DEFAULT_CPUS)),
        )
        conf = {
            "spark.sql.shuffle.partitions": str(parts),
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.files.maxPartitionBytes": str(split),
        }
    for k, v in conf.items():
        spark.conf.set(k, v)
    return conf
