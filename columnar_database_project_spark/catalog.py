"""Multi-table catalog over a directory of Parquet files.

The reference engine is single-table by construction (one Parquet file
registered as one DuckDB view, reference query_enginev5.py:30-39,
:55-58) — joins beyond self-joins are unreachable. We generalize to a
real catalog of temp views, which also fixes the reference's blind
``sql.replace(table_name, ...)`` rewrite bug (query_enginev5.py:302):
Spark resolves table names through the catalog, never via string
substitution.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_database_project_spark.session import scoped_conf

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_ts_columns(path: str) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS) (Spark reads
    them as raw long nanos under ``nanosAsLong`` — we convert back).
    INT96 columns also read as nanoseconds in pyarrow, but Spark reads
    them as timestamps itself, so the physical type tells them apart."""
    try:
        schema = _pq.read_metadata(path).schema
    except Exception:
        return []
    int96 = {
        schema.column(i).path
        for i in range(len(schema))
        if schema.column(i).physical_type == "INT96"
    }
    return [
        f.name
        for f in schema.to_arrow_schema()
        if str(f.type).startswith("timestamp[ns") and f.name not in int96
    ]


def micros_timestamps(table):
    """``table`` with every nanosecond timestamp column truncated (not
    rounded) to microseconds, matching the native path's integer
    ``DIV 1000``: Spark has no nanosecond timestamp."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            # int64 divide truncates; ts > 0 → floor
            us = pc.divide(pc.cast(table.column(i), pa.int64()), 1000)
            table = table.set_column(
                i, field.name, pc.cast(us, pa.timestamp("us", field.type.tz))
            )
    return table


# Per-session relation cache: a returned DataFrame is an immutable
# logical plan, so handing the same object to every caller is safe and
# mirrors the reference's register-once view catalog (DuckDB CREATE
# VIEW at connect time, reference query_enginev5.py:30-39) — without
# it every query pays a fresh parquet footer read + py4j roundtrip
# just to rebuild an identical scan relation. Keyed by session id so a
# restarted session never sees stale relations, and by a file
# freshness token (mtime+size) so a table REGENERATED at the same path
# mid-session (scale replicas, rebuilt test fixtures) is re-read
# instead of served from the stale cached plan.
_RELATION_CACHE: dict[tuple[int, str, tuple], DataFrame] = {}
_CACHE_SWEEP_LEN = 512


def file_freshness(path: str) -> tuple:
    """Cheap change-detection token for a parquet file or a directory
    of part files: (mtime_ns, size) per relevant file.

    ``<name>.parquet`` entries that are themselves DIRECTORIES (Spark
    writer output: part files inside) are walked one level down and
    contribute each part file's (mtime_ns, size) — a directory's own
    mtime does NOT change when an existing part file is overwritten in
    place, so stat'ing only the top level would let an out-of-band
    part rewrite serve stale cached plans/results."""
    try:
        if os.path.isdir(path):
            toks = []
            for name in sorted(os.listdir(path)):
                if not name.endswith(".parquet"):
                    continue
                sub = os.path.join(path, name)
                if os.path.isdir(sub):
                    for root, dirs, files in os.walk(sub):
                        dirs.sort()  # deterministic token order
                        rel_root = os.path.relpath(root, path)
                        for f in sorted(files):
                            st = os.stat(os.path.join(root, f))
                            toks.append(
                                (os.path.join(rel_root, f), st.st_mtime_ns, st.st_size)
                            )
                else:
                    st = os.stat(sub)
                    toks.append((name, st.st_mtime_ns, st.st_size))
            return tuple(toks)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ("missing",)


def sweep_cache(cache: dict, session_key: int) -> None:
    """Bound a (session, path, freshness)-keyed cache: once it outgrows
    _CACHE_SWEEP_LEN, drop entries from other (likely stopped) sessions
    so dead sessions and their plans are never pinned forever.
    (Superseded-freshness entries are evicted inline on replacement.)"""
    if len(cache) <= _CACHE_SWEEP_LEN:
        return
    for k in [k for k in cache if k[0] != session_key]:
        del cache[k]


def cache_put(cache: dict, key: tuple, value) -> None:
    """Insert, evicting any entry for the same (session, path) with a
    different (stale) freshness token, then sweeping if oversized."""
    sid, path = key[0], key[1]
    for k in [k for k in cache if k[0] == sid and k[1] == path and k != key]:
        del cache[k]
    cache[key] = value
    sweep_cache(cache, sid)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table from ``sf_dir`` (a file or a directory of parts).

    Nanosecond-precision parquet timestamps (unsupported by Spark) are
    read as long nanos and truncated to microsecond timestamps —
    integer DIV keeps full precision (a double division would lose
    bits past 2^53).

    Works under ANY SparkSession: when the file carries TIMESTAMP(NANOS)
    columns, ``spark.sql.legacy.parquet.nanosAsLong`` is set on the
    session at read time (it is a runtime SQL conf). If the read still
    fails (e.g. a Spark build where the conf is static), falls back to a
    pyarrow read with truncation to microseconds before handing the
    batches to Spark.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        # ORC fallback: a dir holding <name>.orc serves the same
        # catalog surface (BASELINE approach line: "Parquet/ORC").
        # ORC microblocks are always engine-written (MicroBlockWriter
        # format="orc"), so no nanos-timestamp legacy handling applies.
        orc_path = os.path.join(sf_dir, f"{name}.orc")
        if os.path.exists(orc_path):
            real = os.path.realpath(orc_path)
            cache_key = (id(spark), real, file_freshness(real))
            cached = _RELATION_CACHE.get(cache_key)
            if cached is not None:
                return cached
            df = spark.read.orc(orc_path)
            for field in df.schema.fields:
                if field.dataType.typeName() == "timestamp_ntz":
                    df = df.withColumn(
                        field.name, F.col(field.name).cast("timestamp")
                    )
            cache_put(_RELATION_CACHE, cache_key, df)
            return df
    real = os.path.realpath(path)
    cache_key = (id(spark), real, file_freshness(real))
    cached = _RELATION_CACHE.get(cache_key)
    if cached is not None:
        return cached
    nanos_cols = _nanos_ts_columns(path)
    if nanos_cols:
        # Scope the conf to this read: the nanos→long schema is baked
        # into the relation at spark.read time (verified empirically:
        # actions on the returned DataFrame succeed after restore), so
        # restoring here never breaks the caller's OTHER parquet reads.
        try:
            with scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
                df = spark.read.parquet(path)
        except Exception:
            return _load_via_pyarrow(spark, path)
    else:
        df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS BIGINT))"))
    # Parquet µs timestamps written without isAdjustedToUTC read back as
    # TIMESTAMP_NTZ; normalize to the session-tz TimestampType (session
    # tz is pinned to UTC, so the cast is value-identity) so every
    # consumer — window ranges, streaming watermarks, the DuckDB oracle
    # compare — sees one stable timestamp type regardless of how the
    # source file was generated (ns-era vs µs-era testdata).
    for field in df.schema.fields:
        if field.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    cache_put(_RELATION_CACHE, cache_key, df)
    return df


def _load_via_pyarrow(spark: SparkSession, path: str) -> DataFrame:
    """Fallback path: pyarrow read → truncate ns→µs → createDataFrame.

    Only used when the native parquet reader rejects TIMESTAMP(NANOS)
    even with ``nanosAsLong`` set; materializes on the driver, so it is
    a small-table escape hatch, not a scale path.
    """
    table = micros_timestamps(_pq.read_table(path))
    # Spark 4 accepts a pyarrow.Table directly — no pandas round-trip,
    # so nullable ints stay ints and types never drift vs the native
    # reader's schema.
    return spark.createDataFrame(table)


def register_dir(
    spark: SparkSession,
    table_dir: str,
    tables: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Register every ``<name>.parquet`` / ``<name>.orc`` under
    ``table_dir`` as a temp view.

    Returns name → DataFrame. Unknown extra files are ignored; with
    ``tables`` given, only those are registered. When both formats
    exist for a name, parquet wins (load_table's lookup order).
    """
    out: dict[str, DataFrame] = {}
    wanted = set(tables) if tables else None
    for p in sorted(Path(table_dir).glob("*.parquet")) + sorted(
        Path(table_dir).glob("*.orc")
    ):
        name = p.stem
        if name in out or (wanted is not None and name not in wanted):
            continue
        df = load_table(spark, table_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
