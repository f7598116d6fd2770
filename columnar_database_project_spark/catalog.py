"""Multi-table catalog over a directory of Parquet files.

The reference engine is single-table by construction (one Parquet file
registered as one DuckDB view, reference query_enginev5.py:30-39,
:55-58) — joins beyond self-joins are unreachable. We generalize to a
real catalog of temp views, which also fixes the reference's blind
``sql.replace(table_name, ...)`` rewrite bug (query_enginev5.py:302):
Spark resolves table names through the catalog, never via string
substitution.

The reference registers each table once (DuckDB CREATE VIEW at connect
time, query_enginev5.py:30-39); ``load_table`` keeps that property with
``memo``, the one cache for every value derived from table files:
relations, and the small arrays some operators build from a table. An
entry holds the ``file_freshness`` token it was built at, so a file
regenerated at the same path rebuilds it instead of being served stale;
least recently used entries are dropped past a fixed bound.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable
from pathlib import Path
from typing import TypeVar

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_database_project_spark.session import scoped_conf

_T = TypeVar("_T")

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


# The memo (module docstring): without it every query pays a footer read
# and a py4j roundtrip to rebuild an identical relation. A returned
# DataFrame is an immutable logical plan, so handing the same object to
# every caller is safe; its key carries ``id(spark)`` so a restarted
# session never sees another session's plans, while numpy values are
# session-free. One entry per key, (token, value); least recently used
# keys go past _MEMO_LEN.
_MEMO: OrderedDict = OrderedDict()
_MEMO_LEN = 512
_MEMO_LOCK = threading.Lock()


def memo(key: tuple, token, build: Callable[[], _T]) -> _T:
    """The value stored under ``key`` when it was built at an equal
    ``token``; otherwise ``build()``'s, stored in place of the old one.

    ``build`` runs outside the lock: builds nest (``_minhash_wide``
    loads its table through ``load_table``). Two threads that miss at
    once both build, and the last store wins."""
    with _MEMO_LOCK:
        entry = _MEMO.get(key)
        if entry is not None and entry[0] == token:
            _MEMO.move_to_end(key)
            return entry[1]
    value = build()
    with _MEMO_LOCK:
        _MEMO[key] = (token, value)
        _MEMO.move_to_end(key)
        if len(_MEMO) > _MEMO_LEN:
            _MEMO.popitem(last=False)
    return value


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
        orc_path = os.path.join(sf_dir, f"{name}.orc")
        if os.path.exists(orc_path):
            path = orc_path
    real = os.path.realpath(path)
    return memo(
        ("load_table", id(spark), real),
        file_freshness(real),
        lambda: _read_relation(spark, path),
    )


def _read_relation(spark: SparkSession, path: str) -> DataFrame:
    """``load_table``'s uncached read of one parquet or ORC table."""
    if path.endswith(".orc"):
        # ORC microblocks are always engine-written (MicroBlockWriter
        # format="orc"), so no nanos-timestamp legacy handling applies.
        df = spark.read.orc(path)
    else:
        nanos_cols = _nanos_ts_columns(path)
        if nanos_cols:
            # Scope the conf to this read: the nanos→long schema is
            # baked into the relation at spark.read time (verified
            # empirically: actions on the returned DataFrame succeed
            # after restore), so restoring here never breaks the
            # caller's OTHER parquet reads.
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
