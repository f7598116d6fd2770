"""Microblock writer / converter — block-granular Parquet layout.

The reference writes 16,384-row row groups (reference
microblock_writer.py:4-17, parquet_to_microblocks.py:11) so its
block-level cache/prefetch can address small units. On Spark, the
architectural decision (SURVEY §7) is **block = file**: one
row-group-sized parquet FILE per block via ``maxRecordsPerFile``,
because Spark's observability (input splits, listeners) is
file-granular. This makes block identity first-class for
the cache/prefetch/logging subsystems while remaining a plain parquet
directory any engine can read.

The reference's own benchmark note — "optimal row group size 100k-1M
rows; 16k row groups have overhead" (reference benchmark2.py:242-243)
— is preserved as the tunable ``block_rows`` default of 131_072 for
scan-oriented tables, with 16_384 available for cache-oriented parity.
"""

from __future__ import annotations

import json
import threading
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type

from columnar_database_project_spark.catalog import micros_timestamps
from columnar_database_project_spark.session import scoped_conf
from columnar_database_project_spark.sources.index import MicroBlockIndex

REFERENCE_BLOCK_ROWS = 16_384    # reference microblock_writer.py:5
DEFAULT_BLOCK_ROWS = 131_072     # reference benchmark2.py:242-243 guidance
_RANGE_SAMPLE_CONF = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
_LOCAL_RELATION_CONF = "spark.sql.execution.arrow.localRelationThreshold"
_LOCAL_RELATION_LOCK = threading.Lock()


class MicroBlockWriter:
    """Write a DataFrame as a directory of block-sized columnar files.

    ``format``: ``"parquet"`` (default) or ``"orc"`` — the two
    columnar layouts the reference's approach line names
    (BASELINE "columnar Parquet/ORC"). Block = file holds for both:
    ``maxRecordsPerFile`` is a format-independent write conf, and the
    per-format row-group/stripe size is set large so each file is one
    scan unit."""

    def __init__(
        self,
        block_rows: int = DEFAULT_BLOCK_ROWS,
        compression: str = "snappy",
        format: str = "parquet",
    ) -> None:
        if format not in ("parquet", "orc"):
            raise ValueError(f"unsupported microblock format: {format!r}")
        self.block_rows = block_rows
        self.compression = compression
        self.format = format

    def write(self, df: DataFrame, path: str) -> None:
        """One row group (parquet) / stripe (orc) per file,
        ``block_rows`` rows per block; ``path`` is overwritten.

        ``parquet.block.size`` / ``orc.stripe.size`` is set large so
        each file holds exactly one scan unit; ``maxRecordsPerFile``
        caps the rows per file. Partition count determines write
        parallelism — each task emits ⌈task_rows / block_rows⌉ blocks.
        """
        w = (
            df.write.mode("overwrite")
            .option("maxRecordsPerFile", self.block_rows)
            .option("compression", self.compression)
        )
        if self.format == "orc":
            w.option("orc.stripe.size", 1 << 30).orc(path)
        else:
            w.option("parquet.block.size", 1 << 30).parquet(path)

    def convert(self, spark: SparkSession, src: str, dst: str) -> None:
        """Rewrite any parquet source into microblock layout (reference
        parquet_to_microblocks.py:11)."""
        self.write(spark.read.parquet(src), dst)


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def read_block(spark: SparkSession, index: MicroBlockIndex, block_id: int) -> DataFrame:
    """Load exactly one block into the driver and return it as a
    one-partition DataFrame (reference query_enginev5.py:278-282 reads
    it with ``pf.read_row_group``): ``read_block_table`` and then
    ``block_frame``. Raises ``KeyError`` for an id the index does not
    have."""
    return block_frame(spark, *read_block_table(index, block_id))


def read_block_table(index: MicroBlockIndex, block_id: int) -> tuple[pa.Table, T.StructType]:
    """One block as a pyarrow Table and the Spark schema to serve it
    with. Runs no Spark call.

    A Parquet block is one row group, read with pyarrow; an ORC block is
    its whole file (``pyarrow.orc``). The rows of the index's deletion
    vector for the file are dropped: DV positions count rows of the
    file, so they are offset by the row group's first row. Nanosecond
    timestamps (INT96, TIMESTAMP(NANOS)) are truncated to microseconds
    as ``catalog.load_table`` does. The Spark schema is the index's
    version schema when it has one (``MicroBlockIndex.for_version``):
    its columns in its order, and a column the file lacks (a
    metadata-only ``add_column``) as typed nulls. Otherwise it is the
    one Spark wrote into the footer when there is one, else the Arrow
    schema's. Every column is nullable, as Spark's own reader makes it.
    Raises ``KeyError`` for an id the index does not have."""
    key = index.block_key(block_id)
    if key is None:
        raise KeyError(block_id)
    path, rg = key
    spark_schema = None
    if path.endswith(".orc"):
        import pyarrow.orc as po

        table, first_row = po.ORCFile(path).read(), 0
    else:
        pf = pq.ParquetFile(path)
        table = pf.read_row_group(rg)
        meta = pf.metadata
        first_row = sum(meta.row_group(i).num_rows for i in range(rg))
        spark_schema = (meta.metadata or {}).get(_SPARK_ROW_METADATA)
    deleted = index.dvs.get(path)
    if deleted:
        pos = np.asarray(deleted, dtype=np.int64) - first_row
        keep = np.ones(table.num_rows, dtype=bool)
        keep[pos[(pos >= 0) & (pos < table.num_rows)]] = False
        table = table.filter(keep)
    table = micros_timestamps(table)
    if index.schema_json:
        schema = T.StructType.fromJson(json.loads(index.schema_json))
        table = pa.table(
            [
                table.column(f.name)
                if f.name in table.column_names
                else pa.nulls(table.num_rows, to_arrow_type(f.dataType))
                for f in schema
            ],
            names=schema.names,
        )
    elif spark_schema:
        schema = T.StructType.fromJson(json.loads(spark_schema))
    else:
        schema = from_arrow_schema(table.schema)
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in schema]
    )
    return table, schema


def block_frame(spark: SparkSession, table: pa.Table, schema: T.StructType) -> DataFrame:
    """The one-partition DataFrame of a ``read_block_table`` result.

    The DataFrame is planned over the block's Arrow IPC batches, held
    in the driver; the plan itself holds no rows. Building it runs no
    job, the DataFrame no longer needs its file, and each consume
    decodes the batches inside its task. ``coalesce(1)`` keeps a consumer from
    splitting the small block into one task per batch, and from adding
    an Exchange for the scan's unknown partitioning."""
    # A LocalRelation holds every row in the plan, and each analyzer and
    # optimizer pass over a query on it walks them. Spark plans a scan of
    # the Arrow batches instead (a LogicalRDD that holds none) when their
    # bytes exceed the threshold, so it is 0 for this one call; frames
    # made elsewhere keep their LocalRelation and its size statistics
    # (an empty block has no batches and gets an empty one).
    # While the lock is held, a createDataFrame another thread runs in
    # the same session also takes the RDD path. Its rows are the same.
    with _LOCAL_RELATION_LOCK, scoped_conf(spark, _LOCAL_RELATION_CONF, "0"):
        df = spark.createDataFrame(table, schema)
    return df.coalesce(1)


Z_BITS = 16   # bucket resolution per dimension (2 dims → 32-bit z key)


def zorder_key(col_a, col_b, bounds: tuple) -> "F.Column":
    """Interleaved-bit (Morton) key over two numeric columns, each
    scaled to a ``Z_BITS``-bit bucket within its [min, max] bounds.
    Pure bitwise/arithmetic column expressions — whole-stage codegen,
    no UDF. ``bounds`` = (min_a, max_a, min_b, max_b), computed once
    driver-side (1-row agg — control plane, like the reference's
    footer stats pass)."""
    min_a, max_a, min_b, max_b = bounds
    top = (1 << Z_BITS) - 1

    def bucket(c, lo, hi):
        span = float(hi - lo) or 1.0
        return F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.floor((c.cast("double") - float(lo)) / span * top).cast("long"),
            ),
        )

    ba, bb = bucket(col_a, min_a, max_a), bucket(col_b, min_b, max_b)
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(ba, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(bb, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


@contextmanager
def exact_range_bounds(spark: SparkSession, points_per_partition: int):
    """Inside the ``with`` body, range shuffles sample
    ``points_per_partition`` keys per output partition (Spark's default
    is 100; its own cap is 1e6 points in all).

    Spark cuts range partitions at bounds drawn from a reservoir sample
    seeded with the RDD id, so with a small sample the same write over
    the same data cuts different blocks depending on how many RDDs the
    session made before it. Once the sample covers the input the bounds
    are exact quantiles, and the layout depends on the data alone. The
    conf is session-wide: a range shuffle another thread runs in the
    same session meanwhile samples as much."""
    with scoped_conf(spark, _RANGE_SAMPLE_CONF, str(points_per_partition)):
        yield


def zorder_sorted(df: DataFrame, cols, n_parts: int) -> DataFrame:
    """``df`` range-partitioned into ``n_parts`` on the Morton key of
    two numeric ``cols`` and sorted within each partition; the key
    column is dropped (a narrow projection keeps the order). Bounds
    for the key come from one 1-row agg (control plane)."""
    a, b = cols
    r = df.agg(
        F.min(a).alias("la"), F.max(a).alias("ha"),
        F.min(b).alias("lb"), F.max(b).alias("hb"),
    ).first()
    z = zorder_key(F.col(a), F.col(b), (r["la"], r["ha"], r["lb"], r["hb"]))
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_parts, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )
