"""MicroBlockIndex — explicit zone-map metadata over Parquet blocks.

Spark prunes row groups natively via parquet footer min/max
(``spark.sql.parquet.filterPushdown``); this index re-materializes the
same footer statistics driver-side — as the reference does with
pyarrow (reference microblock_index.py:107-171) — for three purposes
Spark doesn't cover:

1. *Prediction*: which blocks SHOULD a query touch (drives the access
   log, cache and prefetch subsystems — block identity is the unit of
   the reference's whole storage layer).
2. *Verification*: assert Spark's pushdown skipped exactly the blocks
   the zone maps allow (tests/plans.verify).
3. *Observability*: the index is exposed as a Spark DataFrame (one row
   per block × column, with usage counters) — queryable metadata, like
   the reference's ``save_metadata.py`` dumps but as a real table.

Block identity: (file_path, row_group_id). For single-file tables the
reference's block_id == row_group ordinal (reference
block_id_mapper.py:8-28); for multi-file tables ids are assigned by
sorted file order, then row group — deterministic and stable.

One record format (``footer_records``) carries the statistics, and one
constructor (``MicroBlockIndex.from_records``) turns records into an
index: from Parquet footers (``build`` / ``build_from_files``), from
the records a manifest version stores (``for_version``, no footer
read), or from an ORC stats scan (``build_from_scan``).

BlockMetadata field parity with reference microblock_index.py:63-104:
table_id, column_name, column_id, file_path, row_group_id, row_start,
row_end, byte_offset, byte_length, min/max/null_count statistics,
compression_info, and usage counters (access_count, last_access_ts,
ewma_usage with α=0.2).
"""

from __future__ import annotations

import base64
import datetime as _dt
import glob
import json
import os
import threading
import time
from dataclasses import dataclass
from decimal import Decimal
from typing import Any, Iterable

import pyarrow.parquet as pq

from columnar_database_project_spark.plans.predicate import ColumnStats, Pred
from columnar_database_project_spark.plans.sql_where import extract_where

EWMA_ALPHA = 0.2  # reference microblock_index.py:100-104


@dataclass
class BlockMetadata:
    """Per-(block × column) metadata record."""

    table_id: str
    column_name: str
    column_id: int
    file_path: str
    block_id: int
    row_group_id: int
    row_start: int
    row_end: int
    byte_offset: int
    byte_length: int
    stat_min: Any
    stat_max: Any
    null_count: int | None
    num_values: int
    compression: str
    access_count: int = 0
    last_access_ts: float | None = None
    ewma_usage: float = 0.0

    def mark_access(self, ts: float | None = None) -> None:
        """EWMA usage update: ewma = α·1 + (1-α)·ewma (reference
        microblock_index.py:100-104)."""
        self.access_count += 1
        self.last_access_ts = ts if ts is not None else time.time()
        self.ewma_usage = EWMA_ALPHA * 1.0 + (1 - EWMA_ALPHA) * self.ewma_usage

    def decay(self) -> None:
        """EWMA decay tick for blocks NOT accessed."""
        self.ewma_usage = (1 - EWMA_ALPHA) * self.ewma_usage


def _normalize_stat(v: Any) -> Any:
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v
    return v


def _enc_stat(v: Any):
    """Type-tagged JSON encoding of a zone-map bound. The types parquet
    and ORC stats produce (int/float/str/bool/bytes/date/time/datetime/
    Decimal, and pandas Timestamps for nanosecond columns) must
    round-trip EXACTLY, or an index built from stored records would
    prune differently than one built from the footers."""
    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, _dt.datetime):
        # a pandas Timestamp carries nanoseconds datetime would drop
        tag = "ts" if type(v).__module__.startswith("pandas") else "dt"
        return {"$t": tag, "v": v.isoformat()}
    if isinstance(v, _dt.date):
        return {"$t": "d", "v": v.isoformat()}
    if isinstance(v, _dt.time):
        return {"$t": "t", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"$t": "dec", "v": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"$t": "b", "v": base64.b64encode(bytes(v)).decode()}
    return {"$t": "s", "v": str(v)}


def _dec_stat(v):
    if not isinstance(v, dict) or "$t" not in v:
        return v
    t, raw = v["$t"], v["v"]
    if t == "dt":
        return _dt.datetime.fromisoformat(raw)
    if t == "ts":
        import pandas as pd

        return pd.Timestamp(raw)
    if t == "d":
        return _dt.date.fromisoformat(raw)
    if t == "t":
        return _dt.time.fromisoformat(raw)
    if t == "dec":
        return Decimal(raw)
    if t == "b":
        return base64.b64decode(raw)
    return raw


def _footer_bounds(stats) -> tuple[Any, Any]:
    """(min, max) of a column chunk's footer statistics, None when
    absent. pyarrow cannot convert decimals stored as INT32/INT64 (how
    Spark writes precision <= 18), so those are scaled from the raw
    integers."""
    if stats is None or not stats.has_min_max:
        return None, None
    try:
        return _normalize_stat(stats.min), _normalize_stat(stats.max)
    except NotImplementedError:
        logical = json.loads(stats.logical_type.to_json())
        if logical.get("Type") != "Decimal":
            return None, None
        scale = -int(logical["scale"])
        return (
            Decimal(stats.min_raw).scaleb(scale),
            Decimal(stats.max_raw).scaleb(scale),
        )


def footer_records(path: str) -> list[dict]:
    """Zone-map records of one Parquet block file, one per row group:
    ``{"rows": n, "columns": [{"name", "min", "max", "null_count",
    "num_values", "byte_offset", "byte_length", "compression"}, ...]}``,
    bounds in the ``_enc_stat`` encoding, so a record is plain JSON.
    ``byte_offset`` is where the column chunk starts: its dictionary
    page if it has one, else its first data page.
    This is the package's one zone-map record format:
    ``ManifestStore.commit`` stores it for every file a version names,
    and every ``MicroBlockIndex`` is built from it."""
    meta = pq.ParquetFile(path).metadata
    out = []
    for rg in range(meta.num_row_groups):
        rg_meta = meta.row_group(rg)
        cols = []
        for ci in range(rg_meta.num_columns):
            col = rg_meta.column(ci)
            stats = col.statistics
            lo, hi = _footer_bounds(stats)
            cols.append(
                {
                    "name": col.path_in_schema,
                    "min": _enc_stat(lo),
                    "max": _enc_stat(hi),
                    "null_count": (
                        stats.null_count
                        if stats is not None and stats.has_null_count
                        else None
                    ),
                    "num_values": col.num_values,
                    "byte_offset": (
                        col.dictionary_page_offset
                        if col.has_dictionary_page
                        else col.data_page_offset
                    ),
                    "byte_length": col.total_compressed_size,
                    "compression": col.compression,
                }
            )
        out.append({"rows": rg_meta.num_rows, "columns": cols})
    return out


class MicroBlockIndex:
    """Zone-map index over block files, built from zone-map records
    (``footer_records``): Parquet footers read driver-side with pyarrow
    (the same API surface the reference uses), the records a manifest
    version stores, or an ORC stats scan."""

    def __init__(self, table_id: str = "t1") -> None:
        self.table_id = table_id
        self.blocks: list[BlockMetadata] = []
        self.by_column: dict[str, list[BlockMetadata]] = {}
        self.by_block: dict[int, dict[str, BlockMetadata]] = {}
        self._block_rows: dict[int, tuple[str, int, int, int]] = {}
        self._lock = threading.Lock()
        # optional per-block Bloom sidecar (sources/bloom.py): refines
        # candidate_blocks for = / IN where min/max is wide-open
        self.blooms = None
        # file → deleted row positions (a manifest version's deletion
        # vectors, ``for_version``); read_block drops them
        self.dvs: dict[str, tuple[int, ...]] = {}
        # the version's Spark schema JSON (``for_version``); read_block
        # serves its columns, in its order, instead of the footer's
        self.schema_json: str | None = None

    # ------------------------------------------------------------- build
    @classmethod
    def from_records(
        cls, files: Iterable[tuple[str, list[dict]]], table_id: str = "t1"
    ) -> "MicroBlockIndex":
        """The one record → index constructor. ``files``: (file path,
        zone-map records) pairs in block-id order. Block ids count row
        groups across the files in that order, and row ranges run on
        contiguously from 0."""
        idx = cls(table_id=table_id)
        block_id = row_cursor = 0
        for f, records in files:
            for rg, rec in enumerate(records):
                row_end = row_cursor + rec["rows"] - 1
                for ci, c in enumerate(rec["columns"]):
                    bm = BlockMetadata(
                        table_id=table_id,
                        column_name=c["name"],
                        column_id=ci,
                        file_path=f,
                        block_id=block_id,
                        row_group_id=rg,
                        row_start=row_cursor,
                        row_end=row_end,
                        byte_offset=c["byte_offset"],
                        byte_length=c["byte_length"],
                        stat_min=_dec_stat(c["min"]),
                        stat_max=_dec_stat(c["max"]),
                        null_count=c["null_count"],
                        num_values=c["num_values"],
                        compression=c["compression"],
                    )
                    idx.blocks.append(bm)
                    idx.by_column.setdefault(bm.column_name, []).append(bm)
                    idx.by_block.setdefault(block_id, {})[bm.column_name] = bm
                idx._block_rows[block_id] = (f, rg, row_cursor, row_end)
                row_cursor = row_end + 1
                block_id += 1
        return idx

    @classmethod
    def build(cls, path: str, table_id: str = "t1") -> "MicroBlockIndex":
        """Scan footer metadata of a parquet file / directory of parts.

        Driver-side only — reads footers, never data pages. For a
        100 TB table this is one metadata pass (or a read of the
        ``_metadata`` summary file when present).

        Parquet-only: pyarrow exposes no per-stripe column min/max
        for ORC, and computing them would require a data scan — the
        opposite of a footer index. ORC layouts use
        ``build_from_scan`` instead (one distributed scan, block =
        file; r8), on top of Spark's native ORC predicate pushdown
        (stripe/row-index stats, asserted in
        tests/test_plan_verify.py::TestOrcPushdown).
        """
        files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(
            path
        ) else [path]
        if os.path.isdir(path) and not files:
            # spark-written directory: part-*.parquet (no extension filter miss)
            files = sorted(
                p
                for p in glob.glob(os.path.join(path, "part-*"))
                if not p.endswith((".crc", "_SUCCESS"))
            )
        return cls.build_from_files(files, table_id=table_id)

    @classmethod
    def build_from_files(
        cls, files: list[str], table_id: str = "t1"
    ) -> "MicroBlockIndex":
        """Index an explicit block-file list from its footers. Sorted
        for the same deterministic block-id assignment as ``build``. A
        manifest table's version already holds these records:
        ``for_version`` indexes it without opening a footer."""
        return cls.from_records(
            ((f, footer_records(f)) for f in sorted(files)), table_id=table_id
        )

    @classmethod
    def for_version(cls, snapshot, table_id: str = "t1") -> "MicroBlockIndex":
        """The index of a ``ManifestStore`` snapshot, built from the
        zone-map records its manifest holds — no footer is opened.
        Block ids are those of ``build_from_files(snapshot.files)``:
        sorted file order, then row group. The snapshot's deletion
        vectors are kept (``dvs``), and so is its schema
        (``schema_json``), so ``read_block`` serves the rows and the
        columns the version serves."""
        idx = cls.from_records(
            ((f, snapshot.blocks[f]) for f in snapshot.files), table_id=table_id
        )
        idx.dvs = snapshot.dvs
        idx.schema_json = snapshot.schema_json
        return idx

    @classmethod
    def build_from_scan(
        cls,
        spark,
        path: str,
        table_id: str = "t1",
        format: str = "orc",
        columns: list[str] | None = None,
    ) -> "MicroBlockIndex":
        """Zone maps for formats whose per-block statistics pyarrow
        cannot read driver-side (ORC: no stripe-stats accessor): ONE
        distributed scan aggregates per-(file, column) min / max /
        null_count, block = file — the same identity the whole storage
        layer uses. This closes the r7 backend asymmetry: an
        ORC-backed table gets the same predict/verify/observe index
        (and ``engine.explain`` pruning report) as parquet.

        Cost model, stated honestly: this is a DATA scan, not a footer
        pass — run it once per layout, never per query. File-level
        row counts and compression still come from the cheap ORC tail
        (pyarrow.orc.ORCFile); per-column byte extents aren't exposed,
        so byte_offset/byte_length are recorded as 0."""
        from pyspark.sql import functions as F

        df = spark.read.format(format).load(path)
        atomic = {
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "decimal", "string", "date", "timestamp", "timestamp_ntz",
            "boolean",
        }
        cols = columns or [
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString().split("(")[0] in atomic
        ]
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"min__{c}"),
                F.max(c).alias(f"max__{c}"),
                F.sum(
                    F.when(F.col(c).isNull(), 1).otherwise(0)
                ).alias(f"nulls__{c}"),
            ]
        rows = (
            df.withColumn("_file", F.input_file_name())
            .groupBy("_file")
            .agg(*aggs)
            .collect()
        )  # one row per block file — bounded control plane

        def _local_path(name: str) -> str:
            # input_file_name() returns a percent-encoded file: URI —
            # a path with spaces/non-ASCII kept undecoded would make
            # the ORC compression probe fall to "unknown" and
            # block_file() hand prefetch/read an unopenable path.
            from urllib.parse import unquote, urlparse

            if name.startswith("file:"):
                return unquote(urlparse(name).path)
            return unquote(name)

        compression: dict[str, str] = {}
        try:
            import pyarrow.orc as _po

            if format == "orc":
                for r in rows:
                    f = _local_path(r["_file"])
                    compression[f] = str(_po.ORCFile(f).compression)
        except Exception:
            pass
        files = []
        for r in sorted(rows, key=lambda r: r["_file"]):
            f = _local_path(r["_file"])
            n_rows = int(r["__n"])
            files.append((f, [{"rows": n_rows, "columns": [
                {
                    "name": c,
                    "min": _enc_stat(r[f"min__{c}"]),
                    "max": _enc_stat(r[f"max__{c}"]),
                    "null_count": int(r[f"nulls__{c}"]),
                    "num_values": n_rows,
                    "byte_offset": 0,
                    "byte_length": 0,
                    "compression": compression.get(f, "unknown"),
                }
                for c in cols
            ]}]))
        return cls.from_records(files, table_id=table_id)

    # ------------------------------------------------------------ access
    @property
    def num_blocks(self) -> int:
        return len(self.by_block)

    def stats_for_block(self, block_id: int) -> dict[str, ColumnStats]:
        """Zone maps of one block: column → ColumnStats (reference
        microblock_index.py:173-182)."""
        out = {}
        for col, bm in self.by_block.get(block_id, {}).items():
            out[col] = ColumnStats(
                min=bm.stat_min,
                max=bm.stat_max,
                null_count=bm.null_count,
                num_values=bm.num_values,
            )
        return out

    def block_file(self, block_id: int) -> str:
        return self._block_rows[block_id][0]

    def block_key(self, block_id: int) -> tuple[str, int] | None:
        """What a block id names: (file, row group), or None when the
        index has no such block."""
        got = self._block_rows.get(block_id)
        return None if got is None else got[:2]

    def block_row_range(self, block_id: int) -> tuple[int, int]:
        _, _, lo, hi = self._block_rows[block_id]
        return lo, hi

    # ----------------------------------------------------------- pruning
    def attach_blooms(self, blooms) -> None:
        """Attach a ``BlockBloomIndex`` sidecar: from here on,
        ``candidate_blocks`` intersects zone-map MAYBEs with the
        per-block Bloom answer for = / IN predicates — the point-lookup
        case where every hash-distributed block's [min, max] spans the
        key domain and zone maps alone predict everything."""
        self.blooms = blooms

    def candidate_blocks(self, pred: Pred, use_blooms: bool = True) -> list[int]:
        """Three-valued zone-map evaluation per block → candidates,
        refined by the Bloom sidecar when one is attached (candidate
        iff BOTH layers say MAYBE — each alone is sound, so the
        intersection is).

        Adopts v3 semantics for the empty case — an empty candidate
        list means a provably-empty result, NOT scan-everything
        (reference v5 regressed this: query_enginev5.py:93-95 vs
        query_enginev3.py:212-213; SURVEY §2.5.2).

        ``use_blooms=False`` gives the zone-map-only answer for A/B
        accounting (``engine.explain``'s breakdown).
        """
        out = []
        blooms = self.blooms if use_blooms else None
        if blooms is not None:
            from columnar_database_project_spark.sources.bloom import (
                bloom_may_match,
            )
        for bid in sorted(self.by_block):
            if not pred.may_match(self.stats_for_block(bid)):
                continue
            if blooms is not None and not bloom_may_match(
                pred, blooms, self.block_file(bid)
            ):
                continue
            out.append(bid)
        return out

    def predict_blocks_for_sql(self, sql: str) -> list[int]:
        """WHERE-clause extraction + pruning prediction for a SQL text
        (reference stage-2 of the query lifecycle)."""
        return self.candidate_blocks(extract_where(sql))

    # ------------------------------------------------------ usage stats
    def mark_access(self, block_ids: list[int], ts: float | None = None) -> None:
        with self._lock:
            touched = set(block_ids)
            for bid, cols in self.by_block.items():
                if bid in touched:
                    for bm in cols.values():
                        bm.mark_access(ts)

    # ------------------------------------------------------ spark export
    def to_rows(self) -> list[dict]:
        return [
            {
                "table_id": b.table_id,
                "column_name": b.column_name,
                "column_id": b.column_id,
                "file_path": b.file_path,
                "block_id": b.block_id,
                "row_group_id": b.row_group_id,
                "row_start": b.row_start,
                "row_end": b.row_end,
                "byte_offset": b.byte_offset,
                "byte_length": b.byte_length,
                "stat_min": str(b.stat_min) if b.stat_min is not None else None,
                "stat_max": str(b.stat_max) if b.stat_max is not None else None,
                "null_count": b.null_count,
                "num_values": b.num_values,
                "compression": b.compression,
                "access_count": b.access_count,
                "last_access_ts": b.last_access_ts,
                "ewma_usage": b.ewma_usage,
            }
            for b in self.blocks
        ]

    def to_spark(self, spark):
        """Index as a queryable DataFrame (observability surface)."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("table_id", T.StringType()),
                T.StructField("column_name", T.StringType()),
                T.StructField("column_id", T.IntegerType()),
                T.StructField("file_path", T.StringType()),
                T.StructField("block_id", T.IntegerType()),
                T.StructField("row_group_id", T.IntegerType()),
                T.StructField("row_start", T.LongType()),
                T.StructField("row_end", T.LongType()),
                T.StructField("byte_offset", T.LongType()),
                T.StructField("byte_length", T.LongType()),
                T.StructField("stat_min", T.StringType()),
                T.StructField("stat_max", T.StringType()),
                T.StructField("null_count", T.LongType()),
                T.StructField("num_values", T.LongType()),
                T.StructField("compression", T.StringType()),
                T.StructField("access_count", T.LongType()),
                T.StructField("last_access_ts", T.DoubleType()),
                T.StructField("ewma_usage", T.DoubleType()),
            ]
        )
        return spark.createDataFrame(self.to_rows(), schema=schema)
