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

BlockMetadata field parity with reference microblock_index.py:63-104:
table_id, column_name, column_id, file_path, row_group_id, row_start,
row_end, byte_offset, byte_length, min/max/null_count statistics,
compression_info, and usage counters (access_count, last_access_ts,
ewma_usage with α=0.2).
"""

from __future__ import annotations

import glob
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any

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


class MicroBlockIndex:
    """Zone-map index built from parquet footers (driver-side pyarrow,
    the same API surface the reference uses)."""

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
        # footer-schema key → Spark StructType (sources/microblock.read_block)
        self.read_schemas: dict[str, Any] = {}

    # ------------------------------------------------------------- build
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
        """Index an explicit block-file list — the manifest-store path
        (storage/manifests.py), where a snapshot IS a file list, not a
        directory. Sorted for the same deterministic block-id
        assignment as ``build``."""
        idx = cls(table_id=table_id)
        files = sorted(files)
        block_id = 0
        row_cursor = 0
        for f in files:
            meta = pq.ParquetFile(f).metadata
            for rg in range(meta.num_row_groups):
                rg_meta = meta.row_group(rg)
                n_rows = rg_meta.num_rows
                for ci in range(rg_meta.num_columns):
                    col = rg_meta.column(ci)
                    stats = col.statistics
                    bm = BlockMetadata(
                        table_id=table_id,
                        column_name=col.path_in_schema,
                        column_id=ci,
                        file_path=f,
                        block_id=block_id,
                        row_group_id=rg,
                        row_start=row_cursor,
                        row_end=row_cursor + n_rows - 1,
                        byte_offset=col.file_offset,
                        byte_length=col.total_compressed_size,
                        stat_min=_normalize_stat(stats.min) if stats and stats.has_min_max else None,
                        stat_max=_normalize_stat(stats.max) if stats and stats.has_min_max else None,
                        null_count=stats.null_count if stats and stats.has_null_count else None,
                        num_values=col.num_values,
                        compression=col.compression,
                    )
                    idx.blocks.append(bm)
                    idx.by_column.setdefault(bm.column_name, []).append(bm)
                    idx.by_block.setdefault(block_id, {})[bm.column_name] = bm
                idx._block_rows[block_id] = (f, rg, row_cursor, row_cursor + n_rows - 1)
                row_cursor += n_rows
                block_id += 1
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
        pass — at 100 TB you run it once per commit over only the
        commit's NEW files (same incremental discipline as
        ``bloom.extend_bloom_index``), never per query. File-level
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
        idx = cls(table_id=table_id)
        row_cursor = 0
        for block_id, r in enumerate(
            sorted(rows, key=lambda r: r["_file"])
        ):
            f = _local_path(r["_file"])
            n_rows = r["__n"]
            for ci, c in enumerate(cols):
                bm = BlockMetadata(
                    table_id=table_id,
                    column_name=c,
                    column_id=ci,
                    file_path=f,
                    block_id=block_id,
                    row_group_id=0,
                    row_start=row_cursor,
                    row_end=row_cursor + n_rows - 1,
                    byte_offset=0,
                    byte_length=0,
                    stat_min=r[f"min__{c}"],
                    stat_max=r[f"max__{c}"],
                    null_count=int(r[f"nulls__{c}"]),
                    num_values=int(n_rows),
                    compression=compression.get(f, "unknown"),
                )
                idx.blocks.append(bm)
                idx.by_column.setdefault(c, []).append(bm)
                idx.by_block.setdefault(block_id, {})[c] = bm
            idx._block_rows[block_id] = (
                f, 0, row_cursor, row_cursor + n_rows - 1
            )
            row_cursor += n_rows
        return idx

    def extend_from_scan(
        self,
        spark,
        new_files: list[str],
        format: str = "orc",
    ) -> int:
        """Incremental maintenance for the scan-built index: stat-scan
        ONLY the given files (a commit's new blocks) and append them —
        the per-commit discipline that makes ``build_from_scan``'s
        one-data-scan cost amortize at 100 TB (same lifecycle as
        ``bloom.extend_bloom_index``). New blocks get ids after the
        existing ones (append-only, ids stay stable across extends —
        commit order, not re-sorted path order). Returns the number of
        blocks added; files already indexed are skipped."""
        known = {f for (f, _rg, _lo, _hi) in self._block_rows.values()}
        todo = sorted(f for f in new_files if f not in known)
        if not todo:
            return 0
        cols = sorted(self.by_column) or None
        sub = MicroBlockIndex.build_from_scan(
            spark,
            todo[0] if len(todo) == 1 else todo,  # reader takes a list too
            table_id=self.table_id,
            format=format,
            columns=cols,
        )
        base_id = (max(self.by_block) + 1) if self.by_block else 0
        row_cursor = (
            max(hi for (_f, _rg, _lo, hi) in self._block_rows.values()) + 1
            if self._block_rows
            else 0
        )
        with self._lock:
            for old_id in sorted(sub.by_block):
                new_id = base_id + old_id
                f, rg, lo, hi = sub._block_rows[old_id]
                n = hi - lo + 1
                for bm in sub.by_block[old_id].values():
                    bm.block_id = new_id
                    bm.row_start = row_cursor
                    bm.row_end = row_cursor + n - 1
                    self.blocks.append(bm)
                    self.by_column.setdefault(bm.column_name, []).append(bm)
                    self.by_block.setdefault(new_id, {})[bm.column_name] = bm
                self._block_rows[new_id] = (
                    f, rg, row_cursor, row_cursor + n - 1
                )
                row_cursor += n
        return len(sub.by_block)

    # ------------------------------------------------------ persistence
    _SIDECAR = "_zonemaps.json"

    @staticmethod
    def _enc_stat(v: Any):
        """Type-tagged JSON encoding of a zone-map bound — the types
        parquet/ORC stats produce (int/float/str/bool/datetime/date/
        Decimal/bytes) must round-trip EXACTLY or a reloaded index
        would prune differently than the one that was saved."""
        import base64
        import datetime as _dt
        from decimal import Decimal

        if v is None or isinstance(v, (int, float, str, bool)):
            return v
        if isinstance(v, _dt.datetime):
            return {"$t": "dt", "v": v.isoformat()}
        if isinstance(v, _dt.date):
            return {"$t": "d", "v": v.isoformat()}
        if isinstance(v, Decimal):
            return {"$t": "dec", "v": str(v)}
        if isinstance(v, (bytes, bytearray)):
            return {"$t": "b", "v": base64.b64encode(bytes(v)).decode()}
        return {"$t": "s", "v": str(v)}

    @staticmethod
    def _dec_stat(v):
        import base64
        import datetime as _dt
        from decimal import Decimal

        if not isinstance(v, dict) or "$t" not in v:
            return v
        t, raw = v["$t"], v["v"]
        if t == "dt":
            return _dt.datetime.fromisoformat(raw)
        if t == "d":
            return _dt.date.fromisoformat(raw)
        if t == "dec":
            return Decimal(raw)
        if t == "b":
            return base64.b64decode(raw)
        return raw

    def save(self, table_path: str) -> str:
        """Persist the index as an underscore-prefixed sidecar in the
        table directory (invisible to Spark's listing, same convention
        as the Bloom ``_blooms.npz``). For footer-backed parquet this
        is a convenience; for scan-built ORC it is the POINT — the
        one-data-scan build cost is paid once per commit, not per
        session."""
        import json as _json

        recs = []
        for b in self.blocks:
            recs.append(
                {
                    "column_name": b.column_name,
                    "column_id": b.column_id,
                    "file_path": os.path.relpath(b.file_path, table_path),
                    "block_id": b.block_id,
                    "row_group_id": b.row_group_id,
                    "row_start": b.row_start,
                    "row_end": b.row_end,
                    "byte_offset": b.byte_offset,
                    "byte_length": b.byte_length,
                    "stat_min": self._enc_stat(b.stat_min),
                    "stat_max": self._enc_stat(b.stat_max),
                    "null_count": b.null_count,
                    "num_values": b.num_values,
                    "compression": b.compression,
                }
            )
        out = os.path.join(table_path, self._SIDECAR)
        tmp = out + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump({"table_id": self.table_id, "blocks": recs}, fh)
        os.replace(tmp, out)
        return out

    @classmethod
    def load(cls, table_path: str) -> "MicroBlockIndex":
        """Reload a saved sidecar; file paths are re-anchored to the
        (possibly relocated) table directory."""
        import json as _json

        with open(os.path.join(table_path, cls._SIDECAR)) as fh:
            doc = _json.load(fh)
        idx = cls(table_id=doc["table_id"])
        for r in doc["blocks"]:
            bm = BlockMetadata(
                table_id=doc["table_id"],
                column_name=r["column_name"],
                column_id=r["column_id"],
                file_path=os.path.join(table_path, r["file_path"]),
                block_id=r["block_id"],
                row_group_id=r["row_group_id"],
                row_start=r["row_start"],
                row_end=r["row_end"],
                byte_offset=r["byte_offset"],
                byte_length=r["byte_length"],
                stat_min=cls._dec_stat(r["stat_min"]),
                stat_max=cls._dec_stat(r["stat_max"]),
                null_count=r["null_count"],
                num_values=r["num_values"],
                compression=r["compression"],
            )
            idx.blocks.append(bm)
            idx.by_column.setdefault(bm.column_name, []).append(bm)
            idx.by_block.setdefault(bm.block_id, {})[bm.column_name] = bm
        for bid, cols in idx.by_block.items():
            any_bm = next(iter(cols.values()))
            idx._block_rows[bid] = (
                any_bm.file_path,
                any_bm.row_group_id,
                any_bm.row_start,
                any_bm.row_end,
            )
        return idx

    @classmethod
    def for_table(
        cls,
        path: str,
        table_id: str = "t1",
        format: str = "parquet",
        spark=None,
    ) -> "MicroBlockIndex":
        """Index acquisition with the sidecar as a freshness-checked
        cache: load ``_zonemaps.json`` when no data file is newer than
        it, else (re)build — parquet from footers, ORC from the stats
        scan (``spark`` required only on that rebuild path) — and save
        the sidecar for the next caller. This is the one entry point a
        user needs: for ORC it makes the scan cost once-per-commit in
        practice, and for parquet it skips even the footer pass on a
        warm table."""
        side = os.path.join(path, cls._SIDECAR)
        data_files = [
            p
            for p in glob.glob(os.path.join(path, "*"))
            if os.path.isfile(p)
            and not os.path.basename(p).startswith(("_", "."))
            and not p.endswith(".crc")
        ]
        if os.path.exists(side) and data_files:
            side_m = os.path.getmtime(side)
            # Strict <: an equal-mtime file (coarse-timestamp fs, or a
            # rewrite landing in the save's timestamp granule) counts
            # STALE — a rebuild is cheap, serving wrong zone maps isn't.
            if all(os.path.getmtime(f) < side_m for f in data_files):
                idx = cls.load(path)
                # mtime can't see deletion-only changes (nothing new
                # was written), so also require the sidecar's recorded
                # file set to equal the directory's current listing —
                # otherwise candidate blocks reference missing files
                # and prefetch/point-lookups chase ghosts.
                recorded = {os.path.basename(b.file_path) for b in idx.blocks}
                current = {os.path.basename(f) for f in data_files}
                if recorded == current:
                    return idx
        if format == "parquet":
            idx = cls.build(path, table_id=table_id)
        else:
            if spark is None:
                raise ValueError(
                    f"for_table: stale/missing sidecar for {format!r} "
                    "table needs `spark` for the stats-scan rebuild"
                )
            idx = cls.build_from_scan(
                spark, path, table_id=table_id, format=format
            )
        idx.save(path)
        return idx

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
        accounting (bench_bloom_pruning; ``engine.explain``'s
        breakdown).
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
