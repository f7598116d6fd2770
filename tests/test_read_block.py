"""The block contract of ``sources/microblock.read_block``: one block,
read with pyarrow into the driver, equal to what Spark's own reader
serves for that block, with the version's deletion vectors applied and
the version's columns served."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.engine import MicroBlockEngine
from columnar_database_project_spark.ml.prefetch import Prefetcher
from columnar_database_project_spark.sources.index import MicroBlockIndex
from columnar_database_project_spark.sources.microblock import MicroBlockWriter, read_block
from columnar_database_project_spark.storage.block_cache import BlockCache
from columnar_database_project_spark.storage.cow import (
    delete_where_mor,
    init_manifest_table,
    update_where_cow,
)
from columnar_database_project_spark.storage.manifests import ManifestStore, spark_file_name

TYPED_SQL = """
SELECT id AS k,
       CAST(id * 7 AS DECIMAL(10, 2)) AS dec,
       date_add(DATE'2020-01-01', CAST(id AS INT)) AS d,
       timestamp_micros(1600000000000000 + id * 1000003) AS ts,
       IF(id % 3 = 0, NULL, CONCAT('s', id)) AS s,
       CAST(NULL AS INT) AS n
FROM range(40)
"""


@pytest.fixture
def frames(spark):
    """One entry per ``spark.createDataFrame`` call made meanwhile."""
    made = []
    real = spark.createDataFrame

    def counting(*args, **kwargs):
        made.append(1)
        return real(*args, **kwargs)

    spark.createDataFrame = counting
    yield made
    del spark.createDataFrame


def _rows(df) -> list:
    return sorted(df.collect(), key=lambda r: r["k"])


def _assert_blocks_match(spark, idx, reader) -> None:
    """Every block equals ``reader(block)``: schema and rows."""
    for b in range(idx.num_blocks):
        got, want = read_block(spark, idx, b), reader(b)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)


class TestMatchesSparkReader:
    @pytest.mark.parametrize("fmt", ["parquet", "orc"])
    def test_every_block_of_a_spark_layout(self, spark, tmp_path, fmt):
        path = str(tmp_path / "t")
        MicroBlockWriter(block_rows=10, format=fmt).write(
            spark.sql(TYPED_SQL).coalesce(1), path
        )
        idx = (
            MicroBlockIndex.build(path)
            if fmt == "parquet"
            else MicroBlockIndex.build_from_scan(spark, path, format="orc")
        )
        assert idx.num_blocks == 4
        _assert_blocks_match(
            spark, idx, lambda b: spark.read.format(fmt).load(idx.block_file(b))
        )

    def test_each_row_group_of_a_pyarrow_file(self, spark, tmp_path):
        """A block is one row group, not the file it sits in."""
        n = 1000
        table = pa.table({
            "k": pa.array(range(n), pa.int64()),
            "dec": pa.array([Decimal(i) / 4 for i in range(n)], pa.decimal128(12, 2)),
            "d": pa.array([dt.date(2021, 1, 1) + dt.timedelta(days=i) for i in range(n)]),
            "ts": pa.array([1_600_000_000_000_000 + 7 * i for i in range(n)],
                           pa.timestamp("us", "UTC")),
            "s": pa.array([None if i % 5 == 0 else f"v{i}" for i in range(n)]),
            "n": pa.array([None] * n, pa.int32()),
        })
        path = str(tmp_path / "rg.parquet")
        pq.write_table(table, path, row_group_size=250)
        idx = MicroBlockIndex.build_from_files([path])
        assert idx.num_blocks == 4

        def spark_rows(b):
            lo, hi = idx.block_row_range(b)
            return spark.read.parquet(path).where(
                F.col("_metadata.row_index").between(lo, hi)
            )

        _assert_blocks_match(spark, idx, spark_rows)
        assert [read_block(spark, idx, b).count() for b in range(4)] == [250] * 4

    def test_nanosecond_timestamps_truncate_like_load_table(self, spark, tmp_path):
        # -1,500 ns truncates to -1 µs, as Spark's `DIV` does; a floor
        # (what createDataFrame alone does) would give -2 µs
        ns = [1_600_000_000_123_456_789, -1_500, None]
        table = pa.table({"k": [1, 2, 3], "ts": pa.array(ns, pa.timestamp("ns"))})
        pq.write_table(table, str(tmp_path / "nanos.parquet"))
        pq.write_table(table, str(tmp_path / "int96.parquet"),
                       use_deprecated_int96_timestamps=True)
        for name in ("nanos", "int96"):
            idx = MicroBlockIndex.build_from_files([str(tmp_path / f"{name}.parquet")])
            got, want = read_block(spark, idx, 0), load_table(spark, str(tmp_path), name)
            assert got.schema["ts"].dataType.typeName() == "timestamp"
            assert got.schema == want.schema
            assert _rows(got) == _rows(want)
            assert [r["ts"] for r in _rows(got)] == [
                dt.datetime(2020, 9, 13, 12, 26, 40, 123456),
                dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
                None,
            ]


def _masked_sums(path: str, rg: int, first_row: int, deleted: set) -> tuple[int, int]:
    t = pq.ParquetFile(path).read_row_group(rg, columns=["k"])
    keep = [v for i, v in enumerate(t.column(0).to_pylist()) if first_row + i not in deleted]
    return len(keep), sum(keep)


class TestDeletionVectors:
    def test_dv_positions_offset_by_row_group(self, spark, tmp_path):
        path = str(tmp_path / "rg.parquet")
        pq.write_table(pa.table({"k": list(range(1000))}), path, row_group_size=250)
        idx = MicroBlockIndex.build_from_files([path])
        deleted = {0, 249, 250, 251, 600, 999}
        idx.dvs = {path: tuple(sorted(deleted))}
        for b in range(4):
            got = read_block(spark, idx, b).agg(F.count(F.lit(1)), F.sum("k")).first()
            assert tuple(got) == _masked_sums(path, b, 250 * b, deleted)

    def test_blocks_serve_the_rows_of_the_version(self, spark, tmp_path):
        store = ManifestStore(str(tmp_path / "m"))
        init_manifest_table(spark, store, spark.range(1000).withColumnRenamed("id", "k")
                            .coalesce(1), block_rows=250)
        rep = delete_where_mor(spark, store, "k % 100 = 7")
        assert rep["mode"] == "mor" and rep["deleted"] == 10
        cache = BlockCache(capacity=8)
        eng = MicroBlockEngine(spark, cache=cache)
        eng.register_manifest("dv", store)
        blocks = [read_block(spark, eng.index, b) for b in range(eng.index.num_blocks)]
        assert eng.index.num_blocks == 4
        assert sum(df.count() for df in blocks) == 990
        served = sorted(r["k"] for r in eng.table("dv").collect())
        assert sorted(r["k"] for df in blocks for r in df.collect()) == served

        # a new DV on one file drops exactly that file's cached block
        for b, df in enumerate(blocks):
            cache.put(b, df)
        file0 = eng.index.block_file(0)
        k0 = min(r["k"] for r in blocks[0].collect())
        delete_where_mor(spark, store, f"k = {k0}")
        eng.register_manifest("dv", store)
        assert eng.index.block_file(0) == file0
        assert cache.cached_ids() == [1, 2, 3]
        assert read_block(spark, eng.index, 0).count() == blocks[0].count() - 1


class TestVersionSchema:
    def test_blocks_serve_the_columns_of_the_version(self, spark, tmp_path):
        """After a metadata-only ``add_column`` a block has the version's
        columns, the added one as typed nulls until a rewrite writes it,
        and the cache drops the blocks it held under the old schema."""
        store = ManifestStore(str(tmp_path / "m"))
        init_manifest_table(spark, store, spark.range(100).withColumnRenamed("id", "k")
                            .coalesce(1), block_rows=25)
        cache = BlockCache(capacity=8)
        eng = MicroBlockEngine(spark, cache=cache)
        eng.register_manifest("evolved", store)
        for b in range(eng.index.num_blocks):
            cache.put(b, read_block(spark, eng.index, b))
        store.add_column("note", "string")
        eng.register_manifest("evolved", store)
        assert cache.cached_ids() == []

        def check(n_blocks):
            snap = store.snapshot()
            table = snap.read(spark)
            assert eng.index.num_blocks == n_blocks
            for b in range(n_blocks):
                got = read_block(spark, eng.index, b)
                assert got.columns == table.columns == ["k", "note"]
                assert got.schema == table.schema
                name = spark_file_name(eng.index.block_file(b))
                assert _rows(got) == _rows(table.where(F.col("_metadata.file_name") == name))

        check(4)
        assert all(r["note"] is None for r in read_block(spark, eng.index, 0).collect())
        update_where_cow(spark, store, "k < 10", {"note": "'hi'"})
        eng.register_manifest("evolved", store)
        check(4)
        notes = [r["note"] for b in range(4) for r in read_block(spark, eng.index, b).collect()]
        assert sorted(n for n in notes if n) == ["hi"] * 10


_THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


class TestArrowBatchRelation:
    """A block is planned over its Arrow batches (a ``LogicalRDD`` that
    holds no rows), and the threshold conf that selects that path is
    the same after the call as before it."""

    @pytest.fixture(scope="class")
    def idx(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("arrow_rel") / "rg.parquet")
        pq.write_table(pa.table({"k": list(range(2000)), "s": [f"v{i}" for i in range(2000)]}),
                       path, row_group_size=100)
        return MicroBlockIndex.build_from_files([path])

    def test_plan_has_no_local_relation(self, spark, idx):
        plan = _analyzed(read_block(spark, idx, 3))
        assert "LogicalRDD" in plan
        assert "LocalRelation" not in plan

    @pytest.mark.parametrize("before", [None, "1MB"])
    def test_threshold_conf_is_restored(self, spark, idx, before):
        if before is not None:
            spark.conf.set(_THRESHOLD, before)
        try:
            read_block(spark, idx, 0)
            assert spark.conf.get(_THRESHOLD, None) == before
        finally:
            spark.conf.unset(_THRESHOLD)

    def test_later_pandas_frames_keep_local_relation(self, spark, idx):
        import pandas as pd

        read_block(spark, idx, 0)
        assert "LocalRelation" in _analyzed(spark.createDataFrame(pd.DataFrame({"a": [1, 2]})))

    def test_concurrent_reads(self, spark, idx, frames):
        """Threads racing on the session conf and on one cache: reads,
        prefetches and gets of each block. Every block is still an
        Arrow-batch relation with pyarrow's checksums, each prefetched
        block is planned once however many gets race for it, and the
        conf is restored (an unlocked set/restore can leave it at 0)."""
        import sys
        import time
        from concurrent.futures import ThreadPoolExecutor

        ids = list(range(idx.num_blocks))
        cache = BlockCache(capacity=len(ids))
        pf = Prefetcher(spark, idx, cache)

        def sums(df):
            row = df.agg(F.count(F.lit(1)), F.sum("k")).first()
            return "LocalRelation" in _analyzed(df), tuple(row)

        def got(b):
            # the block's prefetch is queued ahead of this task; None
            # after the deadline fails the checks below instead of hanging
            deadline = time.monotonic() + 60
            while (df := cache.get(b)) is None and time.monotonic() < deadline:
                time.sleep(0.001)
            return df

        before = spark.conf.get(_THRESHOLD, None)
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            with ThreadPoolExecutor(8) as pool:
                tasks = [
                    (pool.submit(lambda b=b: sums(read_block(spark, idx, b))),
                     pool.submit(pf.prefetch_many, [b]),
                     pool.submit(got, b), pool.submit(got, b))
                    for b in ids
                ]
                done = [tuple(f.result(timeout=120) for f in t) for t in tasks]
        finally:
            sys.setswitchinterval(interval)
        path = idx.block_file(0)
        want = [(False, _masked_sums(path, b, 100 * b, set())) for b in ids]
        assert [read for read, *_ in done] == want
        assert [loaded for _, loaded, *_ in done] == [[b] for b in ids]
        assert all(first is second for *_, first, second in done)
        assert [sums(first) for *_, first, _ in done] == want
        assert len(frames) == 2 * len(ids)      # one per read, one per prefetched block
        assert spark.conf.get(_THRESHOLD, None) == before

    def test_block_with_every_row_deleted(self, spark, tmp_path):
        store = ManifestStore(str(tmp_path / "m"))
        init_manifest_table(spark, store, spark.range(100).withColumnRenamed("id", "k")
                            .withColumn("s", F.col("k").cast("string")).coalesce(1),
                            block_rows=25)
        rep = delete_where_mor(spark, store, "k < 25")
        assert rep["mode"] == "mor" and rep["deleted"] == 25
        eng = MicroBlockEngine(spark)
        eng.register_manifest("gone", store)
        schema = store.snapshot().read(spark).schema
        counts = []
        for b in range(eng.index.num_blocks):
            df = read_block(spark, eng.index, b)
            assert df.schema == schema
            counts.append(df.count())
            if counts[-1] == 0:
                row = df.agg(F.count(F.lit(1)), F.sum("k")).first()
                assert tuple(row) == (0, None)
        assert sorted(counts) == [0, 25, 25, 25]


class TestPrefetchPending:
    """``Prefetcher.prefetch_many`` caches a block's pyarrow Table; the
    cache plans its DataFrame on the first hit, once, and never for a
    block evicted unread."""

    @pytest.fixture(scope="class")
    def idx(self, spark, tmp_path_factory):
        path = str(tmp_path_factory.mktemp("pending") / "rg.parquet")
        pq.write_table(pa.table({"k": list(range(600))}), path, row_group_size=100)
        return MicroBlockIndex.build_from_files([path])

    def test_prefetch_plans_no_frame(self, spark, idx, frames):
        cache = BlockCache(capacity=idx.num_blocks)
        assert Prefetcher(spark, idx, cache).prefetch_many(list(range(6))) == list(range(6))
        assert frames == []
        assert cache.cached_ids() == list(range(6))

    def test_second_get_returns_the_first_frame(self, spark, idx, frames):
        cache = BlockCache(capacity=idx.num_blocks)
        Prefetcher(spark, idx, cache).prefetch_many([2])
        df = cache.get(2)
        assert cache.get(2) is df
        assert len(frames) == 1
        assert tuple(df.agg(F.count(F.lit(1)), F.sum("k")).first()) == \
            _masked_sums(idx.block_file(2), 2, 200, set())
        assert cache.hits == 2 and cache.misses == 0

    def test_block_evicted_unread_is_never_planned(self, spark, idx, frames):
        cache = BlockCache(capacity=2)
        assert Prefetcher(spark, idx, cache).prefetch_many([0, 1, 2, 3]) == [0, 1, 2, 3]
        assert cache.cached_ids() == [2, 3] and cache.evictions == 2
        assert cache.get(0) is None and cache.get(1) is None
        assert frames == []
        assert cache.get(3) is not None
        assert len(frames) == 1

    def test_first_get_serves_the_version(self, spark, tmp_path, frames):
        """A prefetched block of a ``for_version`` index with deletion
        vectors and an ``add_column`` column: its first hit has the
        version's schema and pyarrow's row count and checksums."""
        store = ManifestStore(str(tmp_path / "m"))
        init_manifest_table(spark, store, spark.range(100).withColumnRenamed("id", "k")
                            .coalesce(1), block_rows=25)
        rep = delete_where_mor(spark, store, "k % 10 = 3")
        assert rep["mode"] == "mor" and rep["deleted"] == 10
        store.add_column("note", "string")
        eng = MicroBlockEngine(spark)
        eng.register_manifest("evolved", store)
        idx = eng.index
        assert idx.num_blocks == 4 and idx.dvs
        schema = store.snapshot().read(spark).schema
        cache = BlockCache(capacity=4)
        Prefetcher(spark, idx, cache).prefetch_many(list(range(4)))
        frames.clear()
        for b in range(4):
            df = cache.get(b)
            assert df.schema == schema and df.columns == ["k", "note"]
            path, rg = idx.block_key(b)
            assert rg == 0                       # one row group per file
            row = df.agg(F.count(F.lit(1)), F.sum("k"), F.count("note")).first()
            assert tuple(row) == (*_masked_sums(path, 0, 0, set(idx.dvs[path])), 0)
        assert len(frames) == 4
