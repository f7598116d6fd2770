"""End-to-end: MicroBlockEngine observation loop + cache/prefetch over
a real block layout — the Spark restatement of the reference's
interactive path (SURVEY §3.1) and prefetch loop (§3.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.engine import MicroBlockEngine
from columnar_database_project_spark.ml.lstm import LSTMPrefetcher
from columnar_database_project_spark.ml.prefetch import Prefetcher, PrefetchService
from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
from columnar_database_project_spark.ml.training_set import build_from_sequence
from columnar_database_project_spark.sources.index import MicroBlockIndex
from columnar_database_project_spark.sources.microblock import MicroBlockWriter, read_block
from columnar_database_project_spark.storage.access_logger import (
    AccessLogger,
    GlobalHistory,
)
from columnar_database_project_spark.storage.block_cache import BlockCache
from spark_counters import jobs_run as _jobs_run


@pytest.fixture(scope="module")
def layout(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("eng") / "lineitem_blocks")
    li = load_table(spark, sf_dir, "lineitem").orderBy("l_orderkey", "l_linenumber")
    MicroBlockWriter(block_rows=500).write(li.repartition(1), out)
    return out, MicroBlockIndex.build(out, table_id="lineitem")


class TestEngineObservation:
    def test_query_logs_predicted_blocks(self, spark, layout, tmp_path):
        out, idx = layout
        logger = AccessLogger(str(tmp_path / "access.jsonl"))
        history = GlobalHistory(maxlen=100)
        eng = MicroBlockEngine(spark, index=idx, logger=logger, history=history)
        eng.register("lineitem", spark.read.parquet(out))

        res = eng.query(
            "SELECT count(*) AS c FROM lineitem WHERE l_orderkey BETWEEN 100 AND 200"
        ).collect()
        assert res[0]["c"] > 0
        blocks = logger.block_sequence()
        assert blocks, "access log must record predicted blocks"
        assert blocks == history.get_sequence()
        assert len(blocks) < idx.num_blocks  # narrow range → pruned prediction
        # usage counters updated? engine doesn't mark index; explicit call:
        idx.mark_access(blocks)
        assert all(
            next(iter(idx.by_block[b].values())).access_count == 1 for b in blocks
        )

    def test_explain_reports_both_layers_without_side_effects(
        self, spark, layout, tmp_path
    ):
        out, idx = layout
        logger = AccessLogger(str(tmp_path / "explain_access.jsonl"))
        cache = BlockCache(capacity=4)
        eng = MicroBlockEngine(spark, index=idx, logger=logger, cache=cache)
        eng.register("lineitem", spark.read.parquet(out))
        sql = (
            "SELECT count(*) AS c FROM lineitem"
            " WHERE l_orderkey BETWEEN 100 AND 200"
        )

        rep = eng.explain(sql)
        # physical layer: the filter reaches the scan, plan attached
        phys = rep["physical"]
        assert any("l_orderkey" in f for f in phys["pushed_filters"])
        assert phys["codegen_spans"] >= 1
        assert "Exchange" in phys["plan"] or phys["exchanges"] >= 0
        # zone-map layer: narrow key range → real pruning, ids bounded
        zone = rep["zone_map"]
        assert 0 < zone["blocks_predicted"] < zone["blocks_total"]
        assert zone["selectivity"] < 1.0
        assert len(zone["predicted_ids"]) <= 64
        assert zone["predicted_cached"] == 0  # cold cache
        # side-effect-free: no access-log rows, nothing cached
        assert logger.block_sequence() == []
        assert len(cache) == 0
        # temporal predicates prune too (the r7 zone-map fix), through
        # the same public surface
        t_rep = eng.explain(
            "SELECT count(*) AS c FROM lineitem"
            " WHERE l_shipdate < '1800-01-01'"
        )
        assert t_rep["zone_map"]["blocks_predicted"] == 0

    def test_result_cache_hit_skips_observation(self, spark, layout, tmp_path):
        """Pins the documented observability decision (engine.py
        query_cached docstring): a result-cache MISS runs the query →
        one observation in the access log; a HIT reads no blocks →
        NO new observation (phantom accesses would mistrain the
        prefetcher); hit-side telemetry lives in result_cache_stats."""
        out, idx = layout
        logger = AccessLogger(str(tmp_path / "rc.jsonl"))
        eng = MicroBlockEngine(spark, index=idx, logger=logger)
        eng.register("lineitem", spark.read.parquet(out))
        sql = "SELECT count(*) AS c FROM lineitem WHERE l_orderkey BETWEEN 100 AND 200"

        eng.query_cached(sql)  # miss → executes + observes
        after_miss = len(logger.block_sequence())
        assert after_miss > 0
        eng.query_cached(sql)  # hit → served from cache, no observation
        assert len(logger.block_sequence()) == after_miss
        stats = eng.result_cache_stats()
        assert stats["hits"] == 1 and stats["misses"] == 1

    def test_query_without_where_logs_all(self, spark, layout, tmp_path):
        out, idx = layout
        logger = AccessLogger(str(tmp_path / "a2.jsonl"))
        eng = MicroBlockEngine(spark, index=idx, logger=logger)
        eng.register("lineitem", spark.read.parquet(out))
        eng.query("SELECT count(*) AS c FROM lineitem").collect()
        assert len(logger.block_sequence()) == idx.num_blocks


class TestPrefetchStack:
    def test_prefetcher_loads_into_cache(self, spark, layout):
        _, idx = layout
        cache = BlockCache(capacity=4)
        pf = Prefetcher(spark, idx, cache)
        assert pf.prefetch_block(0) is True
        assert pf.prefetch_block(0) is False       # already cached
        assert pf.prefetch_block(10**6) is False   # unknown block
        assert cache.contains(0)
        df = cache.get(0)
        assert df.count() == 500                   # the block itself, persisted
        cache.clear()

    def test_service_cycle_end_to_end(self, spark, layout):
        """log → train → schedule → prefetch: the reference smoke test
        (smoke_test.py:5-68) with assertions."""
        _, idx = layout
        n_blocks = idx.num_blocks
        # synthetic sequential access over the real block-id space
        seq = generate_mixed_logs(
            1200, ranges=[(0, n_blocks - 1)], seed=11
        )
        ts = build_from_sequence(seq)
        model = LSTMPrefetcher(ts.vocab_size)
        model.fit(ts.inputs, ts.labels, epochs=6)
        sched = PrefetchScheduler(model, ts.id2idx, ts.idx2id)

        cache = BlockCache(capacity=6)
        history = GlobalHistory(maxlen=100)
        history.record_many(seq[-40:])
        svc = PrefetchService(
            sched,
            Prefetcher(spark, idx, cache),
            history,
            cache,
            interval=3600,
            k=3,
        )
        n = svc.run_once()
        assert n > 0
        assert len(cache) == n
        # cached blocks are real, readable blocks
        for bid in cache.cached_ids():
            assert cache.get(bid).count() == 500 or cache.get(bid).count() > 0
        # second cycle excludes what's cached
        first = set(cache.cached_ids())
        svc.run_once()
        assert set(cache.cached_ids()) >= first or len(cache) == cache.capacity
        cache.clear()

    def test_lstm_prefetch_beats_lru_on_sequential_walk(self, spark, layout):
        """The thesis number's invariant, pinned (bench_prefetch_ab
        measures it at scale): on a cyclic sequential walk over N
        blocks with cache capacity < N — LRU's pathological case,
        every revisit arrives exactly after eviction — plain LRU hits
        ~never, while the LSTM's next-block prefetch runs ahead of
        the walk and converts those misses to hits."""
        _, idx = layout
        n_blocks = idx.num_blocks
        walk = [i % n_blocks for i in range(360)]
        ts = build_from_sequence(walk)
        model = LSTMPrefetcher(ts.vocab_size, seed=3)
        model.fit(ts.inputs, ts.labels, epochs=4)
        sched = PrefetchScheduler(model, ts.id2idx, ts.idx2id)

        eval_seq = [i % n_blocks for i in range(60)]
        rates = {}
        for tag, with_lstm in (("lru", False), ("lstm", True)):
            cache = BlockCache(capacity=max(2, n_blocks // 2))
            history = GlobalHistory(maxlen=100)
            svc = (
                PrefetchService(
                    sched,
                    Prefetcher(spark, idx, cache),
                    history,
                    cache,
                    interval=3600,
                    k=3,
                )
                if with_lstm
                else None
            )
            for i, b in enumerate(eval_seq):
                if cache.get(b) is None:
                    cache.put(b, spark.read.parquet(idx.block_file(b)))
                history.record(b)
                if svc is not None and (i + 1) % 3 == 0:
                    svc.run_once()
            s = cache.stats()
            rates[tag] = s["hits"] / (s["hits"] + s["misses"])
            cache.clear()
        assert rates["lru"] < 0.2            # the pathological case is real
        assert rates["lstm"] > rates["lru"] + 0.2   # and the LSTM escapes it

    def test_service_thread_start_stop(self, spark, layout):
        _, idx = layout
        cache = BlockCache(capacity=2)
        history = GlobalHistory()
        sched = PrefetchScheduler(
            LSTMPrefetcher(num_tokens=4), {1: 1, 2: 2, 3: 3}, {1: 1, 2: 2, 3: 3}
        )
        svc = PrefetchService(
            sched, Prefetcher(spark, idx, cache), history, cache, interval=0.05
        )
        svc.start()
        svc.start()   # idempotent
        import time

        time.sleep(0.2)
        svc.stop()
        assert not svc._thread.is_alive()


def _block_sums(path: str) -> tuple[int, int]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["v"])
    return t.num_rows, int(t.column(0).to_numpy().sum())


class TestBlockLoadJobs:
    """A block load runs no Spark job: read_block reads the row group
    into the driver with pyarrow, BlockCache.put only keeps the
    reference and a prefetch cycle is just reads and puts."""

    @pytest.fixture(scope="class")
    def blocks(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("jobs") / "t")
        df = spark.range(0, 1400).withColumn("v", F.col("id") * 3)
        MicroBlockWriter(block_rows=10).write(df.repartition(1), out)
        return out

    def test_read_block_runs_no_job(self, spark, blocks):
        idx = MicroBlockIndex.build(blocks, table_id="t")
        assert idx.num_blocks == 140
        dfs = []
        ids = range(0, 80, 10)
        jobs = _jobs_run(spark, lambda: dfs.extend(read_block(spark, idx, b) for b in ids))
        assert jobs == []
        for b, df in zip(ids, dfs):
            assert df.rdd.getNumPartitions() == 1
            row = df.agg(F.count(F.lit(1)), F.sum("v")).first()
            assert (row[0], row[1]) == _block_sums(idx.block_file(b))

    def test_read_block_keys_on_each_footer_schema(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tables = [
            pa.table({"k": [1, 2, 3], "s": ["a", "b", None]}),
            pa.table({"k": [4, 5], "x": [0.5, None], "s": ["c", "d"]}),
            pa.table({"k": [6], "s": ["e"]}),   # same schema as the first
        ]
        files = []
        for i, t in enumerate(tables):
            files.append(str(tmp_path / f"b{i}.parquet"))
            pq.write_table(t, files[-1])
        idx = MicroBlockIndex.build_from_files(files, table_id="mixed")
        dfs = []
        assert _jobs_run(spark, lambda: dfs.extend(read_block(spark, idx, b) for b in range(3))) == []
        for b, df in enumerate(dfs):
            got = df.toPandas()
            want = pq.read_table(idx.block_file(b)).to_pandas()
            assert list(got.columns) == list(want.columns)
            assert got.astype(object).where(got.notna(), None).values.tolist() == \
                want.astype(object).where(want.notna(), None).values.tolist()

    def test_put_runs_no_job(self, spark, blocks):
        idx = MicroBlockIndex.build(blocks, table_id="t")
        cache = BlockCache(capacity=1)
        dfs = [read_block(spark, idx, b) for b in (1, 2)]
        # the second put evicts the first block
        assert _jobs_run(spark, lambda: [cache.put(b, df) for b, df in zip((1, 2), dfs)]) == []
        assert cache.cached_ids() == [2] and cache.evictions == 1
        assert not any(df.storageLevel.useMemory for df in dfs)
        cache.clear()

    def test_prefetch_many_runs_no_job(self, spark, tmp_path):
        import shutil

        out = str(tmp_path / "t")
        df = spark.range(0, 2000).withColumn("v", F.col("id") * 7)
        MicroBlockWriter(block_rows=250).write(df.repartition(1), out)
        idx = MicroBlockIndex.build(out, table_id="t")
        want = {b: _block_sums(idx.block_file(b)) for b in range(idx.num_blocks)}
        cache = BlockCache(capacity=idx.num_blocks)
        pf = Prefetcher(spark, idx, cache)
        pf.prefetch_block(0)
        loaded = []
        ids = [3, 1, 10**6, 2, 0, 4]
        jobs = _jobs_run(spark, lambda: loaded.extend(pf.prefetch_many(ids)))
        assert loaded == [3, 1, 2, 4]           # suggestion order, unknown and cached skipped
        assert jobs == []
        shutil.rmtree(out)   # consuming must not touch the files
        for b in [0, *loaded]:
            row = cache.get(b).agg(F.count(F.lit(1)), F.sum("v")).first()
            assert (row[0], row[1]) == want[b]
        cache.clear()

    def test_cycle_larger_than_cache(self, spark, blocks):
        class _Scheduler:
            def suggest_topk_prefetch(self, sequence, k, exclude_blocks):
                return [(b, 0.9) for b in range(10) if b not in exclude_blocks][:k]

        class _Recording(Prefetcher):
            def prefetch_many(self, block_ids):
                self.returned = super().prefetch_many(block_ids)
                return self.returned

        idx = MicroBlockIndex.build(blocks, table_id="t")
        cache = BlockCache(3)
        history = GlobalHistory()
        history.record_many([0, 1, 2])
        pf = _Recording(spark, idx, cache)
        svc = PrefetchService(_Scheduler(), pf, history, cache, interval=3600, k=10)
        assert svc.run_once() == 10
        assert svc.issued_log == pf.returned == list(range(10))
        assert cache.cached_ids() == [7, 8, 9]
        assert cache.evictions == 7
        assert svc.economics.issued == 10
        cache.clear()
