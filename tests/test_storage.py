"""Unit tests: BlockCache LRU semantics, AccessLogger, GlobalHistory."""

from __future__ import annotations

import threading

from columnar_database_project_spark.storage.access_logger import (
    AccessLogger,
    GlobalHistory,
)
from columnar_database_project_spark.storage.block_cache import BlockCache, Pending


class TestBlockCache:
    def test_put_get_promotes(self):
        c = BlockCache(capacity=2)
        c.put(1, "a")
        c.put(2, "b")
        assert c.get(1) == "a"      # 1 becomes MRU
        c.put(3, "c")               # evicts 2 (LRU)
        assert c.get(2) is None
        assert c.get(1) == "a"
        assert c.get(3) == "c"
        assert c.evictions == 1

    def test_reput_updates_without_evict(self):
        c = BlockCache(capacity=2)
        c.put(1, "a")
        c.put(2, "b")
        c.put(1, "a2")
        assert len(c) == 2
        assert c.get(1) == "a2"
        assert c.evictions == 0

    def test_put_and_evict_leave_storage_alone(self, spark, sf_dir):
        # A cached block already lives in the driver (read_block), so
        # the cache only holds references: put persists nothing, and
        # replacing or evicting a value never unpersists it, even one
        # its caller persisted.
        c = BlockCache(capacity=1)
        old = spark.read.parquet(f"{sf_dir}/region.parquet")
        new = spark.read.parquet(f"{sf_dir}/nation.parquet").persist()
        c.put(1, old)
        assert not old.storageLevel.useMemory
        c.put(1, new)                              # replace
        assert c.get(1) is new and c.evictions == 0
        c.put(2, old)                              # evicts block 1
        assert c.cached_ids() == [2] and c.evictions == 1
        assert new.storageLevel.useMemory
        assert not old.storageLevel.useMemory
        new.unpersist()

    def test_pending_is_built_on_its_first_hit(self):
        c = BlockCache(capacity=4)
        built = []
        c.put(1, Pending(lambda: built.append(1) or "frame"))
        c.put(2, len)                             # a callable value is just a value
        assert built == []
        assert c.get(1) == "frame" and c.get(1) == "frame"
        assert built == [1]
        assert c.get(2) is len
        assert c.hits == 3 and c.misses == 0

    def test_stats_surface(self):
        c = BlockCache(capacity=4)
        c.put(1, "x")
        c.get(1)
        c.get(9)
        s = c.stats()
        assert s["capacity"] == 4
        assert s["size"] == 1
        assert s["hits"] == 1
        assert s["misses"] == 1
        assert s["blocks"] == [1]

    def test_remove_clear(self):
        c = BlockCache(capacity=4)
        c.put(1, "x")
        assert c.remove(1)
        assert not c.remove(1)
        c.put(2, "y")
        c.clear()
        assert len(c) == 0

    def test_thread_safety_smoke(self):
        c = BlockCache(capacity=8)
        errors = []

        def worker(base):
            try:
                for i in range(500):
                    c.put(base + i % 16, i)
                    c.get(i % 16)
            except Exception as e:   # pragma: no cover
                errors.append(e)

        threads = [threading.Thread(target=worker, args=(k,)) for k in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errors
        assert len(c) <= 8


class TestAccessLogger:
    def test_append_and_read(self, tmp_path):
        log = AccessLogger(str(tmp_path / "log.jsonl"))
        log.log([1, 2, 3], ts=100.0, query_id="q1")
        log.log([2], ts=101.0, query_id="q2")
        events = log.read_events()
        assert [e["block"] for e in events] == [1, 2, 3, 2]
        assert events[0]["query_id"] == "q1"
        assert log.block_sequence() == [1, 2, 3, 2]

    def test_append_only_is_incremental(self, tmp_path):
        # §2.5.5 fix: file grows by exactly the new lines (no rewrite)
        p = tmp_path / "log.jsonl"
        log = AccessLogger(str(p))
        log.log([1], ts=1.0)
        size1 = p.stat().st_size
        log.log([2], ts=2.0)
        size2 = p.stat().st_size
        assert size2 > size1
        assert size2 - size1 <= size1 + 8  # one line appended, not rewritten


class TestGlobalHistory:
    def test_rolling_window(self):
        h = GlobalHistory(maxlen=3)
        h.record_many([1, 2, 3, 4])
        assert h.get_sequence() == [2, 3, 4]
        assert h.get_sequence(2) == [3, 4]
        h.record(5)
        assert len(h) == 3
