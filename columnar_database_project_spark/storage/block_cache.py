"""BlockCache — locked LRU over persisted per-block DataFrames.

Re-expresses the reference's ``BlockCache`` (OrderedDict LRU of
block_id → Arrow table, reference block_cache.py:5-63) in Spark terms:
the cached value is a *persisted DataFrame* for one block (block =
file, see sources/microblock.py), so a cache hit reuses Spark's
BlockManager-resident columnar data instead of re-scanning parquet.

``put`` is lazy: it marks the DataFrame persisted and runs no job. The
first action on the block builds its cached columns — the consumer's own
read on a foreground miss, or the prefetcher's one materializing job per
cycle (ml/prefetch.py).

Deliberate fix over the reference: all mutation happens under a lock —
the reference shares its cache between the query path and the prefetch
daemon thread with no synchronization (reference
prefetch_service.py:49 + query_enginev5.py:266-276; SURVEY §2.5.6).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame

DEFAULT_CAPACITY = 64  # reference block_cache.py:13


class BlockCache:
    """LRU: block_id → persisted DataFrame (or any value).

    ``put`` persists (MEMORY_AND_DISK) without running a job; eviction
    unpersists. ``stats()`` matches the reference's surface
    (block_cache.py:58-63) plus hit/miss/eviction counters.
    """

    def __init__(self, capacity: int = DEFAULT_CAPACITY):
        self.capacity = capacity
        self._entries: OrderedDict[int, Any] = OrderedDict()
        self._lock = threading.RLock()
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    # -------------------------------------------------------------- core
    def get(self, block_id: int) -> Any | None:
        """Fetch + promote to MRU (reference block_cache.py:17-25)."""
        with self._lock:
            if block_id in self._entries:
                self._entries.move_to_end(block_id)
                self.hits += 1
                return self._entries[block_id]
            self.misses += 1
            return None

    def put(self, block_id: int, value: Any) -> None:
        """Insert or replace; evict LRU at capacity (reference
        block_cache.py:27-44). Replacing an existing block unpersists
        the displaced DataFrame and persists the replacement, so a
        re-put never leaks BlockManager storage or leaves the cached
        entry silently unpersisted."""
        displaced: Any | None = None
        with self._lock:
            if block_id in self._entries:
                displaced = self._entries[block_id]
                self._entries.move_to_end(block_id)
                self._entries[block_id] = value
            else:
                if len(self._entries) >= self.capacity:
                    _, displaced = self._entries.popitem(last=False)
                    self.evictions += 1
                self._entries[block_id] = value
        if isinstance(value, DataFrame) and value is not displaced:
            value.persist(StorageLevel.MEMORY_AND_DISK)
        if isinstance(displaced, DataFrame) and displaced is not value:
            displaced.unpersist()

    def touch(self, block_id: int) -> None:
        """Promote without insert (engine observation hook)."""
        with self._lock:
            if block_id in self._entries:
                self._entries.move_to_end(block_id)

    # ------------------------------------------------------ introspection
    def contains(self, block_id: int) -> bool:
        with self._lock:
            return block_id in self._entries

    def remove(self, block_id: int) -> bool:
        with self._lock:
            value = self._entries.pop(block_id, None)
        if isinstance(value, DataFrame):
            value.unpersist()
        return value is not None

    def clear(self) -> None:
        with self._lock:
            values = list(self._entries.values())
            self._entries.clear()
        for v in values:
            if isinstance(v, DataFrame):
                v.unpersist()

    def cached_ids(self) -> list[int]:
        with self._lock:
            return list(self._entries)

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)

    def stats(self) -> dict:
        with self._lock:
            return {
                "capacity": self.capacity,
                "size": len(self._entries),
                "hits": self.hits,
                "misses": self.misses,
                "evictions": self.evictions,
                "blocks": list(self._entries),
            }
