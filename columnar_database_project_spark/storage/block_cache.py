"""BlockCache — locked LRU over per-block values.

Re-expresses the reference's ``BlockCache`` (OrderedDict LRU of
block_id → Arrow table, reference block_cache.py:5-63). A demand read
caches what ``sources/microblock.read_block`` returns: a small
DataFrame over the block's Arrow IPC batches, which pyarrow already
read into the driver, so a hit re-reads no file. A prefetch caches a
``Pending`` entry instead, the block's pyarrow Table from
``read_block_table``, as the reference's prefetch caches the
``read_row_group`` table; ``get`` plans its DataFrame on the first hit
and keeps that in the entry's place, so a prefetched block evicted
unread never costs a DataFrame. Neither ``put``, a first hit nor
eviction runs a Spark job: eviction just drops the reference. Cached
blocks therefore live in driver memory (capacity × block bytes; see
DEPLOY.md).

Deliberate fix over the reference: all mutation happens under a lock —
the reference shares its cache between the query path and the prefetch
daemon thread with no synchronization (reference
prefetch_service.py:49 + query_enginev5.py:266-276; SURVEY §2.5.6).
A pending entry is built under that lock too, so it is built once
however many threads hit it.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

DEFAULT_CAPACITY = 64  # reference block_cache.py:13


class Pending:
    """A cache value ``get`` builds on its first hit: ``build()``
    returns the value that replaces the entry."""

    __slots__ = ("build",)

    def __init__(self, build: Callable[[], Any]) -> None:
        self.build = build


class BlockCache:
    """LRU: block_id → block DataFrame, ``Pending`` block (or any value).

    ``stats()`` matches the reference's surface (block_cache.py:58-63)
    plus hit/miss/eviction counters.
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
        """Fetch + promote to MRU (reference block_cache.py:17-25). A
        ``Pending`` entry is built, and replaced by what it built."""
        with self._lock:
            if block_id in self._entries:
                self._entries.move_to_end(block_id)
                self.hits += 1
                value = self._entries[block_id]
                if isinstance(value, Pending):
                    value = self._entries[block_id] = value.build()
                return value
            self.misses += 1
            return None

    def put(self, block_id: int, value: Any) -> None:
        """Insert or replace; evict LRU at capacity (reference
        block_cache.py:27-44)."""
        with self._lock:
            if block_id in self._entries:
                self._entries.move_to_end(block_id)
            elif len(self._entries) >= self.capacity:
                self._entries.popitem(last=False)
                self.evictions += 1
            self._entries[block_id] = value

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
            return self._entries.pop(block_id, None) is not None

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()

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
