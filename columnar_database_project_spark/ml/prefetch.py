"""Prefetcher + background PrefetchService.

Re-expresses reference prefetch.py:19-43 and prefetch_service.py:35-96
in Spark terms: "prefetch block" = read the block into the driver with
``read_block_table`` (one row group through pyarrow) and put it into
the BlockCache as a ``Pending`` entry, the block's pyarrow Table. The
cache plans the block's DataFrame on its first hit, so a prefetched
block evicted unread costs only its read. A load is just that read: it
makes no Spark call, so prefetching cannot starve foreground queries
of executor slots (the reference's daemon thread shares everything
unsynchronized — SURVEY §2.5.6; here the cache is locked).
"""

from __future__ import annotations

import threading
import time
from functools import partial

from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
from columnar_database_project_spark.sources import microblock
from columnar_database_project_spark.sources.index import MicroBlockIndex
from columnar_database_project_spark.storage.access_logger import GlobalHistory
from columnar_database_project_spark.storage.block_cache import BlockCache, Pending


class _Ewma:
    """EWMA with the same α=0.2 the block-usage stats use (C6)."""

    def __init__(self, alpha: float = 0.2) -> None:
        self.alpha = alpha
        self.value: float | None = None

    def update(self, x: float) -> None:
        self.value = (
            x if self.value is None else self.alpha * x + (1 - self.alpha) * self.value
        )


class PrefetchEconomics:
    """Running profitability model for speculative block loads
    (VERDICT r9 #3 — the last unquantified 100 TB claim in §2.4).

    At scale the bill for a prefetch is its read; the payoff is a
    foreground miss converted to a hit. From its own observations —
    per-prefetch read seconds, per-access hit/miss seconds, and the
    fraction of issued prefetches later hit (precision) — the model
    projects the net benefit of the NEXT prefetch:

        projected = precision × (miss_sec − hit_sec) − read_sec

    ``read_sec`` is the pyarrow read a prefetch makes
    (``Prefetcher.prefetch_many``); the DataFrame of a prefetched block
    is planned on its first hit, so that cost is charged to the
    foreground access that hits it (``hit_sec``).

    ``None`` until ``warmup_issues`` prefetches have been observed
    (no evidence, no verdict). The service consults this before every
    cycle when its economics gate is on; estimates can also be seeded
    from a prior calibration run (the access-log observability layer
    C4–C6 exists to provide exactly that evidence in production).

    Attribution rules (ADVICE r10): a pending speculative read is
    credited ONLY if the block's next foreground access is a hit — a
    MISS on a pending block proves the prefetched copy was evicted
    before it paid, so the claim is discarded (otherwise the later
    foreground-cached re-read would be mis-credited as a prefetch hit,
    inflating precision and biasing the gate toward issuing).
    ``pending`` is additionally bounded (FIFO eviction of the oldest
    claim) so a long-running service cannot grow it without limit.
    All mutators share one lock: ``note_prefetch`` runs on the
    service's daemon thread while ``note_access`` is called from the
    foreground, and the EWMA read-modify-writes would race unlocked.
    """

    def __init__(self, warmup_issues: int = 20, max_pending: int = 1024) -> None:
        self.warmup_issues = warmup_issues
        self.max_pending = max_pending
        self.issued = 0
        self.prefetch_hits = 0
        self.pending: dict[int, None] = {}   # insertion-ordered set
        self.miss_sec = _Ewma()
        self.hit_sec = _Ewma()
        self.read_sec = _Ewma()
        self._lock = threading.Lock()

    def note_prefetch(self, block_id: int, sec: float) -> None:
        with self._lock:
            self.issued += 1
            self.pending.pop(block_id, None)   # re-issue refreshes age
            self.pending[block_id] = None
            while len(self.pending) > self.max_pending:
                self.pending.pop(next(iter(self.pending)))
            self.read_sec.update(sec)

    def note_access(self, block_id: int, hit: bool, sec: float) -> None:
        with self._lock:
            (self.hit_sec if hit else self.miss_sec).update(sec)
            if block_id in self.pending:
                # hit → the speculative read paid; miss → it was
                # evicted unused. Either way the claim is settled.
                if hit:
                    self.prefetch_hits += 1
                del self.pending[block_id]

    @property
    def precision(self) -> float:
        return self.prefetch_hits / max(1, self.issued)

    def projected_net_sec_per_prefetch(self) -> float | None:
        with self._lock:
            if self.issued < self.warmup_issues:
                return None
            if None in (
                self.miss_sec.value, self.hit_sec.value, self.read_sec.value
            ):
                return None
            return (
                self.precision * (self.miss_sec.value - self.hit_sec.value)
                - self.read_sec.value
            )


class Prefetcher:
    """Load predicted blocks into the cache (reference prefetch.py:19-43)."""

    def __init__(self, spark, index: MicroBlockIndex, cache: BlockCache):
        self.spark = spark
        self.index = index
        self.cache = cache

    def prefetch_block(self, block_id: int) -> bool:
        """False when already cached or unknown; True when loaded."""
        return bool(self.prefetch_many([block_id]))

    def prefetch_many(self, block_ids: list[int]) -> list[int]:
        """Read and put, in the given order, the blocks that are neither
        cached nor unknown; return their ids in that order. Each is put
        as a ``Pending`` Table whose DataFrame the cache plans on its
        first hit."""
        loaded: list[int] = []
        for b in block_ids:
            if b in loaded or self.cache.contains(b):
                continue
            try:
                table, schema = microblock.read_block_table(self.index, b)
            except KeyError:   # not a block of this index
                continue
            self.cache.put(b, Pending(partial(microblock.block_frame, self.spark, table, schema)))
            loaded.append(b)
        return loaded


class PrefetchService:
    """Driver daemon thread: every ``interval`` seconds, predict top-K
    next blocks from the global history and prefetch the misses
    (reference prefetch_service.py:35-96)."""

    def __init__(
        self,
        scheduler: PrefetchScheduler,
        prefetcher: Prefetcher,
        history: GlobalHistory,
        cache: BlockCache,
        interval: float = 60.0,
        history_len: int = 100,
        k: int = 10,
        min_prob: float = 0.0,
        economics_gate: bool = False,
        economics: PrefetchEconomics | None = None,
        concurrent_issue: int = 1,
    ) -> None:
        self.scheduler = scheduler
        self.prefetcher = prefetcher
        self.history = history
        self.cache = cache
        self.interval = interval
        self.history_len = history_len
        self.k = k
        # Confidence floor (r8 prefetch economics): at 100 TB the
        # wasted speculative reads ARE the bill, so suggestions below
        # this sigmoid probability are dropped even inside the top-k.
        # 0.0 keeps the reference's pure-top-k behavior;
        # tools/prefetch_ab.py sweeps it (min_prob_sweep).
        self.min_prob = min_prob
        # Net-benefit gate (r9 #3): with the gate on, a cycle issues
        # NOTHING while the projected net benefit per prefetch is
        # negative — speculative IO must pay for itself in saved
        # foreground time, measured, not assumed. Feed the model via
        # ``note_access``; seed it from a calibration run to gate
        # from the first cycle.
        self.economics = economics if economics is not None else PrefetchEconomics()
        self.economics_gate = economics_gate
        # Issue width for one cycle's speculative loads. 1 (default)
        # loads the cycle's batch with ``prefetch_many``. >1 issues one
        # ``prefetch_block`` per suggestion from a thread pool: against
        # a remote object store the GET latency dominates and
        # concurrent background GETs overlap. Either way the cost the
        # economics model sees is the amortized batch wall per block
        # (the gate criterion is foreground seconds saved vs background
        # seconds SPENT, and a batch of N loads spends wall/N per
        # block).
        self.concurrent_issue = max(1, int(concurrent_issue))
        self.gate_skips = 0
        self.prefetch_read_sec = 0.0   # actual block-read time issued
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.cycles = 0
        self.prefetched = 0
        self.suppressed = 0          # suggestions dropped by the floor
        self.issued_log: list[int] = []  # every block actually loaded

    def run_once(self) -> int:
        """One prediction+prefetch cycle; returns blocks prefetched."""
        seq = self.history.get_sequence(self.history_len)
        if not seq:
            return 0
        cached = set(self.cache.cached_ids())
        suggestions = self.scheduler.suggest_topk_prefetch(
            sequence=seq, k=self.k, exclude_blocks=cached
        )
        if not suggestions:
            return 0
        if self.min_prob > 0.0:
            kept = [(b, p) for b, p in suggestions if p >= self.min_prob]
            self.suppressed += len(suggestions) - len(kept)
            suggestions = kept
        if self.economics_gate:
            net = self.economics.projected_net_sec_per_prefetch()
            if net is not None and net < 0:
                self.gate_skips += 1
                self.cycles += 1
                return 0
        t0 = time.time()
        if self.concurrent_issue > 1 and len(suggestions) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(self.concurrent_issue, len(suggestions))
            ) as pool:
                oks = list(
                    pool.map(
                        lambda bp: self.prefetcher.prefetch_block(bp[0]),
                        suggestions,
                    )
                )
            loaded = [b for (b, _p), ok in zip(suggestions, oks) if ok]
        else:
            loaded = self.prefetcher.prefetch_many([b for b, _p in suggestions])
        wall = time.time() - t0
        self.prefetch_read_sec += wall
        per = wall / max(1, len(loaded))
        for b in loaded:
            self.economics.note_prefetch(b, per)
        self.issued_log.extend(loaded)
        self.prefetched += len(loaded)
        self.cycles += 1
        return len(loaded)

    def note_access(self, block_id: int, hit: bool, sec: float) -> None:
        """Feed the economics model one foreground access observation
        (the cache owner calls this where the read happens)."""
        self.economics.note_access(block_id, hit, sec)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            try:
                self.run_once()
            except Exception:   # keep the daemon alive (parity with reference)
                pass

    def start(self) -> None:
        if self._thread and self._thread.is_alive():
            return
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._loop, daemon=True, name="prefetch-service"
        )
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread:
            self._thread.join(timeout=5)
