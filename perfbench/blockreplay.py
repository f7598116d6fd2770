"""The ``block_replay`` workload: a seeded skewed block-access trace over
a ~140-block microblock lineitem, through the block cache, the access
log and the LSTM prefetcher, driven inline by one client.

Each access probes ``BlockCache.get``; a miss reads the block
(``read_block``) and inserts it (``BlockCache.put``: persist and
materialize). Either way the client then consumes the block by computing
its row count and checksum, which is compared with the values pyarrow
reads from the block file. The access ends with ``AccessLogger.log`` and
``GlobalHistory.record``. Every ``PREFETCH_EVERY`` accesses the client
runs one ``PrefetchService.run_once()`` cycle inline (never ``start()``,
whose timer thread is not deterministic), with the service's default
k, probability floor and gate.
"""

from __future__ import annotations

import math
import os
import random
import time

from common import OpLog, log, timed

TARGET_BLOCKS = 140
CACHE_SLOTS = 32                  # smaller than the ~90-block hot set
PREFETCH_EVERY = 5                # accesses between inline prefetch cycles
HISTORY_LEN = 500
TRAIN_EVENTS, TRAIN_SEED, TRAIN_EPOCHS = 2000, 42, 8
WARM_CHUNK = PREFETCH_EVERY       # accesses per warm-up chunk (one cycle)
WARM_CHUNKS = (2, 3)              # min and max warm-up chunks
SETTLE = 0.10                     # chunk-to-chunk change that counts as settled


def trace_seed(seed: int) -> int:
    """Trace seed derived from the workload seed; never the training seed."""
    s = random.Random(f"block_replay:{seed}").randrange(1 << 30)
    return s + 1 if s == TRAIN_SEED else s


class BlockReplay:
    def __init__(self, ctx) -> None:
        self.ctx = ctx

    # ------------------------------------------------------------- set-up
    def setup(self) -> None:
        import pyarrow.parquet as pq

        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.ml.lstm import LSTMPrefetcher
        from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
        from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
        from columnar_database_project_spark.ml.training_set import build_from_sequence
        from columnar_database_project_spark.sources.index import MicroBlockIndex
        from columnar_database_project_spark.sources.microblock import MicroBlockWriter

        ctx = self.ctx
        src = os.path.join(ctx.data_dir, "lineitem.parquet")
        rows = pq.ParquetFile(src).metadata.num_rows
        path = os.path.join(ctx.run_dir, "lineitem_blocks")
        lineitem = load_table(ctx.spark, ctx.data_dir, "lineitem")
        # one writer task per core; block = file, ~TARGET_BLOCKS files in all
        parts = ctx.spark.sparkContext.defaultParallelism
        MicroBlockWriter(block_rows=math.ceil(rows / TARGET_BLOCKS)).write(lineitem.repartition(parts), path)
        self.index = MicroBlockIndex.build(path, table_id="lineitem")
        log(f"block layout written: {self.index.num_blocks} blocks")
        hi = self.index.num_blocks - 1
        self.ranges = [(0, min(25, hi)), (min(50, hi), min(80, hi)), (min(100, hi), hi)]
        # expected (rows, sum l_orderkey, sum l_linenumber) of every block
        self.expected = {}
        with ctx.checking():
            for b in range(self.index.num_blocks):
                t = pq.read_table(self.index.block_file(b), columns=["l_orderkey", "l_linenumber"])
                self.expected[b] = (t.num_rows,
                                    int(t.column(0).to_numpy().sum()),
                                    int(t.column(1).to_numpy().sum()))
        train = generate_mixed_logs(TRAIN_EVENTS, ranges=self.ranges, seed=TRAIN_SEED)
        ts = build_from_sequence(train)
        model = LSTMPrefetcher(ts.vocab_size, seed=7)
        model.fit(ts.inputs, ts.labels, epochs=TRAIN_EPOCHS)
        self.scheduler = PrefetchScheduler(model, ts.id2idx, ts.idx2id)
        log("prefetch model trained")

    def trace(self, seed: int, n: int) -> list[int]:
        from columnar_database_project_spark.ml.synthetic import generate_mixed_logs

        return generate_mixed_logs(n, ranges=self.ranges, seed=seed)

    def warm_up(self, seed: int) -> int:
        """Untimed replay in chunks until the wall time of one chunk is
        within ``SETTLE`` of the previous one. Returns the chunks run."""
        seq = self.trace(seed, WARM_CHUNK * WARM_CHUNKS[1])
        walls: list[float] = []
        state = self._fresh_state()
        for c in range(WARM_CHUNKS[1]):
            t0 = time.perf_counter()
            self._replay(seq[c * WARM_CHUNK:(c + 1) * WARM_CHUNK], OpLog(), state, c * WARM_CHUNK)
            walls.append(time.perf_counter() - t0)
            if len(walls) >= WARM_CHUNKS[0] and abs(walls[-1] - walls[-2]) <= SETTLE * walls[-2]:
                break
        state["cache"].clear()
        return len(walls)

    # ---------------------------------------------------------- execution
    def _fresh_state(self) -> dict:
        from columnar_database_project_spark.ml.prefetch import Prefetcher, PrefetchService
        from columnar_database_project_spark.storage.access_logger import AccessLogger, GlobalHistory
        from columnar_database_project_spark.storage.block_cache import BlockCache

        ctx = self.ctx
        cache = BlockCache(CACHE_SLOTS)
        history = GlobalHistory(HISTORY_LEN)
        log_path = os.path.join(ctx.run_dir, f"access-{len(os.listdir(ctx.run_dir))}.jsonl")
        service = PrefetchService(self.scheduler, Prefetcher(ctx.spark, self.index, cache),
                                  history, cache)
        return {"cache": cache, "history": history, "logger": AccessLogger(log_path),
                "log_path": log_path, "service": service, "pending": set(), "seen": 0,
                "useful": 0}

    def run(self, seq: list[int], log: OpLog) -> None:
        """Timed replay of ``seq`` from an empty cache."""
        self.state = self._fresh_state()
        self._replay(seq, log, self.state, 0)

    def _replay(self, seq: list[int], log: OpLog, st: dict, offset: int) -> None:
        from pyspark.sql import functions as F

        from columnar_database_project_spark.sources import microblock

        spark, tracer = self.ctx.spark, self.ctx.tracer
        cache, service, pending = st["cache"], st["service"], st["pending"]
        for i, block in enumerate(seq):
            tracer.op_id += 1
            hit_box = {}

            def access():
                df = cache.get(block)
                hit_box["hit"] = df is not None
                if df is None:
                    df = microblock.read_block(spark, self.index, block)
                    cache.put(block, df)
                with tracer.span("bench.consume", "bench"):
                    row = df.agg(F.count(F.lit(1)), F.sum("l_orderkey"), F.sum("l_linenumber")).first()
                st["logger"].log([block], query_id=f"q{offset + i}")
                st["history"].record(block)
                return tuple(int(v) for v in row)

            with tracer.span("bench.access", "bench"):
                got, dt, cpu, err = timed(access, self.ctx.cpu)
            want = self.expected[block]
            log.record("hit" if hit_box.get("hit") else "miss", "read", dt, cpu, not err and got == want,
                       err or f"block {block}: {got} != {want}")
            if block in pending:
                pending.discard(block)
                if hit_box.get("hit"):
                    st["useful"] += 1
            if (i + 1) % PREFETCH_EVERY == 0:
                tracer.op_id += 1
                _, cdt, ccpu, cerr = timed(service.run_once, self.ctx.cpu)
                log.record("prefetch_cycle", "cycle", cdt, ccpu, not cerr, cerr)
                fresh = service.issued_log[st["seen"]:]
                st["seen"] = len(service.issued_log)
                pending.update(fresh)

    def layer_counts(self) -> dict[str, float]:
        st = self.state
        stats = st["cache"].stats()
        issued = len(st["service"].issued_log)
        lookups = stats["hits"] + stats["misses"]
        return {
            "storage.block_cache.hits": stats["hits"],
            "storage.block_cache.misses": stats["misses"],
            "storage.block_cache.evictions": stats["evictions"],
            "storage.block_cache.hit_ratio": stats["hits"] / lookups if lookups else 0.0,
            "ml.prefetch.issued": issued,
            "ml.prefetch.useful": st["useful"],
            "ml.prefetch.precision": st["useful"] / issued if issued else 0.0,
            "storage.access_logger.bytes_written": os.path.getsize(st["log_path"])
            if os.path.exists(st["log_path"]) else 0,
        }

    def close(self) -> None:
        self.state["cache"].clear()

