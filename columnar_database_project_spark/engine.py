"""MicroBlockEngine — the engine façade.

Spark-first restatement of the reference's ``StorageEngineV5``
(reference query_enginev5.py:18-305). The reference's query lifecycle
is parse → zone-map prune → log access → cache probe → read row groups
→ concat → register → delegate SQL to DuckDB. On Spark, stages
parse/prune/read/execute are Catalyst + the vectorized Parquet reader
(filter pushdown does row-group pruning natively); what remains OURS is
the observability + caching + prefetch layer:

- ``MicroBlockIndex``: explicit per-(block × column) zone-map metadata
  (reference microblock_index.py:107-171) used to *predict* pruning and
  to drive the cache/prefetch subsystems.
- ``AccessLogger`` + ``GlobalHistory``: which blocks each query touched
  (reference access_logger.py:29-58) — the training-data tap.
- ``BlockCache``: LRU of per-block DataFrames whose rows ``read_block``
  already loaded into the driver, and of prefetched blocks held as
  pyarrow Tables until their first hit plans the DataFrame (reference
  block_cache.py:5-44).
- ``PrefetchService``: background predictor loop (reference
  prefetch_service.py:35-96).

All components are optional — the plain SQL surface works with none of
them attached.
"""

from __future__ import annotations

import time
import uuid
from collections import OrderedDict
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame, SparkSession

from columnar_database_project_spark.catalog import register_dir
from columnar_database_project_spark.storage import cow

if TYPE_CHECKING:  # pragma: no cover
    from columnar_database_project_spark.sources.index import MicroBlockIndex
    from columnar_database_project_spark.storage.access_logger import (
        AccessLogger,
        GlobalHistory,
    )
    from columnar_database_project_spark.storage.block_cache import BlockCache


class MicroBlockEngine:
    """Catalog + SQL surface + storage-optimization hooks.

    Parameters
    ----------
    spark : the session.
    table_dir : directory of ``<name>.parquet`` tables to register.
    index : optional MicroBlockIndex for pruning prediction / logging.
    cache : optional BlockCache (LRU over driver-resident blocks).
    logger : optional AccessLogger (JSONL access log).
    history : optional GlobalHistory (rolling deque of block ids).
    """

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str | None = None,
        index: "MicroBlockIndex | None" = None,
        cache: "BlockCache | None" = None,
        logger: "AccessLogger | None" = None,
        history: "GlobalHistory | None" = None,
    ) -> None:
        self.spark = spark
        self.tables: dict[str, DataFrame] = {}
        self.index = index
        self.cache = cache
        self.logger = logger
        self.history = history
        self._table_dir = table_dir
        self._catalog_version = 0
        self._result_cache: "OrderedDict[tuple, Any]" = OrderedDict()
        self._result_cache_stats = {"hits": 0, "misses": 0, "bypassed": 0}
        if table_dir:
            self.tables = register_dir(spark, table_dir)

    # ------------------------------------------------------------- catalog
    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        # any catalog change invalidates cached results (conservative:
        # correctness over retention — see query_cached). The version
        # bump already makes stale keys unreachable; clearing as well
        # releases their driver memory immediately instead of waiting
        # for LRU aging.
        self._catalog_version += 1
        self._result_cache.clear()

    def table(self, name: str) -> DataFrame:
        return self.tables[name]

    # ----------------------------------------------------------------- DML
    # Every verb commits a new version of a ManifestStore table
    # (storage/cow.py): CoW rewrites only the blocks the zone-map/Bloom
    # triage cannot prove untouched, MoR writes deletion vectors.

    def _dml(
        self, verb, name: str, mstore, *args, auto_compact: bool, **kw
    ) -> dict:
        """Run the storage/cow function ``verb`` on ``mstore`` and
        register ``name`` from the version it committed. ``auto_compact``
        (on by default for the MoR verbs) then runs the
        threshold-triggered DV materialization
        (storage/cow.maybe_compact_mor) — the read tax is bounded by the
        engine, not by an operator remembering DEPLOY.md."""
        report = verb(self.spark, mstore, *args, **kw)
        if auto_compact:
            report["auto_compact"] = cow.maybe_compact_mor(
                self.spark, mstore, block_rows=kw.get("block_rows")
            )
        self.register(name, mstore.read(self.spark))
        return report

    def delete_where_cow(self, name: str, predicate, mstore, **kw) -> dict:
        return self._dml(
            cow.delete_where_cow, name, mstore, predicate,
            auto_compact=False, **kw,
        )

    def delete_where_mor(
        self, name: str, predicate, mstore, auto_compact: bool = True, **kw
    ) -> dict:
        """Merge-on-read DELETE: commits a deletion vector, zero data
        files written (storage/cow.delete_where_mor); falls back to
        CoW above the DV budget."""
        return self._dml(
            cow.delete_where_mor, name, mstore, predicate,
            auto_compact=auto_compact, **kw,
        )

    def update_where_mor(
        self,
        name: str,
        predicate,
        assignments: dict,
        mstore,
        auto_compact: bool = True,
        **kw,
    ) -> dict:
        """Merge-on-read UPDATE: DV the matching rows, append their
        updated versions (storage/cow.update_where_mor)."""
        return self._dml(
            cow.update_where_mor, name, mstore, predicate, assignments,
            auto_compact=auto_compact, **kw,
        )

    def merge_mor(
        self,
        name: str,
        updates,
        key: str,
        mstore,
        auto_compact: bool = True,
        **kw,
    ) -> dict:
        """Merge-on-read MERGE/upsert (storage/cow.merge_mor)."""
        return self._dml(
            cow.merge_mor, name, mstore, updates, key,
            auto_compact=auto_compact, **kw,
        )

    def update_where_cow(
        self, name: str, predicate, assignments: dict, mstore, **kw
    ) -> dict:
        return self._dml(
            cow.update_where_cow, name, mstore, predicate, assignments,
            auto_compact=False, **kw,
        )

    def merge_cow(self, name: str, updates, key: str, mstore, **kw) -> dict:
        return self._dml(
            cow.merge_cow, name, mstore, updates, key,
            auto_compact=False, **kw,
        )

    def time_travel_cow(self, name: str, mstore, version: int | None = None):
        """Register (and return) ``name`` as of a manifest version
        (default: latest committed) — resolving a manifest is
        metadata-only, no log replay."""
        df = mstore.read(self.spark, version)
        self.register(name, df)
        return df

    def compact_manifest(self, name: str, mstore, **kw) -> dict:
        """Compact a manifest table (storage/cow.compact_manifest) and
        refresh registration + index — block ids change with the
        manifest, so the index is re-taken from the new version
        (``register_manifest``)."""
        report = cow.compact_manifest(self.spark, mstore, **kw)
        if report["compacted"]:
            self.register_manifest(name, mstore, with_index=self.index is not None)
        return report

    def register_manifest(
        self, name: str, mstore, with_index: bool = True, blooms=None
    ) -> None:
        """Register a manifest table AND take the zone-map index of its
        latest version, both from one snapshot
        (``MicroBlockIndex.for_version``: the records the manifest
        stores, no footer read), so the observability stack (explain /
        access log / prefetch) keys on the live snapshot's blocks.
        Call again after any CoW verb or compaction — block ids
        are positions in sorted file order, so a commit renumbers them.
        An attached cache therefore drops each cached id that names a
        different (file, row group) in the new index than in the old
        one, or whose file's deletion vector or the version's schema
        changed (a cached block holds the rows its DV left, in the
        columns its schema named); ids that still name the same block
        under the same DV and schema stay cached.
        ``blooms``: optional Bloom sidecar to attach for point-lookup
        prediction."""
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )

        snap = mstore.snapshot()
        if snap is None:
            raise ValueError("empty store")
        self.register(name, snap.read(self.spark))
        if with_index:
            idx = MicroBlockIndex.for_version(snap, table_id=name)
            if blooms is not None:
                idx.attach_blooms(blooms)
            if self.cache is not None:

                def names(ix, b):
                    key = ix.block_key(b) if ix is not None else None
                    return key and (key, ix.dvs.get(key[0]), ix.schema_json)

                for b in self.cache.cached_ids():
                    if names(self.index, b) != names(idx, b):
                        self.cache.remove(b)
            self.index = idx

    # ------------------------------------------------------------- queries
    def query(self, sql: str) -> DataFrame:
        """Run SQL against the registered catalog.

        Catalyst does everything the reference hand-rolled (parse:
        query_enginev5.py:74-85, prune: :87-95, execute via DuckDB:
        :302-305). Our added value is the observation hook: when an
        index is attached we predict the touched blocks from the WHERE
        clause and feed the access log / history / prefetch stack —
        exactly the reference's stage-3 side effects
        (query_enginev5.py:251-261), but append-only and locked.
        """
        df = self.spark.sql(sql)
        self._observe(sql)
        return df

    def explain(self, sql: str) -> dict:
        """Inspect a query WITHOUT running it: one dict covering both
        planning layers. The reference sketches an explain/metrics
        verifier around its engine (SURVEY §4.3); ours reports the
        zone-map layer (which blocks the prediction says the query
        touches — what the cache/prefetch stack keys on) and
        Catalyst's physical facts (what will actually execute:
        exchanges, broadcast joins, pushed filters, codegen spans).

        Plan-only and side-effect-free: no job is submitted, and —
        unlike ``query`` — ``_observe`` is NOT tapped, so explaining a
        query does not pollute the access log the prefetcher trains
        on."""
        from columnar_database_project_spark.plans.verify import (
            count_shuffles,
            formatted_plan,
            has_broadcast_join,
            pushed_filters,
            whole_stage_codegen_spans,
        )

        df = self.spark.sql(sql)
        out: dict = {
            "physical": {
                "exchanges": count_shuffles(df),
                "broadcast_join": has_broadcast_join(df),
                "pushed_filters": pushed_filters(df),
                "codegen_spans": whole_stage_codegen_spans(df),
                "plan": formatted_plan(df),
            }
        }
        if self.index is not None:
            predicted = self.index.predict_blocks_for_sql(sql)
            total = self.index.num_blocks
            zone: dict = {
                "blocks_total": total,
                "blocks_predicted": len(predicted),
                "selectivity": round(len(predicted) / max(total, 1), 4),
                # bounded: ids are for inspection, not enumeration
                "predicted_ids": sorted(predicted)[:64],
            }
            if self.index.blooms is not None:
                # breakdown: how much of the pruning is the Bloom
                # sidecar's (point lookups) vs the zone maps' (ranges)
                from columnar_database_project_spark.plans.sql_where import (
                    extract_where,
                )

                zone_only = self.index.candidate_blocks(
                    extract_where(sql), use_blooms=False
                )
                zone["blocks_predicted_zone_only"] = len(zone_only)
            if self.cache is not None:
                cached = set(self.cache.cached_ids())
                zone["predicted_cached"] = sum(
                    1 for b in predicted if b in cached
                )
            out["zone_map"] = zone
        elif "scan orc" in out["physical"]["plan"].lower():
            # Guard (VERDICT r7 #6): no index is attached and pyarrow
            # exposes no ORC stripe statistics for a footer build, so
            # an ORC-backed query must say WHY the predicted-pruning
            # section is absent instead of silently reading as
            # "nothing pruned". Spark's native ORC predicate pushdown
            # still applies (physical.pushed_filters), and a scan-built
            # index restores the full report.
            out["zone_map"] = {
                "unavailable": (
                    "zone-map index unavailable (ORC backend, no index "
                    "attached) — native ORC predicate pushdown only; "
                    "attach MicroBlockIndex.build_from_scan(spark, path,"
                    " format='orc') for the predicted-pruning report"
                )
            }
        return out

    # The result cache is for dashboard-sized outputs (aggregates,
    # top-k); anything bigger belongs to the block cache / parquet
    # layer below, not driver memory.
    RESULT_CACHE_MAX_ROWS = 10_000
    RESULT_CACHE_CAPACITY = 64

    def _catalog_token(self) -> tuple:
        """Change-detection token for the WHOLE catalog: the
        registration version (every register() bump — all DML paths
        re-register) plus the table directory's file-freshness token,
        so out-of-band file changes invalidate too. Whole-catalog
        granularity is deliberate: parsing SQL for referenced tables
        would let an unrelated register() keep entries alive, but a
        missed reference would serve STALE results — conservative
        invalidation is the correct default for a cache whose misses
        merely recompute."""
        from columnar_database_project_spark.catalog import file_freshness

        dir_tok = file_freshness(self._table_dir) if self._table_dir else ()
        return (self._catalog_version, dir_tok)

    def query_cached(self, sql: str, max_rows: int | None = None):
        """``query(sql)`` materialized to pandas, memoized under
        (normalized SQL, catalog token) — the layer ABOVE the block
        cache: blocks amortize scans across different queries, this
        amortizes the repeated IDENTICAL query (dashboards, polling
        clients). LRU-bounded; results larger than ``max_rows`` are
        returned but never stored (driver-memory guard); any catalog
        change or on-disk table change invalidates by key. Returns a
        COPY so callers cannot mutate the cached frame.

        Observability decision (pinned by test_engine_and_prefetch):
        a cache HIT deliberately does NOT tap ``_observe`` — the
        access log / history / prefetch stack model BLOCK reads, and
        a hit reads no blocks; logging phantom accesses would train
        the prefetcher to warm blocks the result cache already made
        irrelevant. The reference logs every query because it has no
        result cache to skip the read (query_enginev5.py:251-261);
        ``result_cache_stats()`` carries the hit-side telemetry
        instead."""
        limit = self.RESULT_CACHE_MAX_ROWS if max_rows is None else max_rows
        key = (" ".join(sql.split()), self._catalog_token())
        hit = self._result_cache.get(key)
        if hit is not None:
            self._result_cache.move_to_end(key)
            self._result_cache_stats["hits"] += 1
            return hit.copy()
        result = self.query(sql).toPandas()
        if len(result) > limit:
            self._result_cache_stats["bypassed"] += 1
            return result
        self._result_cache_stats["misses"] += 1
        self._result_cache[key] = result.copy()
        while len(self._result_cache) > self.RESULT_CACHE_CAPACITY:
            self._result_cache.popitem(last=False)  # evict LRU
        return result

    def result_cache_stats(self) -> dict:
        return dict(self._result_cache_stats, size=len(self._result_cache))

    def _observe(self, sql: str) -> None:
        if self.index is None and self.logger is None and self.history is None:
            return
        query_id = uuid.uuid4().hex[:12]
        blocks: list[int] = []
        if self.index is not None:
            try:
                blocks = self.index.predict_blocks_for_sql(sql)
            except Exception:
                blocks = []
        if not blocks:
            return
        ts = time.time()
        if self.logger is not None:
            self.logger.log(blocks, ts=ts, query_id=query_id)
        if self.history is not None:
            self.history.record_many(blocks)
        if self.cache is not None:
            for b in blocks:
                self.cache.touch(b)


def build_full_stack(
    spark: SparkSession,
    block_table_path: str,
    table_name: str = "mytable",
    log_path: str = "access_log.jsonl",
    cache_capacity: int = 128,
    history_len: int = 500,
    prefetch_interval: float = 60.0,
    scheduler=None,
):
    """Wire the complete engine the way the reference's working entry
    point does (run_with_prefetch_loop.py:12-44): cache(128) +
    history(500) + logger + index + engine, plus — when a trained
    scheduler is supplied — the background PrefetchService.

    Returns (engine, service); ``service`` is None without a scheduler
    and is NOT started — call ``service.start()`` to launch the loop.
    """
    from columnar_database_project_spark.ml.prefetch import (
        Prefetcher,
        PrefetchService,
    )
    from columnar_database_project_spark.sources.index import MicroBlockIndex
    from columnar_database_project_spark.storage.access_logger import (
        AccessLogger,
        GlobalHistory,
    )
    from columnar_database_project_spark.storage.block_cache import BlockCache

    index = MicroBlockIndex.build(block_table_path, table_id=table_name)
    cache = BlockCache(capacity=cache_capacity)
    logger = AccessLogger(log_path)
    history = GlobalHistory(maxlen=history_len)
    engine = MicroBlockEngine(
        spark, index=index, cache=cache, logger=logger, history=history
    )
    engine.register(table_name, spark.read.parquet(block_table_path))
    service = None
    if scheduler is not None:
        service = PrefetchService(
            scheduler,
            Prefetcher(spark, index, cache),
            history,
            cache,
            interval=prefetch_interval,
            history_len=min(history_len, 100),
        )
    return engine, service
