"""Structured Streaming twin of the engine's DML surface.

``MicroBlockEngine.merge_cow`` is the batch MERGE; a CDC feed (order
updates, profile changes, label corrections) is the same operation
arriving continuously. ``upsert_stream`` keeps a persistent snapshot
table merged with every micro-batch of change rows, with
last-writer-wins semantics per key ordered by an explicit version
column — so out-of-order arrivals (a late batch carrying an OLDER
version of a key) never clobber newer data, across batches as well as
within one.

Both writers here commit through ``ManifestStore.commit``: a batch's
files and manifest land first, and one ``os.replace`` of the head log
publishes them. A crash before that swap leaves the previous version
current; the restarted query replays the batch against it.

Local tests drive this with a file source; at scale the source becomes
Kafka/CDC-log notifications and the snapshot a lakehouse table — the
transformation is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _lww_latest(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """One row per key: max-of-struct on (order_col, other cols) —
    lexicographic struct comparison makes last-writer-wins
    deterministic (remaining columns break version ties). Single
    partial-agg shuffle on the key."""
    cols = df.columns
    others = [c for c in cols if c not in (key, order_col)]
    s = F.max(
        F.struct(F.col(order_col), *[F.col(c) for c in others])
    ).alias("s")
    return df.groupBy(key).agg(s).select(
        key,
        F.col(f"s.{order_col}").alias(order_col),
        *[F.col(f"s.{c}").alias(c) for c in others],
    ).select(*cols)


def upsert_stream(
    changes: DataFrame,
    table_path: str,
    key: str,
    order_col: str,
    checkpoint: str,
):
    """Continuous MERGE: each micro-batch of change rows is compacted
    into the snapshot of the ManifestStore at ``table_path`` under
    per-key last-writer-wins on ``order_col``.

    Per batch: union the current snapshot with the batch, keep the
    max-version row per key (ONE key shuffle — same cost class as the
    anti-join form of ``merge_cow``, but correct under out-of-order
    delivery without a conditional-update branch), commit the result
    as a full-replacement version (``init_manifest_table``), then
    vacuum down to that one version. A replayed batch re-merges rows
    the snapshot already holds, and LWW on the version column makes
    that idempotent, so no batch-id witness is needed. At 100 TB the
    per-batch rewrite cost is why lakehouse MERGE partitions the
    snapshot and rewrites only touched partitions — with a partitioned
    snapshot the same plan applies per partition; the LWW semantics do
    not change.

    Returns the StreamingQuery (availableNow trigger — drains the
    drops present, the incremental-feed cadence).
    """
    from columnar_database_project_spark.storage.cow import (
        init_manifest_table,
    )
    from columnar_database_project_spark.storage.manifests import (
        ManifestStore,
    )

    store = ManifestStore(table_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = _lww_latest(batch_df, key, order_col)
        if store.latest() is not None:
            current = store.read(spark).select(*batch_df.columns)
            latest = _lww_latest(
                current.unionByName(latest), key, order_col
            )
        init_manifest_table(spark, store, latest)
        store.vacuum(keep_last=1)

    return (
        changes.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def append_stream_manifest(
    rows: DataFrame,
    store,
    checkpoint: str,
    block_rows: int | None = None,
):
    """Exactly-once streaming APPEND into a ManifestStore — the
    transactional-sink pattern (Delta's txnAppId/txnVersion, scaled
    down to one manifest field): each micro-batch commits as one
    manifest version carrying ``meta.txn.batch_id``, and a REPLAYED
    batch (crash after write, before the checkpoint advanced) is
    detected by its batch id already being committed and skipped —
    the double-append the plain parquet sink cannot prevent.

    Ordering matters and is the whole guarantee: data files + manifest
    land FIRST, the head-log swap is the atomic commit point, and the
    source checkpoint advances LAST. Every crash window therefore
    resolves to either "not committed → replay commits it once" or
    "committed → replay is a no-op".

    availableNow trigger: drains what is in the source now, then
    stops — each call is one idempotent ingest step (same contract as
    ``dedup_stream_against_store``). Retention note: vacuum must keep
    at least the source's replay horizon of versions or a replay loses
    its dedup witness (see ManifestStore.txn_batch_ids)."""
    from columnar_database_project_spark.storage.cow import append_cow

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in store.txn_batch_ids():
            return  # replayed batch: already committed, exactly-once skip
        if batch_df.isEmpty():
            return
        append_cow(
            batch_df.sparkSession,
            store,
            batch_df,
            block_rows=block_rows,
            meta={"txn": {"batch_id": int(batch_id)}},
        )

    return (
        rows.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
