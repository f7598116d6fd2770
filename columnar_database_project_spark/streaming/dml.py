"""Structured Streaming twin of the engine's DML surface.

``MicroBlockEngine.merge_cow`` is the batch MERGE; a CDC feed (order
updates, profile changes, label corrections) is the same operation
arriving continuously. ``upsert_stream`` keeps a persistent snapshot
table merged with every micro-batch of change rows, with
last-writer-wins semantics per key ordered by an explicit version
column — so out-of-order arrivals (a late batch carrying an OLDER
version of a key) never clobber newer data, across batches as well as
within one.

Local tests drive this with a file source; at scale the source becomes
Kafka/CDC-log notifications and the snapshot a lakehouse table — the
transformation is identical. Exactly-once caveat mirrors
``dedup_stream_against_store``: the parquet snapshot swap is atomic
per batch (two-rename), but a replayed batch re-merges its rows; LWW
on the version column makes that replay idempotent, which is the CDC
property that matters.
"""

from __future__ import annotations

import os
import shutil

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
    into the snapshot at ``table_path`` under per-key last-writer-wins
    on ``order_col``.

    Per batch: union the current snapshot with the batch, keep the
    max-version row per key (ONE key shuffle — same cost class as the
    anti-join form of ``merge_cow``, but correct under out-of-order
    delivery without a conditional-update branch), write to a staging
    dir, two-rename swap so readers never see a half-merged table (a
    crash between the renames leaves the previous snapshot at
    ``.old``; restore by renaming back). At 100 TB the per-batch
    rewrite cost is why lakehouse MERGE partitions the snapshot and
    rewrites only touched partitions — with a partitioned snapshot the
    same plan applies per partition; the LWW semantics do not change.

    Returns the StreamingQuery (availableNow trigger — drains the
    drops present, the incremental-feed cadence).
    """
    from columnar_database_project_spark.sources.microblock import (
        MicroBlockWriter,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = _lww_latest(batch_df, key, order_col)
        if os.path.isdir(table_path):
            current = spark.read.parquet(table_path).select(
                *batch_df.columns
            )
            latest = _lww_latest(
                current.unionByName(latest), key, order_col
            )
        tmp = table_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        MicroBlockWriter().write(latest, tmp)
        old = table_path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(table_path):
            os.rename(table_path, old)
        os.rename(tmp, table_path)
        shutil.rmtree(old, ignore_errors=True)

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
    from columnar_database_project_spark.storage.cow import (
        append_cow,
        init_manifest_table,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if int(batch_id) in store.txn_batch_ids():
            return  # replayed batch: already committed, exactly-once skip
        if batch_df.isEmpty():
            return
        if store.latest() is None:
            # Fresh store: the first non-empty batch initializes it
            # from its own schema (no init_manifest_table precondition
            # to trip over); the txn witness rides the init commit so
            # a replay of batch 0 still dedups.
            init_manifest_table(
                batch_df.sparkSession,
                store,
                batch_df,
                block_rows=block_rows,
                meta={"txn": {"batch_id": int(batch_id)}},
            )
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
