"""Block-granular DML over a ManifestStore — the engine's one DML path.

A DML op that rewrites the WHOLE table is correct, but its cost scales
with table size. These verbs scale with CHANGE size: the zone-map index
(plus the Bloom sidecar when attached) triages every block of the
current manifest into

- **carried** — the predicate PROVABLY matches no row (three-valued
  may_match == False): the block file enters the next manifest by
  reference, zero bytes moved;
- **touched** — everything else: read, rewritten without/with the
  change, the new files replace them in the manifest.

Soundness is inherited from the pruning layer: may_match == False is a
proof (tests/test_differential_fuzz.py fuzzes it; the Bloom layer's
no-false-negative property is tests/test_bloom.py), so a carried block
is byte-identical to what a full rewrite would have produced for it.
A predicate outside the WHERE grammar parses to TruePred → every block
is touched → behavior degrades to the full rewrite, never to a wrong
answer.

At 100 TB this is the difference between moving 100 TB per DELETE and
moving the few blocks a selective predicate lands on — the reason
Iceberg/Delta exist. Measured by the retired harness's CoW DML
section (git a8cd591).
"""

from __future__ import annotations

import json
from typing import TYPE_CHECKING

from columnar_database_project_spark.functions.broadcast_policy import (
    bounded_broadcast,
)
from columnar_database_project_spark.plans.predicate import (
    InList,
    Pred,
    TruePred,
)
from columnar_database_project_spark.plans.sql_where import parse_conjuncts
from columnar_database_project_spark.sources.index import MicroBlockIndex
from columnar_database_project_spark.sources.microblock import (
    DEFAULT_BLOCK_ROWS,
    MicroBlockWriter,
    exact_range_bounds,
    zorder_sorted,
)
from columnar_database_project_spark.storage.manifests import (
    ManifestStore,
    Snapshot,
    list_block_files,
    read_with_schema,
    spark_file_name,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

# MERGE key-triage guard: above this many distinct update keys the
# IN-list predicate (and its driver-side collect) stops being control-
# plane sized and the op is a backfill — rewrite everything instead.
MERGE_POINT_KEYS_MAX = 100_000

# Merge-on-read guard: a version's TOTAL deletion-vector size stays
# under this many positions (the read path's bounded anti-join frame);
# a MoR delete that would exceed it falls back to copy-on-write, which
# also resets the DV debt for the touched files.
MOR_DV_MAX_ROWS = 1_048_576


def _pred_of(predicate) -> Pred:
    """Boolean SQL string → Pred of its top-level conjuncts inside the
    grammar (``parse_conjuncts``); none of them, or a Column (opaque to
    the parser) → TruePred (sound: every block becomes touched)."""
    if isinstance(predicate, Pred):
        return predicate
    if not isinstance(predicate, str):
        return TruePred()
    return parse_conjuncts(predicate)


def _live(store: ManifestStore) -> Snapshot:
    """The head snapshot of a store that must hold a table."""
    snap = store.snapshot()
    if snap is None:
        raise ValueError("empty store")
    return snap


def _triage(
    snap: Snapshot, pred: Pred, table_id: str, blooms=None
) -> tuple[list[str], list[str], int]:
    """(touched_files, carried_files, blocks_total) of ``snap``: a FILE
    is touched if any of its blocks may match (multi-row-group files
    are file-granular here — the rewrite unit is the file). The zone
    maps are the snapshot's stored records; no footer is read."""
    idx = MicroBlockIndex.for_version(snap, table_id=table_id)
    if blooms is not None:
        idx.attach_blooms(blooms)
    touched = {idx.block_file(b) for b in idx.candidate_blocks(pred)}
    carried = [f for f in snap.files if f not in touched]
    return sorted(touched), carried, idx.num_blocks


def _cond(predicate):
    """The predicate as a Column that is TRUE on its TRUE rows and
    FALSE elsewhere (a NULL row never matches, SQL semantics)."""
    from pyspark.sql import functions as F

    c = F.expr(predicate) if isinstance(predicate, str) else predicate
    return F.coalesce(c, F.lit(False))


def _cast_to_manifest(
    snap: Snapshot, df: "DataFrame", verb: str, all_columns: bool
) -> "DataFrame":
    """``df`` with each column cast to its manifest type, so a written
    block never forks the schema the version is read with. With
    ``all_columns`` the column sets must be equal; otherwise ``df`` may
    lack manifest columns (they read as NULL) but not add any. The
    casts are Spark's ANSI casts: a value that does not fit fails the
    write, before anything is committed."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(snap.schema_json))
    types = {f.name: f.dataType for f in schema.fields}
    if all_columns and set(df.columns) != set(types):
        raise ValueError(
            f"{verb}: updates columns {sorted(df.columns)} "
            f"!= target columns {sorted(types)}"
        )
    extra = set(df.columns) - set(types)
    if extra:
        raise ValueError(f"{verb}: unknown columns {sorted(extra)}")
    return df.select(*[F.col(c).cast(types[c]).alias(c) for c in df.columns])


def delete_where_cow(
    spark: "SparkSession",
    store: ManifestStore,
    predicate: str,
    block_rows: int | None = None,
    blooms=None,
) -> dict:
    """DELETE with block-granular rewrite. SQL semantics: only
    predicate-TRUE rows are removed (NULL keeps). Returns the op
    report incl. the IO-proportionality facts (files_rewritten /
    files_carried) the at-scale claim rests on. The deleted count is
    the touched files' live rows minus the rows written, both from
    zone-map records: no counting scan runs."""
    return _delete_cow(spark, store, _live(store), predicate, block_rows, blooms)


def _delete_cow(spark, store, snap, predicate, block_rows, blooms) -> dict:
    pred = _pred_of(predicate)
    touched, carried, n_blocks = _triage(snap, pred, "cow_delete", blooms)
    v, stage = store.stage_next()
    new_files: list[str] = []
    if touched:
        kept = snap.read(spark, touched).filter(~_cond(predicate))
        MicroBlockWriter(block_rows or DEFAULT_BLOCK_ROWS).write(kept, stage)
        new_files = list_block_files(stage)
    done = store.commit(snap, v, new_files, carried)
    return {
        "version": v,
        "deleted": snap.live_rows(touched) - done.live_rows(new_files),
        "blocks_total": n_blocks,
        "files_rewritten": len(touched),
        "files_carried": len(carried),
    }


def _mor_merge_positions(
    spark: "SparkSession",
    snap: Snapshot,
    touched: list[str],
    match,
    max_dv_rows: int,
):
    """Collect the ``(file, row_index)`` positions of the touched files'
    rows that ``match`` (DataFrame → DataFrame) keeps, in one scan, and
    merge them into ``snap``'s deletion vectors. Returns
    ``(merged_dvs, n_new)`` or ``None`` when the result would exceed
    ``max_dv_rows`` (caller falls back to CoW). Already-deleted
    positions merge idempotently."""
    from pyspark.sql import functions as F

    existing_total = sum(len(p) for p in snap.dvs.values())
    file_of = {spark_file_name(f): f for f in snap.files}
    merged: dict[str, set] = {f: set(p) for f, p in snap.dvs.items()}
    n_new = 0
    if touched:
        raw = (
            read_with_schema(spark, touched, snap.schema_json)
            .withColumn("_file", F.col("_metadata.file_name"))
            .withColumn("_pos", F.col("_metadata.row_index"))
        )
        hits = match(raw).select("_file", "_pos").limit(max_dv_rows + 1).collect()
        if len(hits) > max_dv_rows:
            return None
        for name, pos in hits:
            s = merged.setdefault(file_of[name], set())
            if pos not in s:
                s.add(pos)
                n_new += 1
        if existing_total + n_new > max_dv_rows:
            return None
    return {f: sorted(p) for f, p in merged.items()}, n_new


def delete_where_mor(
    spark: "SparkSession",
    store: ManifestStore,
    predicate: str,
    block_rows: int | None = None,
    blooms=None,
    max_dv_rows: int = MOR_DV_MAX_ROWS,
) -> dict:
    """DELETE merge-on-read: commit a deletion VECTOR, not data files —
    the Delta-DV / Iceberg-position-delete design. The new version
    names exactly the current files plus per-file lists of deleted
    ``_metadata.row_index`` positions; the store's read path
    anti-joins them out. Write cost: one manifest JSON — zero data IO
    even for a one-row delete, where CoW still rewrites a whole block.

    The triage layer bounds the position SCAN too: only may-match
    blocks are read to find matching positions (carried blocks can't
    contain a match). Positions are found among LIVE rows (existing
    DVs applied), so double-deleting is idempotent.

    Guard: if the version's total DV size would exceed
    ``max_dv_rows``, the op falls back to ``delete_where_cow``
    (report["mode"] says which ran; ``block_rows`` sizes its rewritten
    blocks) — big deletes belong to CoW, and the bound is what keeps
    the read path's anti-join frame broadcastable. Compaction
    materializes DVs away (``compact_manifest`` treats any DV'd file
    as debt)."""
    snap = _live(store)
    pred = _pred_of(predicate)
    touched, _carried, n_blocks = _triage(snap, pred, "mor_delete", blooms)
    got = _mor_merge_positions(
        spark, snap, touched, lambda df: df.filter(_cond(predicate)), max_dv_rows
    )
    if got is None:
        rep = _delete_cow(spark, store, snap, predicate, block_rows, blooms)
        rep["mode"] = "cow_fallback"
        return rep
    merged, deleted = got
    v, _stage = store.stage_next()
    store.commit(snap, v, [], snap.files, dvs=merged)
    return {
        "version": v,
        "mode": "mor",
        "deleted": deleted,
        "dv_rows_total": sum(len(p) for p in merged.values()),
        "blocks_total": n_blocks,
        "files_scanned": len(touched),
        "files_rewritten": 0,
        "files_carried": len(snap.files),
    }


def update_where_mor(
    spark: "SparkSession",
    store: ManifestStore,
    predicate: str,
    assignments: dict,
    block_rows: int | None = None,
    blooms=None,
    max_dv_rows: int = MOR_DV_MAX_ROWS,
) -> dict:
    """UPDATE merge-on-read: deletion-vector the matching rows OUT and
    append their updated versions as a NEW block — write cost = the
    changed rows, not the blocks that contain them (a one-row update
    writes one tiny file + a manifest, where CoW rewrites the whole
    block). Same hybrid Delta runs when deletion vectors are enabled.

    The updated rows are computed from LIVE matching rows (existing
    DVs applied), assignments cast back to column types (schema must
    not fork), and both sides land in ONE commit — no version ever
    shows the delete without the insert. Falls back to
    ``update_where_cow`` above the DV budget."""
    from pyspark.sql import functions as F

    snap = _live(store)
    pred = _pred_of(predicate)
    touched, _carried, n_blocks = _triage(snap, pred, "mor_update", blooms)
    _check_assignments(snap, assignments, "update_where_mor")
    got = _mor_merge_positions(
        spark, snap, touched, lambda df: df.filter(_cond(predicate)), max_dv_rows
    )
    if got is None:
        rep = _update_cow(
            spark, store, snap, predicate, assignments, block_rows, blooms
        )
        rep["mode"] = "cow_fallback"
        return rep
    merged, n_hit = got
    v, stage = store.stage_next()
    new_files: list[str] = []
    if touched and n_hit:
        live = snap.read(spark, touched).filter(_cond(predicate))
        types = dict(live.dtypes)
        cols = []
        for c in live.columns:
            if c in assignments:
                a = assignments[c]
                expr = F.expr(a) if isinstance(a, str) else a
                cols.append(expr.cast(types[c]).alias(c))
            else:
                cols.append(F.col(c))
        writer = MicroBlockWriter(block_rows or DEFAULT_BLOCK_ROWS)
        # n_hit is DV-budget-bounded, so right-sizing the append to
        # ⌈n_hit/block⌉ tasks never concentrates more than the budget
        n_tasks = max(1, n_hit // writer.block_rows or 1)
        writer.write(live.select(*cols).coalesce(n_tasks), stage)
        new_files = list_block_files(stage)
    store.commit(snap, v, new_files, snap.files, dvs=merged)
    return {
        "version": v,
        "mode": "mor",
        "updated": n_hit,
        "dv_rows_total": sum(len(p) for p in merged.values()),
        "blocks_total": n_blocks,
        "files_new": len(new_files),
        "files_rewritten": 0,
        "files_carried": len(snap.files),
    }


def merge_mor(
    spark: "SparkSession",
    store: ManifestStore,
    updates: "DataFrame",
    key: str,
    block_rows: int | None = None,
    blooms=None,
    max_dv_rows: int = MOR_DV_MAX_ROWS,
    max_point_keys: int = MERGE_POINT_KEYS_MAX,
) -> dict:
    """MERGE merge-on-read: deletion-vector the matched keys' old rows
    and append ALL update rows as new blocks, one commit — upsert cost
    = the update batch, never the blocks it lands in. Falls back to
    ``merge_cow`` when the key batch is backfill-sized or the DV
    budget would overflow.

    The batch is cast to the manifest types (``_cast_to_manifest``).
    One job over it collects its distinct keys; one scan of the
    touched files finds the matched positions. Both fallbacks hand
    the cast batch, its key counts and the snapshot to ``merge_cow``'s
    body, so none of that work runs twice."""
    snap = _live(store)
    updates = _cast_to_manifest(snap, updates, "merge_mor", all_columns=True)
    # (key, rows) of the distinct keys, NULL included, in one job
    counts = updates.groupBy(key).count().limit(max_point_keys + 1).collect()
    if len(counts) > max_point_keys:
        rep = _merge_cow(
            spark, store, snap, updates, key, counts, block_rows, blooms,
            max_point_keys,
        )
        rep["mode"] = "cow_fallback"
        return rep
    keys = [k for k, _n in counts if k is not None]
    n_rows = sum(n for _k, n in counts)
    if not keys:
        # SQL equality with NULL matches no target row, so a batch
        # with no non-NULL merge keys has NOTHING to deletion-vector.
        # Never substitute TruePred here: as a match predicate it
        # would DV every live row and a no-op MERGE would wipe the
        # table. Empty batch → full no-op (no commit); NULL-keyed
        # rows → append-only commit.
        if not n_rows:
            return {
                "version": snap.version,
                "mode": "mor_noop",
                "update_rows": 0,
                "update_keys": 0,
                "matched_rows": 0,
                "dv_rows_total": 0,
                "blocks_total": 0,
                "files_new": 0,
                "files_rewritten": 0,
                "files_carried": len(snap.files),
            }
        rep = _append(spark, store, snap, updates, block_rows)
        return {
            "version": rep["version"],
            "mode": "mor_append_only",
            "update_rows": rep["appended_rows"],
            "update_keys": 0,
            "matched_rows": 0,
            "dv_rows_total": 0,
            "blocks_total": 0,
            "files_new": rep["files_new"],
            "files_rewritten": 0,
            "files_carried": rep["files_carried"],
        }
    touched, _carried, n_blocks = _triage(
        snap, InList(key, tuple(keys)), "mor_merge", blooms
    )
    # the matched rows are a left-semi join against the batch's keys,
    # shipped to the JVM in one call and broadcast, so the scan needs
    # no shuffle
    key_df = bounded_broadcast(
        spark.createDataFrame([(k,) for k in keys], updates.select(key).schema),
        max_point_keys,
        "distinct merge keys ≤ max_point_keys, else merge_cow",
    )
    got = _mor_merge_positions(
        spark, snap, touched,
        lambda df: df.join(key_df, on=key, how="left_semi"), max_dv_rows,
    )
    if got is None:
        rep = _merge_cow(
            spark, store, snap, updates, key, counts, block_rows, blooms,
            max_point_keys,
        )
        rep["mode"] = "cow_fallback"
        return rep
    merged, n_matched = got
    v, stage = store.stage_next()
    MicroBlockWriter(block_rows or DEFAULT_BLOCK_ROWS).write(updates, stage)
    new_files = list_block_files(stage)
    store.commit(snap, v, new_files, snap.files, dvs=merged)
    return {
        "version": v,
        "mode": "mor",
        "update_rows": n_rows,
        "update_keys": len(counts),
        "matched_rows": n_matched,
        "dv_rows_total": sum(len(p) for p in merged.values()),
        "blocks_total": n_blocks,
        "files_new": len(new_files),
        "files_rewritten": 0,
        "files_carried": len(snap.files),
    }


def update_where_cow(
    spark: "SparkSession",
    store: ManifestStore,
    predicate: str,
    assignments: dict,
    block_rows: int | None = None,
    blooms=None,
) -> dict:
    """UPDATE ... SET with block-granular rewrite. Assignment results
    are CAST back to the column's current type: carried blocks keep
    the old schema by construction, so a type-widening assignment must
    not fork the manifest's schema across files."""
    return _update_cow(
        spark, store, _live(store), predicate, assignments, block_rows, blooms
    )


def _check_assignments(snap: Snapshot, assignments: dict, verb: str) -> None:
    unknown = set(assignments) - {
        f["name"] for f in json.loads(snap.schema_json)["fields"]
    }
    if unknown:
        raise ValueError(f"{verb}: unknown columns {sorted(unknown)}")


def _update_cow(
    spark, store, snap, predicate, assignments, block_rows, blooms
) -> dict:
    from pyspark.sql import functions as F

    _check_assignments(snap, assignments, "update_where_cow")
    pred = _pred_of(predicate)
    touched, carried, n_blocks = _triage(snap, pred, "cow_update", blooms)
    v, stage = store.stage_next()
    new_files: list[str] = []
    updated = 0
    if touched:
        from pyspark.sql import Observation

        # the rewrite counts the updated rows: no separate count job
        observed = Observation()
        cond = _cond(predicate)
        target = snap.read(spark, touched).observe(
            observed, F.count_if(cond).alias("updated")
        )
        types = dict(target.dtypes)
        cols = []
        for c in target.columns:
            if c in assignments:
                a = assignments[c]
                expr = F.expr(a) if isinstance(a, str) else a
                cols.append(
                    F.when(cond, expr.cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                cols.append(F.col(c))
        MicroBlockWriter(block_rows or DEFAULT_BLOCK_ROWS).write(
            target.select(*cols), stage
        )
        updated = observed.get["updated"]
        new_files = list_block_files(stage)
    store.commit(snap, v, new_files, carried)
    return {
        "version": v,
        "updated": updated,
        "blocks_total": n_blocks,
        "files_rewritten": len(touched),
        "files_carried": len(carried),
    }


def merge_cow(
    spark: "SparkSession",
    store: ManifestStore,
    updates: "DataFrame",
    key: str,
    block_rows: int | None = None,
    blooms=None,
    max_point_keys: int = MERGE_POINT_KEYS_MAX,
) -> dict:
    """MERGE/upsert with block-granular rewrite: only blocks whose
    key zone range (∧ Bloom, when attached) can contain an update key
    are anti-joined; the update rows land as NEW blocks; everything
    else is carried by reference.

    Key triage is an IN-list over the updates' distinct keys —
    control-plane sized up to ``max_point_keys``; above that the op is
    a backfill and every block is touched (TruePred), which is also
    the sound fallback for a key batch too large to enumerate. The
    batch is cast to the manifest types (``_cast_to_manifest``)."""
    snap = _live(store)
    updates = _cast_to_manifest(snap, updates, "merge_cow", all_columns=True)
    # (key, rows) of the distinct keys, NULL included, in one job
    counts = updates.groupBy(key).count().limit(max_point_keys + 1).collect()
    return _merge_cow(
        spark, store, snap, updates, key, counts, block_rows, blooms,
        max_point_keys,
    )


def _merge_cow(
    spark, store, snap, updates, key, counts, block_rows, blooms, max_point_keys
) -> dict:
    if len(counts) > max_point_keys:
        pred: Pred = TruePred()
        n_keys, n_rows = updates.select(key).distinct().count(), updates.count()
    else:
        keys = [k for k, _n in counts if k is not None]
        n_keys, n_rows = len(counts), sum(n for _k, n in counts)
        if not keys:
            # No non-NULL merge keys → no target row can match (SQL
            # equality with NULL is never true). Empty batch: full
            # no-op, no commit. NULL-keyed rows: append-only commit.
            # TruePred here would rewrite the whole table for nothing.
            if not n_rows:
                return {
                    "version": snap.version,
                    "mode": "cow_noop",
                    "update_rows": 0,
                    "update_keys": 0,
                    "blocks_total": 0,
                    "files_rewritten": 0,
                    "files_carried": len(snap.files),
                }
            rep = _append(spark, store, snap, updates, block_rows)
            return {
                "version": rep["version"],
                "mode": "cow_append_only",
                "update_rows": rep["appended_rows"],
                "update_keys": 0,
                "blocks_total": 0,
                "files_rewritten": 0,
                "files_carried": rep["files_carried"],
            }
        pred = InList(key, tuple(keys))
    touched, carried, n_blocks = _triage(snap, pred, "cow_merge", blooms)
    v, stage = store.stage_next()
    if touched:
        # reconciled read: touched blocks may predate a metadata-only
        # add_column — missing columns surface as typed NULL, exactly
        # what store.read serves for them
        survivors = snap.read(spark, touched).join(
            updates.select(key), on=key, how="left_anti"
        )
        out = survivors.unionByName(updates)
    else:
        out = updates
    MicroBlockWriter(block_rows or DEFAULT_BLOCK_ROWS).write(out, stage)
    new_files = list_block_files(stage)
    store.commit(snap, v, new_files, carried)
    return {
        "version": v,
        "update_rows": n_rows,
        "update_keys": n_keys,
        "blocks_total": n_blocks,
        "files_rewritten": len(touched),
        "files_carried": len(carried),
    }


def append_cow(
    spark: "SparkSession",
    store: ManifestStore,
    df: "DataFrame",
    block_rows: int | None = None,
    meta: dict | None = None,
) -> dict:
    """INSERT/append: the new rows land as new blocks, every existing
    block is carried by reference — the cheapest verb (zero reads of
    existing data, IO = the appended rows). An empty store is
    initialized from ``df``'s schema (``init_manifest_table``).
    Otherwise ``df`` is cast to the manifest types
    (``_cast_to_manifest``): missing manifest-schema columns (e.g.
    after a metadata-only add_column) are allowed — they read as NULL;
    extra columns are an error. The appended row count is read from
    the new files' zone-map records."""
    return _append(spark, store, store.snapshot(), df, block_rows, meta)


def _append(spark, store, snap, df, block_rows, meta=None) -> dict:
    if snap is None:
        done = _replace(spark, store, None, df, block_rows, meta)
        new_files, carried = done.files, ()
    else:
        df = _cast_to_manifest(snap, df, "append_cow", all_columns=False)
        v, stage = store.stage_next()
        MicroBlockWriter(block_rows or DEFAULT_BLOCK_ROWS).write(df, stage)
        new_files, carried = list_block_files(stage), snap.files
        done = store.commit(snap, v, new_files, carried, meta=meta)
    return {
        "version": done.version,
        "appended_rows": done.live_rows(new_files),
        "files_new": len(new_files),
        "files_carried": len(carried),
    }


def compact_manifest(
    spark: "SparkSession",
    store: ManifestStore,
    block_rows: int | None = None,
    min_fill: float = 0.5,
    sort_by: list[str] | None = None,
    zorder: bool = False,
) -> dict:
    """Compaction as a manifest commit — the engine's one compaction
    verb. Every incrementally-ingested table develops small-file debt
    (each drop writes its own tail block, e.g. from
    ``append_stream_manifest``; at 100 TB, 10k drops leave 10k
    undersized files whose per-file open/footer/task overhead
    dominates scans). WITHOUT ``sort_by`` the compaction is itself
    copy-on-write: only the undersized blocks are coalesced and
    rewritten, full blocks are carried by reference. The swap is the
    head-log commit, so a crash mid-compaction leaves the previous
    version current and orphan files for ``vacuum``; re-running
    compacts. Row counts come from the version's zone-map records, so
    deciding what to compact reads no footer. Block ids change with the
    manifest, so an index over the table must be re-taken from the new
    version (``MicroBlockEngine.compact_manifest`` does).

    ``sort_by`` re-clusters to restore zone-map locality: interleaved
    or out-of-order ingests spread every key range across every
    block, so zone maps stop excluding anything, and a coalesce
    preserves that damage. Locality is a GLOBAL property, so every
    block is rewritten through one range shuffle — the opt-in
    full-rewrite case. With ``zorder=True`` and exactly two numeric
    ``sort_by`` columns, the re-cluster orders on the Morton key
    (``sources.microblock.zorder_key``) instead — OPTIMIZE ZORDER as a
    manifest commit, for tables box-filtered on both dimensions. Both
    re-cluster paths cut blocks at bounds sampled from one block's
    worth of keys per partition (``exact_range_bounds``).

    Idempotent: ≤1 undersized block and no ``sort_by`` → no new
    version. Row-count-verified before commit: the footers of the
    files just written must hold exactly the live rows read."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    block_rows = block_rows or DEFAULT_BLOCK_ROWS
    snap = _live(store)
    files = list(snap.files)
    rows_of = {f: sum(g["rows"] for g in snap.blocks[f]) for f in files}
    dv_rows = {f: len(snap.dvs.get(f, ())) for f in files}
    # live rows drive the fill test, and ANY file with a deletion
    # vector is compactable debt — compaction is the DV-materialization
    # point (rewritten files physically drop their deleted rows)
    small = [
        f
        for f in files
        if rows_of[f] - dv_rows[f] < block_rows * min_fill or dv_rows[f]
    ]
    if sort_by:
        touched, carried = files, []
    else:
        # a single tail block is the expected remainder (a DV'd file
        # is always in ``small``, so this also covers "nothing small")
        if len(small) <= 1 and not any(dv_rows.values()):
            return {
                "compacted": False,
                "blocks_before": len(files),
                "blocks_after": len(files),
            }
        touched, carried = small, [f for f in files if f not in set(small)]
    v, stage = store.stage_next()
    new_files: list[str] = []
    if touched:
        df = snap.read(spark, touched)
        n_expect = sum(rows_of[f] - dv_rows[f] for f in touched)
        n_parts = max(1, sum(rows_of.values()) // block_rows)
        if sort_by and zorder:
            if len(sort_by) != 2:
                raise ValueError("zorder=True requires exactly 2 sort_by columns")
            df = zorder_sorted(df, sort_by, n_parts)
        elif sort_by:
            df = df.repartitionByRange(n_parts, *[F.col(c) for c in sort_by])
            df = df.sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(max(1, n_expect // block_rows or 1))
        with exact_range_bounds(spark, block_rows):
            MicroBlockWriter(block_rows=block_rows).write(df, stage)
        new_files = list_block_files(stage)
        n_got = sum(pq.ParquetFile(f).metadata.num_rows for f in new_files)
        if n_got != n_expect:
            raise RuntimeError(
                f"compact_manifest: rewrite lost rows ({n_got} != {n_expect});"
                " nothing committed — previous version remains current"
            )
    store.commit(snap, v, new_files, carried)
    return {
        "compacted": True,
        "version": v,
        "blocks_before": len(files),
        "blocks_after": len(new_files) + len(carried),
        "files_rewritten": len(touched),
        "files_carried": len(carried),
    }


# --------------------------------------------------------------------
# Merge-on-read auto-compaction policy (VERDICT r7 #3). The measured
# MoR read tax (1.55x, from the retired harness, git a8cd591) is
# driven by the fraction of rows that must scan through the per-row
# _metadata + DV-filter path — 4 point-deleted rows tainting ~6% of
# the table's rows already cost 1.55x — with the logically-deleted-row
# fraction a secondary (wasted-IO) term. The defaults therefore trigger at 5%
# row taint or 2% logical deletes: below that the steady-state tax
# stays near 1.0, above it compaction buys the tax back (1.55 -> 1.0
# measured) for one bounded rewrite of only the DV'd files.
MOR_COMPACT_TAINT_RATIO = 0.05
MOR_COMPACT_DV_ROWS_RATIO = 0.02


def mor_compaction_debt(store: ManifestStore) -> dict:
    """Control-plane measurement of the live version's MoR read-tax
    drivers: rows in DV-carrying files (the per-row scan-path taint)
    and logically-deleted rows. Row counts come from the manifest's
    zone-map records: one manifest read, no footer opened."""
    snap = _live(store)
    rows_total = rows_tainted = dv_rows = dv_files = 0
    for f in snap.files:
        n = sum(g["rows"] for g in snap.blocks[f])
        rows_total += n
        d = snap.dvs.get(f)
        if d:
            dv_files += 1
            rows_tainted += n
            dv_rows += len(d)
    return {
        "files": len(snap.files),
        "dv_files": dv_files,
        "rows_total": rows_total,
        "rows_tainted": rows_tainted,
        "dv_rows": dv_rows,
        "taint_ratio": rows_tainted / rows_total if rows_total else 0.0,
        "dv_rows_ratio": dv_rows / rows_total if rows_total else 0.0,
    }


def maybe_compact_mor(
    spark: "SparkSession",
    store: ManifestStore,
    block_rows: int | None = None,
    taint_ratio: float = MOR_COMPACT_TAINT_RATIO,
    dv_rows_ratio: float = MOR_COMPACT_DV_ROWS_RATIO,
) -> dict:
    """Mechanized DV compaction: fire ``compact_manifest`` (the DV
    materialization point) exactly when the live manifest's measured
    debt exceeds a threshold — the policy an operator previously had
    to remember to run by hand (DEPLOY.md). The engine's MoR DML verbs
    call this after every commit, so the read tax is BOUNDED by
    construction: taint can exceed the threshold for at most the one
    commit that crossed it. Returns {"fired", "debt"} and, when fired,
    the compaction report."""
    debt = mor_compaction_debt(store)
    if not (
        debt["taint_ratio"] > taint_ratio
        or debt["dv_rows_ratio"] > dv_rows_ratio
    ):
        return {"fired": False, "debt": debt}
    rep = compact_manifest(spark, store, block_rows=block_rows)
    return {"fired": True, "debt": debt, "compaction": rep}


def init_manifest_table(
    spark: "SparkSession",
    store: ManifestStore,
    df: "DataFrame",
    block_rows: int | None = None,
    meta: dict | None = None,
) -> dict:
    """Commit ``df`` as a full-replacement version: its blocks are
    the version's only files, nothing is carried from an earlier
    version, and the manifest schema is ``df``'s. On an empty store
    this is version 1; on a live one it replaces the snapshot
    atomically (``upsert_stream`` and ``heavy_hitters_stream`` commit
    every batch this way). ``meta`` is carried in the commit (the
    streaming sink's first batch needs its ``txn.batch_id`` witness
    here too)."""
    done = _replace(spark, store, store.snapshot(), df, block_rows, meta)
    return {"version": done.version, "files": len(done.files)}


def _replace(spark, store, base, df, block_rows, meta) -> Snapshot:
    v, stage = store.stage_next()
    MicroBlockWriter(block_rows or DEFAULT_BLOCK_ROWS).write(df, stage)
    return store.commit(
        base, v, list_block_files(stage), [], schema_json=df.schema.json(),
        meta=meta,
    )
