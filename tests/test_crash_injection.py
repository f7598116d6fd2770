"""Crash injection for every on-disk writer.

Each writer commits through ``ManifestStore.commit``, whose one commit
point is the ``os.replace`` of the head log. These tests make a chosen
head swap raise, either before it lands or right after it, then restart
the streaming query from the same checkpoint (or re-run the
compaction) and compare the store against an independent model: no
committed data is lost, and nothing is applied twice.
"""

from __future__ import annotations

import collections
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from columnar_database_project_spark.storage.manifests import ManifestStore

PKG = pathlib.Path(__file__).resolve().parents[1] / "columnar_database_project_spark"

DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


class InjectedCrash(RuntimeError):
    pass


def crash_at_head_swap(monkeypatch, call: int, after: bool = False) -> dict:
    """Make the ``call``-th head-log ``os.replace`` (1-based, counted
    across every store) raise once. ``after=True`` lets the swap land
    first, so the crash falls between the commit and the source
    checkpoint."""
    real_replace = os.replace
    state = {"n": 0, "crashed": False}

    def replace(src, dst, *args, **kwargs):
        if os.path.basename(os.fspath(dst)) != ManifestStore.HEAD:
            return real_replace(src, dst, *args, **kwargs)
        state["n"] += 1
        if state["n"] != call or state["crashed"]:
            return real_replace(src, dst, *args, **kwargs)
        state["crashed"] = True
        if after:
            real_replace(src, dst, *args, **kwargs)
        raise InjectedCrash(f"injected crash at head swap {call}")

    monkeypatch.setattr(os, "replace", replace)
    return state


def run_until_crash(start_query, monkeypatch, call: int, after: bool = False):
    """Run the query with the crash armed, check that it died of it,
    then restart it from the same checkpoint and drain."""
    state = crash_at_head_swap(monkeypatch, call, after)
    q = start_query()
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination(180)
    assert state["crashed"]
    monkeypatch.undo()
    q = start_query()
    q.awaitTermination(180)
    assert q.exception() is None


def write_drops(drop_dir: pathlib.Path, frames) -> None:
    """One parquet file per micro-batch, ordered by mtime."""
    drop_dir.mkdir()
    for i, table in enumerate(frames):
        p = drop_dir / f"b{i}.parquet"
        pq.write_table(table, str(p))
        os.utime(p, (1_700_000_000 + i * 60,) * 2)


def doc_table(rows) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": ["feed"] * len(rows),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )


class TestUpsertStreamCrash:
    SCHEMA = "id long, v string, ver long"

    @pytest.mark.parametrize(
        "call,after",
        [(3, False), (4, False), (4, True)],
        ids=["commit_swap", "vacuum_swap", "after_vacuum_swap"],
    )
    def test_restart_matches_lww_model(
        self, spark, tmp_path, monkeypatch, call, after
    ):
        """Batch 0 commits 10 keys (head swaps 1 and 2: commit, vacuum);
        batch 1 adds key 10 and re-versions key 3 (swaps 3 and 4)."""
        from columnar_database_project_spark.streaming.dml import upsert_stream

        drops = [
            [(i, f"v{i}", 1) for i in range(10)],
            [(10, "new", 1), (3, "v3b", 2), (4, "stale", 0)],
        ]
        write_drops(
            tmp_path / "drops",
            [
                pa.table(
                    {
                        "id": pa.array([r[0] for r in d], pa.int64()),
                        "v": [r[1] for r in d],
                        "ver": pa.array([r[2] for r in d], pa.int64()),
                    }
                )
                for d in drops
            ],
        )
        table = str(tmp_path / "table")

        def start():
            changes = (
                spark.readStream.schema(self.SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(tmp_path / "drops"))
            )
            return upsert_stream(
                changes, table, "id", "ver", str(tmp_path / "ckpt")
            )

        run_until_crash(start, monkeypatch, call, after)

        model: dict = {}
        for d in drops:
            for k, v, ver in d:
                if k not in model or ver > model[k][1]:
                    model[k] = (v, ver)
        store = ManifestStore(table)
        got = {r["id"]: (r["v"], r["ver"]) for r in store.read(spark).collect()}
        assert got == model
        assert len(got) == 11
        # vacuum kept one snapshot on disk
        assert len(store.versions()) == 1
        assert store.vacuum(dry_run=True)["files_removed"] == []


class TestHeavyHittersStreamCrash:
    def test_restart_equals_uncrashed_summary(self, spark, tmp_path, monkeypatch):
        """Batch 0 puts ``alpha`` at 3, batch 1 adds 1. A crash at
        batch 1's commit swap (head swap 3), then a restart, gives the
        summary of an uncrashed run: the exact counts, since the
        vocabulary is below capacity."""
        from columnar_database_project_spark.streaming.text import (
            heavy_hitters_stream,
            read_document_stream,
        )

        drops = [
            [(1, "alpha beta alpha"), (2, "alpha gamma")],
            [(3, "alpha delta beta")],
        ]
        write_drops(tmp_path / "drops", [doc_table(d) for d in drops])

        def start():
            return heavy_hitters_stream(
                read_document_stream(spark, str(tmp_path / "drops")),
                str(tmp_path / "hh"),
                str(tmp_path / "ckpt"),
                capacity=20,
            )

        run_until_crash(start, monkeypatch, call=3)

        exact = collections.Counter(
            t for d in drops for _, text in d for t in text.split()
        )
        got = {
            r["term"]: r["cnt"]
            for r in ManifestStore(str(tmp_path / "hh")).read(spark).collect()
        }
        assert got == dict(exact)
        assert got["alpha"] == 4


class TestDedupStreamCrash:
    @pytest.mark.parametrize(
        "after", [False, True], ids=["commit_swap", "after_commit_swap"]
    )
    def test_restart_matches_keep_first_model(
        self, spark, tmp_path, monkeypatch, after
    ):
        """Batch 0's append initializes the store (head swap 1); batch 1
        repeats a stored text, repeats one of its own, and brings one
        new text (swap 2). Crashing at swap 2, before or after it lands,
        then restarting, keeps the first doc per text exactly once."""
        from columnar_database_project_spark.streaming.text import (
            dedup_stream_against_store,
            read_document_stream,
        )

        drops = [
            [(1, "first text"), (2, "second text")],
            [(3, "first text"), (4, "third text"), (5, "third text")],
        ]
        write_drops(tmp_path / "drops", [doc_table(d) for d in drops])
        out = str(tmp_path / "out")

        def start(ckpt="ckpt"):
            return dedup_stream_against_store(
                read_document_stream(spark, str(tmp_path / "drops")),
                out,
                str(tmp_path / ckpt),
            )

        run_until_crash(start, monkeypatch, call=2, after=after)

        keep_first: dict = {}
        for d in drops:
            for doc_id, text in d:
                keep_first.setdefault(text, doc_id)
        store = ManifestStore(out)
        rows = store.read(spark).collect()
        assert sorted(r["doc_id"] for r in rows) == sorted(keep_first.values())
        fps = [r["fp"] for r in rows]
        assert len(fps) == len(set(fps))

        # exactly-once by content, whatever the checkpoint: a full
        # replay from a fresh checkpoint commits nothing
        v = store.latest()
        q = start("ckpt_fresh")
        q.awaitTermination(180)
        assert store.latest() == v
        assert sorted(r["doc_id"] for r in store.read(spark).collect()) == sorted(
            keep_first.values()
        )


class TestCompactManifestCrash:
    def test_crash_at_head_swap_leaves_version_and_orphans(
        self, spark, tmp_path, monkeypatch
    ):
        from columnar_database_project_spark.storage.cow import (
            append_cow,
            compact_manifest,
            init_manifest_table,
        )

        store = ManifestStore(str(tmp_path / "t"))
        df = spark.range(0, 200).withColumnRenamed("id", "v")
        init_manifest_table(spark, store, df.filter("v < 50").coalesce(1))
        for lo in (50, 100, 150):
            append_cow(
                spark, store, df.filter(f"v >= {lo} AND v < {lo + 50}").coalesce(1)
            )
        v_before, files_before = store.latest(), store.files_for()
        rows_before = sorted(r["v"] for r in store.read(spark).collect())

        state = crash_at_head_swap(monkeypatch, call=1)
        with pytest.raises(InjectedCrash):
            compact_manifest(spark, store, block_rows=1000)
        assert state["crashed"]
        monkeypatch.undo()

        assert store.latest() == v_before
        assert store.files_for() == files_before
        assert sorted(r["v"] for r in store.read(spark).collect()) == rows_before
        # the compaction's files and manifest are orphans vacuum sees
        dry = store.vacuum(keep_last=len(store.versions()), dry_run=True)
        assert dry["versions_removed"] == [v_before + 1]
        assert dry["files_removed"]
        assert all(
            f.startswith(os.path.join("data", f"c{v_before + 1:06d}"))
            for f in dry["files_removed"]
        )

        rep = compact_manifest(spark, store, block_rows=1000)
        assert rep["compacted"] and rep["blocks_after"] == 1
        assert sorted(r["v"] for r in store.read(spark).collect()) == rows_before


def test_package_has_no_directory_rename_commits():
    """Every on-disk writer commits through the manifest head swap;
    an ``os.rename(`` in the package would be a second commit path."""
    hits = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if "os.rename(" in line
    ]
    assert hits == []
