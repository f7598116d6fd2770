"""Crash injection for the manifest writers.

Every writer commits through ``ManifestStore.commit``, whose one commit
point is the ``os.replace`` of the head log. These tests make a chosen
head swap raise before it lands, then re-run the operation and compare
the store against what it held before: no committed data is lost, and
nothing is applied twice.
"""

from __future__ import annotations

import os
import pathlib

import pytest

from columnar_database_project_spark.storage.manifests import ManifestStore

PKG = pathlib.Path(__file__).resolve().parents[1] / "columnar_database_project_spark"


class InjectedCrash(RuntimeError):
    pass


def crash_at_head_swap(monkeypatch, call: int) -> dict:
    """Make the ``call``-th head-log ``os.replace`` (1-based, counted
    across every store) raise once, before the swap lands."""
    real_replace = os.replace
    state = {"n": 0, "crashed": False}

    def replace(src, dst, *args, **kwargs):
        if os.path.basename(os.fspath(dst)) != ManifestStore.HEAD:
            return real_replace(src, dst, *args, **kwargs)
        state["n"] += 1
        if state["n"] != call or state["crashed"]:
            return real_replace(src, dst, *args, **kwargs)
        state["crashed"] = True
        raise InjectedCrash(f"injected crash at head swap {call}")

    monkeypatch.setattr(os, "replace", replace)
    return state


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
