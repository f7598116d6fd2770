"""Crash injection for the manifest writers.

Every writer commits through ``ManifestStore.commit``, whose one commit
point is the ``os.link`` of a fully written temp manifest to
``m<version>.json``. These tests make a chosen link raise before it
lands, then re-run the operation and compare the store against what it
held before: no committed data is lost, and nothing is applied twice.
"""

from __future__ import annotations

import os
import pathlib

import pytest

from columnar_database_project_spark.storage.manifests import MANIFEST, ManifestStore

PKG = pathlib.Path(__file__).resolve().parents[1] / "columnar_database_project_spark"


class InjectedCrash(RuntimeError):
    pass


def crash_at_publish(monkeypatch, call: int) -> dict:
    """Make the ``call``-th manifest ``os.link`` (1-based, counted
    across every store) raise once, before the link lands. The state
    records the temp manifest the crash left behind (``"temp"``)."""
    real_link = os.link
    state = {"n": 0, "crashed": False}

    def link(src, dst, *args, **kwargs):
        if not MANIFEST.fullmatch(os.path.basename(os.fspath(dst))):
            return real_link(src, dst, *args, **kwargs)
        state["n"] += 1
        if state["n"] != call or state["crashed"]:
            return real_link(src, dst, *args, **kwargs)
        state["crashed"], state["temp"] = True, os.fspath(src)
        raise InjectedCrash(f"injected crash at manifest publish {call}")

    monkeypatch.setattr(os, "link", link)
    return state


class TestCompactManifestCrash:
    def test_crash_at_head_swap_leaves_version_and_orphans(
        self, spark, tmp_path, monkeypatch
    ):
        """The head moves only at the manifest link: a crash there
        leaves the previous version current and orphans for vacuum."""
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

        state = crash_at_publish(monkeypatch, call=1)
        with pytest.raises(InjectedCrash):
            compact_manifest(spark, store, block_rows=1000)
        assert state["crashed"]
        monkeypatch.undo()

        assert store.latest() == v_before
        assert store.files_for() == files_before
        assert sorted(r["v"] for r in store.read(spark).collect()) == rows_before
        # the compaction's staged files and temp manifest are orphans
        # vacuum sees; no committed version is among them
        dry = store.vacuum(keep_last=len(store.versions()), dry_run=True)
        assert dry["versions_removed"] == []
        temp = os.path.relpath(state["temp"], store.root)
        assert os.path.exists(state["temp"]) and temp in dry["files_removed"]
        staged = [f for f in dry["files_removed"] if f != temp]
        assert staged
        assert len({os.path.dirname(f) for f in staged}) == 1
        assert all(f.startswith("data" + os.sep) for f in staged)
        named = {
            os.path.relpath(f, store.root)
            for v in store.versions()
            for f in store.files_for(v)
        }
        assert not named.intersection(staged)

        rep = compact_manifest(spark, store, block_rows=1000)
        assert rep["compacted"] and rep["blocks_after"] == 1
        assert rep["version"] == v_before + 1
        assert sorted(r["v"] for r in store.read(spark).collect()) == rows_before


def _package_lines_with(text: str) -> list[str]:
    return [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if text in line
    ]


def test_package_has_no_directory_rename_commits():
    """Every on-disk writer commits through the manifest link; an
    ``os.rename(`` in the package would be a second commit path."""
    assert _package_lines_with("os.rename(") == []


def test_package_has_no_head_swap():
    """The put-if-absent link is the package's one commit point; an
    ``os.replace(`` would be a second, overwriting one."""
    assert _package_lines_with("os.replace(") == []
