"""One manifest snapshot per operation.

Every manifest verb reads the head once and commits against the
snapshot it read: the counts of ``_manifests/`` listings and manifest
``open()`` calls pin that, a commit whose base is no longer the head
raises instead of publishing over it (interleavings staged with a
monkeypatched ``MicroBlockWriter.write``, ``json.dump`` or
``ManifestStore._load``, as tests/test_crash_injection.py stages
crashes), the CoW delete counts its rows from zone-map records
instead of scanning, the CoW update counts its rows inside its rewrite,
and ``merge_mor``'s fallback to CoW repeats no
work. ``vacuum``'s dry run reports exactly what the real run removes.
"""

from __future__ import annotations

import builtins
import collections
import os
import shutil

import pandas as pd
import pytest

from columnar_database_project_spark.sources.microblock import MicroBlockWriter
from columnar_database_project_spark.storage import manifests
from columnar_database_project_spark.storage.cow import (
    append_cow,
    compact_manifest,
    delete_where_cow,
    delete_where_mor,
    init_manifest_table,
    merge_cow,
    merge_mor,
    mor_compaction_debt,
    update_where_cow,
    update_where_mor,
)
from columnar_database_project_spark.storage.manifests import (
    CommitConflict,
    ManifestStore,
)
from dml_model import COLS, KEY, DuckModel, sorted_state, states_equal
from spark_counters import jobs_run

LISTING = "_manifests/"


def _orders(lo: int, hi: int) -> pd.DataFrame:
    k = pd.Series(range(lo, hi), dtype="int64")
    return pd.DataFrame(
        {
            KEY: k,
            "o_custkey": (k * 7) % 150,
            "o_orderstatus": k.map(lambda i: "FOP"[i % 3]),
            "o_totalprice": ((k % 997) * 1.5 + 1000.0).round(2),
        }
    )[COLS]


def _store(spark, root, pdf: pd.DataFrame, block_rows: int) -> ManifestStore:
    """A manifest table of ``pdf`` in key order, ``block_rows`` rows a
    file."""
    store = ManifestStore(str(root))
    df = spark.createDataFrame(pdf).orderBy(KEY).coalesce(1)
    init_manifest_table(spark, store, df, block_rows=block_rows)
    return store


def _state(spark, store) -> list[tuple]:
    return sorted_state(store.read(spark).toPandas())


def metadata_opens(monkeypatch, fn) -> collections.Counter:
    """``fn()``'s listings of ``_manifests/`` (under ``LISTING``) and
    ``open()`` calls on each file in it, by file name."""
    real = {"open": builtins.open, "listdir": os.listdir, "scandir": os.scandir}
    seen: collections.Counter = collections.Counter()

    def is_manifests(path) -> bool:
        return isinstance(path, (str, os.PathLike)) and os.path.basename(
            os.path.normpath(os.fspath(path))
        ) == "_manifests"

    def counting_open(file, *args, **kwargs):
        if isinstance(file, (str, os.PathLike)) and is_manifests(
            os.path.dirname(os.fspath(file))
        ):
            seen[os.path.basename(os.fspath(file))] += 1
        return real["open"](file, *args, **kwargs)

    def counting_list(name):
        def listing(path=".", *args, **kwargs):
            if is_manifests(path):
                seen[LISTING] += 1
            return real[name](path, *args, **kwargs)

        return listing

    with monkeypatch.context() as m:
        m.setattr(builtins, "open", counting_open)
        m.setattr(os, "listdir", counting_list("listdir"))
        m.setattr(os, "scandir", counting_list("scandir"))
        fn()
    return seen


def _batch(spark, lo: int, hi: int):
    return spark.createDataFrame(_orders(lo, hi).assign(o_orderstatus="M"))


# (verb, call) on an 8-file, 800-row table with deletion vectors in its
# first file; max_dv_rows=1 sends a MoR verb down its CoW fallback
VERBS = {
    "delete_where_cow": lambda s, st: delete_where_cow(s, st, f"{KEY} < 150"),
    "delete_where_mor": lambda s, st: delete_where_mor(s, st, f"{KEY} < 150"),
    "delete_where_mor_fallback": lambda s, st: delete_where_mor(
        s, st, f"{KEY} < 150", max_dv_rows=1
    ),
    "update_where_cow": lambda s, st: update_where_cow(
        s, st, f"{KEY} < 150", {"o_orderstatus": "'U'"}
    ),
    "update_where_mor": lambda s, st: update_where_mor(
        s, st, f"{KEY} < 150", {"o_orderstatus": "'U'"}
    ),
    "update_where_mor_fallback": lambda s, st: update_where_mor(
        s, st, f"{KEY} < 150", {"o_orderstatus": "'U'"}, max_dv_rows=1
    ),
    "merge_cow": lambda s, st: merge_cow(s, st, _batch(s, 90, 120), KEY),
    "merge_mor": lambda s, st: merge_mor(s, st, _batch(s, 90, 120), KEY),
    "merge_mor_fallback": lambda s, st: merge_mor(
        s, st, _batch(s, 90, 120), KEY, max_dv_rows=1
    ),
    "merge_mor_key_fallback": lambda s, st: merge_mor(
        s, st, _batch(s, 90, 120), KEY, max_point_keys=1
    ),
    "append_cow": lambda s, st: append_cow(s, st, _batch(s, 800, 850)),
    "compact_manifest": lambda s, st: compact_manifest(s, st, block_rows=100),
    "init_manifest_table": lambda s, st: init_manifest_table(
        s, st, _batch(s, 0, 50)
    ),
    "mor_compaction_debt": lambda s, st: mor_compaction_debt(st),
    "add_column": lambda s, st: st.add_column("q", "double"),
}


class TestOneSnapshotPerVerb:
    @pytest.mark.parametrize("verb", sorted(VERBS))
    def test_verb_reads_head_and_manifest_once(
        self, spark, tmp_path, monkeypatch, verb
    ):
        """One listing of ``_manifests/`` (the head) and one open of
        each manifest (the base read); the new version is published
        by a link, not an open."""
        store = _store(spark, tmp_path / "t", _orders(0, 800), 100)
        delete_where_mor(spark, store, f"{KEY} < 5")
        before = store.latest()
        rep = {}
        seen = metadata_opens(
            monkeypatch, lambda: rep.update(VERBS[verb](spark, store))
        )
        if verb.endswith("fallback"):
            assert rep["mode"] == "cow_fallback"
        if verb != "mor_compaction_debt":
            assert store.latest() > before     # the verb committed
        assert seen[LISTING] == 1, seen
        assert all(n == 1 for f, n in seen.items() if f != LISTING), seen

    def test_read_opens_each_file_once(self, spark, tmp_path, monkeypatch):
        """A head read lists once and opens the head manifest; a
        time-travel read lists nothing and opens its manifest."""
        store = _store(spark, tmp_path / "t", _orders(0, 800), 100)
        delete_where_mor(spark, store, f"{KEY} < 5")
        for version, listings in ((None, 1), (1, 0)):
            seen = metadata_opens(monkeypatch, lambda: store.read(spark, version))
            assert seen[LISTING] == listings, seen
            name = f"m{version or store.latest():06d}.json"
            assert seen[name] == 1 and sum(seen.values()) == listings + 1, seen


class TestSpareJobs:
    def test_delete_where_cow_runs_no_counting_scan(self, spark, tmp_path):
        """A delete on a 4-file table runs at most 3 jobs, and still
        reports the rows it deleted, DV'd rows of a touched file
        excluded."""
        store = _store(spark, tmp_path / "t", _orders(0, 4000), 1000)
        delete_where_mor(spark, store, f"{KEY} IN (3, 7)")
        rep = {}
        jobs = jobs_run(
            spark, lambda: rep.update(delete_where_cow(spark, store, f"{KEY} < 10"))
        )
        assert rep["deleted"] == 8 and rep["files_rewritten"] == 1
        assert len(jobs) <= 3, jobs
        assert store.read(spark).count() == 3990

    def test_update_where_cow_counts_inside_its_write(self, spark, tmp_path):
        """A 10-row update on a 4-file table is one job, the rewrite:
        the updated rows are counted by the write, DV'd rows of the
        touched file excluded."""
        store = _store(spark, tmp_path / "t", _orders(0, 4000), 1000)
        delete_where_mor(spark, store, f"{KEY} IN (3, 7)")
        rep = {}
        jobs = jobs_run(
            spark,
            lambda: rep.update(
                update_where_cow(spark, store, f"{KEY} < 10", {"o_orderstatus": "'X'"})
            ),
        )
        assert rep["updated"] == 8 and rep["files_rewritten"] == 1
        assert len(jobs) == 1, jobs
        got = store.read(spark).where("o_orderstatus = 'X'").collect()
        assert sorted(r[KEY] for r in got) == [0, 1, 2, 4, 5, 6, 8, 9]

    def test_merge_mor_fallback_repeats_no_work(self, spark, tmp_path):
        """The fallback runs the jobs of a direct ``merge_cow`` plus at
        most two for its position scan."""
        jobs = {}
        reps = {}
        for name, verb in (
            ("direct", lambda st, b: merge_cow(spark, st, b, KEY)),
            ("fallback", lambda st, b: merge_mor(spark, st, b, KEY, max_dv_rows=1)),
        ):
            store = _store(spark, tmp_path / name, _orders(0, 4000), 1000)
            updates = _batch(spark, 100, 110)
            jobs[name] = jobs_run(
                spark, lambda: reps.update({name: verb(store, updates)})
            )
        assert reps["fallback"] == {**reps["direct"], "mode": "cow_fallback"}
        assert len(jobs["fallback"]) <= len(jobs["direct"]) + 2, jobs


class TestInterleavedCommits:
    """An ``append_cow`` commits while a rewrite is inside its write (or
    inside its commit's footer reads, or between its base check and its
    publish): the rewrite's base is no longer the head, so its commit
    must fail, and the table must be the append's version, read back
    intact."""

    def _race(
        self, spark, tmp_path, monkeypatch, late_verb, hook=None, entry=False
    ) -> None:
        """Run ``late_verb`` with the append inside ``hook`` (default:
        ``MicroBlockWriter.write``), after the hooked call returns or,
        with ``entry``, before it starts."""
        pdf, extra = _orders(0, 800), _orders(800, 820)
        store = _store(spark, tmp_path / "t", pdf, 100)
        owner, attr = hook or (MicroBlockWriter, "write")
        real = getattr(owner, attr)
        raced: dict = {}

        def append_once():
            if "append" not in raced:
                raced["append"] = None
                raced["append"] = append_cow(spark, store, spark.createDataFrame(extra))

        def during(*args, **kwargs):
            if entry:
                append_once()
            out = real(*args, **kwargs)
            append_once()
            return out

        monkeypatch.setattr(owner, attr, during)
        try:
            late_verb(store)
            lost = None
        except Exception as e:  # checked below, after the table
            lost = e
        monkeypatch.undo()
        won = raced["append"]["version"]
        assert store.versions()[-1] == won, (store.versions(), won)
        missing = [f for f in store.files_for(won) if not os.path.exists(f)]
        assert not missing, missing
        model = DuckModel(pdf)
        model.merge(extra)   # fresh keys: the merge is the append
        assert states_equal(_state(spark, store), model.state())
        assert isinstance(lost, CommitConflict), lost

    def test_append_during_delete(self, spark, tmp_path, monkeypatch):
        self._race(
            spark, tmp_path, monkeypatch,
            lambda store: delete_where_cow(spark, store, f"{KEY} < 150"),
        )

    def test_append_during_compaction(self, spark, tmp_path, monkeypatch):
        self._race(
            spark, tmp_path, monkeypatch,
            lambda store: compact_manifest(spark, store, block_rows=1000),
        )

    def test_append_during_commit_footer_reads(
        self, spark, tmp_path, monkeypatch
    ):
        """The publish runs after the commit reads its new files'
        footers, so an append that lands during those reads is caught."""
        self._race(
            spark, tmp_path, monkeypatch,
            lambda store: delete_where_cow(spark, store, f"{KEY} < 150"),
            hook=(manifests, "footer_records"),
        )

    @pytest.mark.parametrize("verb", ["add_column", "delete_where_cow", "merge_mor"])
    def test_append_while_the_manifest_is_written(
        self, spark, tmp_path, monkeypatch, verb
    ):
        """The append commits while the verb serializes its new
        manifest, the last step before it publishes: a base check made
        before that point cannot see it, so the publish itself must."""
        self._race(
            spark, tmp_path, monkeypatch,
            lambda store: VERBS[verb](spark, store),
            hook=(manifests.json, "dump"),
        )

    @pytest.mark.parametrize("verb", ["compact_manifest", "delete_where_cow"])
    def test_append_staged_while_a_rewrite_stages(
        self, spark, tmp_path, monkeypatch, verb
    ):
        """The append stages, writes and commits before the rewrite
        writes a block: each writer must stage into its own directory,
        or the rewrite's overwrite deletes the append's files."""
        rewrite = {
            "compact_manifest": lambda store: compact_manifest(
                spark, store, block_rows=1000
            ),
            "delete_where_cow": lambda store: VERBS[verb](spark, store),
        }[verb]
        self._race(spark, tmp_path, monkeypatch, rewrite, entry=True)


def test_commit_during_vacuum_survives(spark, tmp_path, monkeypatch):
    """An ``add_column`` commits while ``vacuum`` loads its kept
    versions: the new version is above the kept window, so it stays the
    head, and the table reads the model with the added column."""
    pdf = _orders(0, 800)
    store = _store(spark, tmp_path / "t", pdf, 100)
    delete_where_cow(spark, store, f"{KEY} < 150")
    model = DuckModel(pdf)
    model.delete(f"{KEY} < 150")
    real = ManifestStore._load
    raced: dict = {}

    def load(self, version):
        if "add" not in raced:
            raced["add"] = None
            raced["add"] = self.add_column("q", "double")
        return real(self, version)

    monkeypatch.setattr(ManifestStore, "_load", load)
    rep = store.vacuum(keep_last=1)
    monkeypatch.undo()
    won = raced["add"]["version"]
    assert store.versions() == [won - 1, won], (store.versions(), won)
    assert rep["versions_removed"] == [won - 2]
    model.add_column("q", "double")
    cols = COLS + ["q"]
    assert states_equal(
        sorted_state(store.read(spark).toPandas(), cols), model.state(cols)
    )


def test_vacuum_dry_run_reports_the_real_plan(spark, tmp_path):
    """A store with a rolled-back version, a temp manifest a crashed
    commit left and an orphan staged dir: the dry run, less its
    ``dry_run`` key, is the report of the real vacuum that follows."""
    store = _store(spark, tmp_path / "t", _orders(0, 400), 100)
    append_cow(spark, store, _batch(spark, 400, 450))
    append_cow(spark, store, _batch(spark, 450, 500))
    assert store.rollback(2).version == 4
    files = store.files_for()
    temp = os.path.join("_manifests", ".m-crashed.tmp")
    shutil.copyfile(store._manifest_path(2), os.path.join(store.root, temp))
    staged = store.stage()
    shutil.copyfile(files[0], os.path.join(staged, "part-orphan.parquet"))
    rows = _state(spark, store)

    dry = store.vacuum(keep_last=1, dry_run=True)
    assert dry.pop("dry_run") is True
    real = store.vacuum(keep_last=1)
    assert dry == real
    assert real["versions_removed"] == [1, 2, 3]
    assert temp in real["files_removed"]
    orphan = os.path.relpath(os.path.join(staged, "part-orphan.parquet"), store.root)
    assert orphan in real["files_removed"]
    assert not os.path.exists(staged)
    assert not os.path.exists(os.path.join(store.root, temp))
    assert store.versions() == [4] and _state(spark, store) == rows
