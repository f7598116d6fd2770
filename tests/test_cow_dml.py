"""Block-granular copy-on-write DML (storage/cow.py + ManifestStore):
equivalence with the DuckDB reference model (tests/dml_model.py) under
random op sequences, change-proportional IO, manifest time travel, and
reference-counted vacuum."""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow.parquet as pq
import pytest

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.engine import MicroBlockEngine
from columnar_database_project_spark.storage.cow import (
    delete_where_cow,
    init_manifest_table,
    merge_cow,
    update_where_cow,
)
from columnar_database_project_spark.storage.manifests import (
    CommitConflict,
    ManifestStore,
)
from dml_model import COLS, KEY, DuckModel, sorted_state, states_equal

SEED = 0xC01D

_CUSTKEYS = [0, 10, 75, 149, 5000]
_PRICES = [0.0, 20000.0, 150000.0, 400000.0]
_STATUSES = ["F", "O", "P"]


def _pred(rng: random.Random) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"o_custkey {rng.choice(['<', '>', '=', '!='])} {rng.choice(_CUSTKEYS)}"
    if kind == 1:
        return f"o_totalprice {rng.choice(['<', '>'])} {rng.choice(_PRICES)!r}"
    if kind == 2:
        return f"o_orderstatus = '{rng.choice(_STATUSES)}'"
    lo, hi = sorted(rng.sample(_CUSTKEYS, 2))
    return f"o_custkey BETWEEN {lo} AND {hi}"


@pytest.fixture(scope="module")
def orders_df(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(*COLS)


class TestEquivalenceWithDuckdbModel:
    def test_random_sequence_matches_duckdb_model(
        self, spark, orders_df, tmp_path_factory
    ):
        """The CoW verbs must be a pure IO optimization: the seeded op
        sequence through the manifest CoW engine yields the DuckDB
        model's state (whole-table SQL DML) at every step."""
        rng = random.Random(SEED)
        root = tmp_path_factory.mktemp("cow_equiv")
        model = DuckModel(orders_df.toPandas())

        # manifest CoW — small blocks so triage matters
        mstore = ManifestStore(str(root / "mani"))
        eng = MicroBlockEngine(spark)
        init_manifest_table(
            spark, mstore, orders_df.repartition(8, KEY), block_rows=256
        )
        eng.register("tb", mstore.read(spark))

        schema = eng.table("tb").schema
        for step in range(8):
            op = rng.randrange(3)
            if op == 0:
                pred = _pred(rng)
                model.delete(pred)
                eng.delete_where_cow("tb", pred, mstore, block_rows=256)
            elif op == 1:
                pred = _pred(rng)
                col, expr = rng.choice(
                    [
                        ("o_totalprice", "o_totalprice * 1.1"),
                        ("o_orderstatus", "'Z'"),
                        ("o_custkey", "o_custkey + 7"),
                    ]
                )
                model.update(pred, col, expr)
                eng.update_where_cow(
                    "tb", pred, {col: expr}, mstore, block_rows=256
                )
            else:
                cur = model.pdf()
                n_upd = min(len(cur), rng.randrange(0, 10))
                upd = cur.sample(n=n_upd, random_state=rng.randrange(2**31))
                upd = upd.assign(o_orderstatus="M")
                max_key = int(cur[KEY].max()) if len(cur) else 0
                new = pd.DataFrame(
                    {
                        KEY: [max_key + 1, max_key + 2],
                        "o_custkey": [1, 2],
                        "o_orderstatus": ["N", "N"],
                        "o_totalprice": [5.0, 6.0],
                    }
                )
                upd_pdf = pd.concat([upd, new], ignore_index=True)[COLS]
                updates = spark.createDataFrame(upd_pdf, schema=schema)
                model.merge(upd_pdf)
                eng.merge_cow("tb", updates, KEY, mstore, block_rows=256)

            got = sorted_state(eng.table("tb").toPandas())
            assert states_equal(got, model.state()), f"diverged at step {step}"


@pytest.fixture(scope="module")
def sorted_store(spark, orders_df, tmp_path_factory):
    """A key-sorted 16-block manifest table — the layout where triage
    is selective."""
    store = ManifestStore(str(tmp_path_factory.mktemp("cow_sorted")))
    n = orders_df.count()
    init_manifest_table(
        spark,
        store,
        orders_df.orderBy(KEY).coalesce(1),
        block_rows=max(1, n // 16),
    )
    return store, n


class TestChangeProportionalIO:
    def test_selective_delete_carries_most_files(self, spark, sorted_store):
        store, n = sorted_store
        before = set(store.files_for())
        rep = delete_where_cow(
            spark, store, f"{KEY} BETWEEN 10 AND 20", block_rows=256
        )
        assert rep["deleted"] == 11
        assert rep["files_rewritten"] <= 2
        assert rep["files_carried"] >= len(before) - 2
        # carried files are literally the same paths, not copies
        after = set(store.files_for())
        assert len(before & after) == rep["files_carried"]

    def test_noop_predicate_rewrites_nothing(self, spark, sorted_store):
        store, n = sorted_store
        rep = delete_where_cow(spark, store, f"{KEY} > 99999999")
        assert rep["files_rewritten"] == 0
        assert rep["deleted"] == 0
        # a no-op commit still advances the log with the same files
        vs = store.versions()
        assert store.files_for(vs[-1]) == store.files_for(vs[-2])

    def test_selective_merge_triage(self, spark, sorted_store):
        store, n = sorted_store
        schema = store.read(spark).schema
        cur = store.read(spark).toPandas()
        touch = cur[cur[KEY].isin([100, 101])].assign(o_orderstatus="M")
        updates = spark.createDataFrame(touch[COLS], schema=schema)
        rep = merge_cow(spark, store, updates, KEY, block_rows=256)
        assert rep["files_rewritten"] <= 2
        assert rep["files_carried"] >= 13
        got = store.read(spark).filter(f"{KEY} IN (100, 101)").toPandas()
        assert set(got["o_orderstatus"]) == {"M"}
        assert store.read(spark).count() == cur.shape[0]

    def test_update_casts_back_to_column_type(self, spark, sorted_store):
        store, n = sorted_store
        before = store.read(spark).count()
        rep = update_where_cow(
            spark,
            store,
            f"{KEY} < 5",
            {"o_custkey": "o_custkey + 0.5"},  # double expr on bigint col
            block_rows=256,
        )
        assert rep["files_rewritten"] >= 1
        df = store.read(spark)
        # schema did not fork across carried + rewritten files
        assert dict(df.dtypes)["o_custkey"] == "bigint"
        assert df.count() == before


class TestConjunctPruning:
    def test_unparseable_conjunct_keeps_the_rest(self, spark, orders_df, tmp_path):
        """A conjunct outside the pruning grammar (``%``) is dropped, not
        the whole WHERE: the ``BETWEEN`` still confines the rewrite to
        the one file its keys sit in."""
        model = DuckModel(orders_df.toPandas())
        store = ManifestStore(str(tmp_path / "m"))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1), block_rows=-(-n // 4)
        )
        assert len(store.files_for()) == 4
        pred = f"{KEY} BETWEEN 30 AND 40 AND {KEY} % 2 = 1"
        model.update(pred, "o_orderstatus", "'U'")
        rep = update_where_cow(spark, store, pred, {"o_orderstatus": "'U'"})
        assert rep["files_rewritten"] == 1 and rep["files_carried"] == 3
        want = model.state()
        assert rep["updated"] == sum(1 for r in want if r[2] == "U") > 0
        assert states_equal(sorted_state(store.read(spark).toPandas()), want)

    def test_commented_out_conjunct_does_not_narrow(self, spark, orders_df, tmp_path):
        """Spark drops a ``--`` comment, so the conjunct after one must
        not prune: the first file's key is deleted though the commented
        text names a key of the last file."""
        model = DuckModel(orders_df.toPandas())
        store = ManifestStore(str(tmp_path / "m"))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1), block_rows=-(-n // 4)
        )
        assert len(store.files_for()) == 4
        keys = sorted(r[0] for r in orders_df.select(KEY).collect())
        pred = f"{KEY} = {keys[0]} -- AND {KEY} = {keys[-1]}"
        model.delete(pred)
        delete_where_cow(spark, store, pred)
        want = model.state()
        assert len(want) == n - 1
        assert states_equal(sorted_state(store.read(spark).toPandas()), want)


class TestTimeTravelAndVacuum:
    def test_every_version_reads_and_empty_table_reads(
        self, spark, orders_df, tmp_path_factory
    ):
        store = ManifestStore(str(tmp_path_factory.mktemp("cow_tt")))
        init_manifest_table(spark, store, orders_df, block_rows=512)
        n0 = store.read(spark).count()
        delete_where_cow(spark, store, "o_custkey >= 0")  # all non-null rows
        vs = store.versions()
        assert store.read(spark, vs[0]).count() == n0
        empty = store.read(spark, vs[-1])
        assert empty.count() == 0
        assert set(empty.columns) == set(COLS)  # schema survives emptiness

    def test_vacuum_is_reference_counted(
        self, spark, orders_df, tmp_path_factory
    ):
        """v1's untouched blocks are referenced by later manifests:
        vacuum(keep_last=1) must keep exactly the head's file set —
        including files CREATED by dropped versions — and delete the
        rest."""
        store = ManifestStore(str(tmp_path_factory.mktemp("cow_vac")))
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1), block_rows=128
        )
        delete_where_cow(spark, store, f"{KEY} BETWEEN 0 AND 50")
        update_where_cow(
            spark, store, f"{KEY} BETWEEN 200 AND 260", {"o_orderstatus": "'U'"}
        )
        head_files = set(store.files_for())
        head_count = store.read(spark).count()
        head_state = sorted_state(store.read(spark).toPandas())

        rep = store.vacuum(keep_last=1)
        assert rep["versions_removed"]  # something was dropped
        # every head file survived, every removed file is gone
        assert set(store.files_for()) == head_files
        for f in head_files:
            assert os.path.exists(f)
        for rel in rep["files_removed"]:
            assert not os.path.exists(os.path.join(store.root, rel))
        # and the head still reads identically
        assert store.read(spark).count() == head_count
        assert states_equal(
            sorted_state(store.read(spark).toPandas()), head_state
        )
        # dropped versions now raise
        with pytest.raises(ValueError):
            store.read(spark, rep["versions_removed"][0])


class TestSchemaEvolutionAndAppend:
    def test_add_column_is_metadata_only(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import append_cow

        store = ManifestStore(str(tmp_path_factory.mktemp("cow_evo")))
        init_manifest_table(spark, store, orders_df, block_rows=512)
        n0 = store.read(spark).count()
        files_before = store.files_for()

        rep = store.add_column("quality", "double")
        assert rep["column"] == "quality"
        # zero data IO: the new version names exactly the same files
        assert store.files_for() == files_before
        df = store.read(spark)
        assert dict(df.dtypes)["quality"] == "double"
        assert df.count() == n0
        assert df.filter("quality IS NOT NULL").count() == 0
        # the PREVIOUS version does not have the column (time travel
        # sees the schema as of its manifest)
        old = store.read(spark, store.versions()[-2])
        assert "quality" not in old.columns
        # duplicate add is an error
        with pytest.raises(ValueError):
            store.add_column("quality", "double")

        # a later UPDATE materializes the column in touched blocks;
        # carried blocks still read NULL
        rep2 = update_where_cow(
            spark, store, f"{KEY} < 10", {"quality": "0.5"}
        )
        assert rep2["files_rewritten"] >= 1
        df2 = store.read(spark)
        assert df2.filter("quality = 0.5").count() == 10
        assert df2.filter("quality IS NULL").count() == n0 - 10
        assert df2.count() == n0

        # append AFTER evolution: a frame WITH the new column unions
        # against carried blocks that lack it
        extra = spark.createDataFrame(
            [(99990, 1, "A", 10.0, 0.9)],
            schema=f"{KEY} bigint, o_custkey bigint, o_orderstatus string,"
            " o_totalprice double, quality double",
        )
        rep3 = append_cow(spark, store, extra, block_rows=512)
        assert rep3["appended_rows"] == 1
        assert rep3["files_carried"] == len(store.files_for()) - rep3["files_new"]
        df3 = store.read(spark)
        assert df3.count() == n0 + 1
        assert df3.filter("quality = 0.9").count() == 1

    def test_append_rejects_unknown_columns(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import append_cow

        store = ManifestStore(str(tmp_path_factory.mktemp("cow_app")))
        init_manifest_table(spark, store, orders_df, block_rows=512)
        bad = orders_df.withColumn("bogus", orders_df[KEY] * 2)
        with pytest.raises(ValueError):
            append_cow(spark, store, bad)

    def test_merge_after_add_column(self, spark, orders_df, tmp_path_factory):
        """MERGE whose updates carry the evolved schema: survivors from
        pre-evolution blocks union with NULL for the added column."""
        store = ManifestStore(str(tmp_path_factory.mktemp("cow_mevo")))
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1), block_rows=256
        )
        n0 = store.read(spark).count()
        store.add_column("quality", "double")
        schema = store.read(spark).schema
        upd = spark.createDataFrame(
            [(5, 1, "M", 1.0, 0.7), (6, 2, "M", 2.0, 0.8)], schema=schema
        )
        rep = merge_cow(spark, store, upd, KEY, block_rows=256)
        assert rep["files_rewritten"] <= 2  # key triage still works
        df = store.read(spark)
        assert df.count() == n0
        assert df.filter("quality IS NOT NULL").count() == 2
        assert set(
            r[0] for r in df.filter("o_orderstatus = 'M'").select(KEY).collect()
        ) == {5, 6}


class TestManifestCompaction:
    def test_cow_compaction_rewrites_only_small_blocks(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import (
            append_cow,
            compact_manifest,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("cow_compact")))
        pdf = orders_df.toPandas()
        full = spark.createDataFrame(pdf)
        n = len(pdf)
        # one full block + five tail-block appends (the stream-ingest shape)
        init_manifest_table(spark, store, full.limit(1000).coalesce(1),
                            block_rows=1000)
        for i in range(5):
            lo = 1000 + i * 40
            chunk = spark.createDataFrame(pdf.iloc[lo:lo + 40], schema=full.schema)
            append_cow(spark, store, chunk.coalesce(1), block_rows=1000)
        files_before = store.files_for()
        assert len(files_before) == 6
        n_total = store.read(spark).count()

        rep = compact_manifest(spark, store, block_rows=1000)
        assert rep["compacted"]
        assert rep["files_rewritten"] == 5      # the five 40-row tails
        assert rep["files_carried"] == 1        # the full block carried
        assert rep["blocks_after"] == 2
        assert store.read(spark).count() == n_total
        # the carried block is literally the same file
        assert set(files_before) & set(store.files_for())
        # every rewritten file is one row group of at most block_rows
        rewritten = set(store.files_for()) - set(files_before)
        assert len(rewritten) == 1
        for f in rewritten:
            pf = pq.ParquetFile(f)
            assert pf.num_row_groups == 1
            assert pf.metadata.num_rows <= 1000

        # idempotent: a healthy store gets no new version and keeps
        # its file list
        v_compacted, files_compacted = store.latest(), store.files_for()
        rep2 = compact_manifest(spark, store, block_rows=1000)
        assert not rep2["compacted"]
        assert store.latest() == v_compacted
        assert store.files_for() == files_compacted
        # and the pre-compaction version still time-travels
        vs = store.versions()
        assert store.read(spark, vs[-2]).count() == n_total

    def test_short_rewrite_aborts_before_commit(
        self, spark, orders_df, tmp_path_factory, monkeypatch
    ):
        """The row-count guard: a rewrite that lands fewer rows than
        it read raises, and the previous version stays current."""
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )
        from columnar_database_project_spark.storage.cow import (
            append_cow,
            compact_manifest,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("cow_short")))
        pdf = orders_df.limit(200).toPandas()
        full = spark.createDataFrame(pdf)
        init_manifest_table(spark, store, full.limit(50).coalesce(1),
                            block_rows=1000)
        for lo in (50, 100, 150):
            chunk = spark.createDataFrame(pdf.iloc[lo:lo + 50], schema=full.schema)
            append_cow(spark, store, chunk.coalesce(1), block_rows=1000)
        v_before, files_before = store.latest(), store.files_for()

        real_write = MicroBlockWriter.write

        def short_write(self, df, path):
            real_write(self, df.limit(1), path)

        monkeypatch.setattr(MicroBlockWriter, "write", short_write)
        with pytest.raises(RuntimeError, match="lost rows"):
            compact_manifest(spark, store, block_rows=1000)
        monkeypatch.undo()
        assert store.latest() == v_before
        assert store.files_for() == files_before
        assert store.read(spark).count() == 200

    def test_sort_by_recluster_tightens_zone_maps(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.plans.predicate import Between
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )
        from columnar_database_project_spark.storage.cow import (
            compact_manifest,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("cow_recluster")))
        n = orders_df.count()
        # hash-shuffled: every block spans the whole key range
        init_manifest_table(
            spark, store, orders_df.repartition(8, KEY), block_rows=max(1, n // 8)
        )
        probe = Between(KEY, 100, 180)
        idx0 = MicroBlockIndex.build_from_files(store.files_for())
        hit0 = len(idx0.candidate_blocks(probe))
        # hash layout: most blocks straddle the probe window
        assert hit0 >= (2 * idx0.num_blocks) // 3

        rep = compact_manifest(
            spark, store, block_rows=max(1, n // 8), sort_by=[KEY]
        )
        assert rep["compacted"] and rep["files_carried"] == 0
        idx1 = MicroBlockIndex.build_from_files(store.files_for())
        hit = idx1.candidate_blocks(probe)
        assert len(hit) <= max(2, idx1.num_blocks // 3)
        assert store.read(spark).count() == n


class TestBloomRefinedTriage:
    def test_point_delete_with_blooms_on_hash_layout(
        self, spark, orders_df, tmp_path_factory
    ):
        """The composition the two r7 subsystems exist for: on a
        hash-distributed layout a point-key DELETE is zone-map-blind
        (most blocks straddle any mid-domain key), but the Bloom
        sidecar pins the key to its block(s) — CoW then rewrites ~1
        file instead of most of the table."""
        import os as _os

        from columnar_database_project_spark.sources.bloom import (
            build_bloom_index,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("cow_bloom")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.repartition(16, KEY),
            block_rows=max(1, n // 16),
        )
        data_dir = _os.path.dirname(store.files_for()[0])
        blooms = build_bloom_index(spark, data_dir, [KEY])

        key = 750  # mid-domain
        # zone-map-only triage for comparison
        from columnar_database_project_spark.plans.sql_where import parse_where
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )

        idx = MicroBlockIndex.build_from_files(store.files_for())
        zone_hits = len(idx.candidate_blocks(parse_where(f"{KEY} = {key}")))
        assert zone_hits >= idx.num_blocks // 2  # blind without blooms

        rep = delete_where_cow(
            spark, store, f"{KEY} = {key}", blooms=blooms,
            block_rows=max(1, n // 16),
        )
        assert rep["deleted"] == 1
        assert rep["files_rewritten"] <= 2  # 1 + possible fp
        assert rep["files_rewritten"] < zone_hits
        df = store.read(spark)
        assert df.count() == n - 1
        assert df.filter(f"{KEY} = {key}").count() == 0


class TestZorderCompaction:
    def test_zorder_recluster_prunes_both_dimensions(
        self, spark, orders_df, tmp_path_factory
    ):
        """After OPTIMIZE-ZORDER-style compaction on (key, custkey),
        a box predicate on EITHER column prunes blocks — a single-
        column sort can only ever serve its own key."""
        from columnar_database_project_spark.plans.predicate import Between
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )
        from columnar_database_project_spark.storage.cow import (
            compact_manifest,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("cow_zorder")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.repartition(16), block_rows=max(1, n // 16)
        )
        rep = compact_manifest(
            spark, store, block_rows=max(1, n // 16),
            sort_by=[KEY, "o_custkey"], zorder=True,
        )
        assert rep["compacted"]
        assert store.read(spark).count() == n
        idx = MicroBlockIndex.build_from_files(store.files_for())
        nb = idx.num_blocks
        # ~1/8 range box on each dimension independently
        hit_a = len(idx.candidate_blocks(Between(KEY, 0, 187)))
        hit_b = len(idx.candidate_blocks(Between("o_custkey", 0, 18)))
        assert hit_a < nb
        assert hit_b < nb

    def test_commit_conflict_is_detected(self, spark, orders_df, tmp_path_factory):
        """Optimistic concurrency at the manifest link: two writers
        committing on the same base — the second commit fails loudly
        instead of silently clobbering, and publishes nothing."""
        store = ManifestStore(str(tmp_path_factory.mktemp("cow_occ")))
        init_manifest_table(spark, store, orders_df.limit(10), block_rows=512)
        base = store.snapshot()
        files = store.files_for()
        won = store.commit(base, [], files)  # writer A wins
        with pytest.raises(CommitConflict, match="another writer"):
            store.commit(base, [], files)  # writer B must fail
        assert store.versions() == [base.version, won.version]
        # the loser's temp manifest is gone with it
        assert sorted(os.listdir(os.path.join(store.root, "_manifests"))) == [
            "m000001.json", "m000002.json"
        ]


class TestRegisterManifest:
    def test_explain_tracks_live_manifest_blocks(
        self, spark, orders_df, tmp_path_factory
    ):
        store = ManifestStore(str(tmp_path_factory.mktemp("cow_reg")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        eng = MicroBlockEngine(spark)
        eng.register_manifest("mt", store)
        total0 = eng.index.num_blocks
        rep = eng.explain(f"SELECT count(*) AS c FROM mt WHERE {KEY} < 100")
        assert rep["zone_map"]["blocks_total"] == total0
        assert rep["zone_map"]["blocks_predicted"] < total0  # sorted layout

        # after a CoW delete + re-register, the index follows the manifest
        delete_where_cow(spark, store, f"{KEY} < 100")
        eng.register_manifest("mt", store)
        assert eng.index.num_blocks != 0
        rep2 = eng.explain(f"SELECT count(*) AS c FROM mt WHERE {KEY} < 100")
        assert rep2["zone_map"]["blocks_predicted"] <= 1  # provably empty ± tail
        assert eng.query(
            f"SELECT count(*) AS c FROM mt WHERE {KEY} < 100"
        ).collect()[0]["c"] == 0


class TestMergeOnReadDeletes:
    def test_mor_delete_writes_no_data_files(
        self, spark, orders_df, tmp_path_factory
    ):
        import glob as _glob

        from columnar_database_project_spark.storage.cow import (
            delete_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("mor")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        files_before = sorted(_glob.glob(
            os.path.join(store.root, "data", "**", "*"), recursive=True
        ))
        rep = delete_where_mor(spark, store, f"{KEY} BETWEEN 10 AND 14")
        assert rep["mode"] == "mor"
        assert rep["deleted"] == 5
        assert rep["files_rewritten"] == 0
        # literally zero new data files on disk
        files_after = sorted(_glob.glob(
            os.path.join(store.root, "data", "**", "*"), recursive=True
        ))
        assert files_after == files_before
        # and the rows are logically gone
        df = store.read(spark)
        assert df.count() == n - 5
        assert df.filter(f"{KEY} BETWEEN 10 AND 14").count() == 0
        # time travel still sees them
        assert store.read(spark, store.versions()[-2]).count() == n

        # idempotent: same delete again removes nothing more
        rep2 = delete_where_mor(spark, store, f"{KEY} BETWEEN 10 AND 14")
        assert rep2["deleted"] == 0
        assert store.read(spark).count() == n - 5

    def test_mor_then_cow_interplay(self, spark, orders_df, tmp_path_factory):
        """A CoW rewrite AFTER a MoR delete must not resurrect the
        logically-deleted rows: touched blocks apply DVs before
        rewriting (consumed), carried blocks keep their vectors."""
        from columnar_database_project_spark.storage.cow import (
            delete_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("mor_cow")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        # MoR-delete keys in TWO regions: one in the block a later CoW
        # update touches, one in a block it carries
        delete_where_mor(spark, store, f"{KEY} IN (5, 800)")
        assert store.read(spark).count() == n - 2
        rep = update_where_cow(
            spark, store, f"{KEY} < 100", {"o_orderstatus": "'U'"},
        )
        assert 1 <= rep["files_rewritten"] < rep["blocks_total"]
        df = store.read(spark)
        assert df.count() == n - 2
        assert df.filter(f"{KEY} IN (5, 800)").count() == 0  # still gone
        # keys 0..99 minus the MoR-deleted key 5 → 99, NOT 100: the
        # rewrite applied the pending DV instead of resurrecting row 5
        assert df.filter("o_orderstatus = 'U'").count() == 99
        # the carried file's DV survived into the new manifest
        assert any(store.snapshot().dvs.values())

    def test_compaction_materializes_dvs(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import (
            compact_manifest,
            delete_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("mor_compact")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        delete_where_mor(spark, store, f"{KEY} IN (3, 700)")
        rep = compact_manifest(spark, store, block_rows=max(1, n // 8))
        assert rep["compacted"]
        assert not store.snapshot().dvs  # vectors consumed
        df = store.read(spark)
        assert df.count() == n - 2
        assert df.filter(f"{KEY} IN (3, 700)").count() == 0

    def test_fallback_to_cow_above_dv_budget(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import (
            delete_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("mor_fb")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        rep = delete_where_mor(
            spark, store, f"{KEY} < 500", max_dv_rows=100
        )
        assert rep["mode"] == "cow_fallback"
        assert rep["deleted"] == 500
        assert not store.snapshot().dvs  # CoW path, no vectors
        assert store.read(spark).count() == n - 500


class TestMergeOnReadUpdateAndMerge:
    def test_mor_update_appends_only_changed_rows(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import (
            update_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("mor_upd")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        rep = update_where_mor(
            spark, store, f"{KEY} IN (7, 900)",
            {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice + 1.0"},
        )
        assert rep["mode"] == "mor"
        assert rep["updated"] == 2
        assert rep["files_rewritten"] == 0
        assert rep["files_new"] == 1  # one tiny block of 2 rows
        df = store.read(spark)
        assert df.count() == n  # delete+insert net zero
        got = df.filter(f"{KEY} IN (7, 900)").toPandas()
        assert len(got) == 2 and set(got["o_orderstatus"]) == {"U"}
        # non-matching rows untouched, schema type preserved
        assert dict(df.dtypes)["o_totalprice"] == "double"
        assert df.filter("o_orderstatus = 'U'").count() == 2

        # idempotence of the DV side: updating the SAME rows again
        # DVs the previously-appended rows (now live in the new block)
        rep2 = update_where_mor(
            spark, store, f"{KEY} IN (7, 900)", {"o_custkey": "1"}
        )
        assert rep2["updated"] == 2
        df2 = store.read(spark)
        assert df2.count() == n
        assert df2.filter(f"{KEY} = 7 AND o_custkey = 1").count() == 1

    def test_mor_merge_upserts_without_rewrites(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import merge_mor

        store = ManifestStore(str(tmp_path_factory.mktemp("mor_mrg")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        schema = store.read(spark).schema
        upd = spark.createDataFrame(
            [(42, 1, "M", 1.0), (10**6, 2, "N", 2.0)], schema=schema
        )
        rep = merge_mor(spark, store, upd, KEY)
        assert rep["mode"] == "mor"
        assert rep["matched_rows"] == 1     # key 42 existed
        assert rep["files_rewritten"] == 0
        df = store.read(spark)
        assert df.count() == n + 1          # one update, one insert
        assert df.filter(f"{KEY} = 42").toPandas()["o_orderstatus"][0] == "M"
        assert df.filter(f"{KEY} = {10**6}").count() == 1
        # equivalence with CoW merge on a twin store
        store2 = ManifestStore(str(tmp_path_factory.mktemp("mor_mrg2")))
        init_manifest_table(
            spark, store2, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        merge_cow(spark, store2, upd, KEY)
        assert states_equal(
            sorted_state(store.read(spark).toPandas()),
            sorted_state(store2.read(spark).toPandas()),
        )


class TestLadderEquivalenceFuzz:
    @pytest.mark.parametrize("fuzz_seed", [0x1ADDE2, 0x5EED2])
    def test_random_mixed_cow_mor_sequence_matches_duckdb_model(
        self, spark, orders_df, tmp_path_factory, fuzz_seed
    ):
        """The whole ladder is one semantics: a random sequence that
        picks CoW or MoR per op must match the DuckDB model
        state-for-state — any DV leak, resurrection, or fallback bug
        diverges here."""
        from columnar_database_project_spark.storage.cow import (
            delete_where_mor,
            maybe_compact_mor,
            merge_mor,
            update_where_mor,
        )

        rng = random.Random(fuzz_seed)
        root = tmp_path_factory.mktemp("ladder")
        model = DuckModel(orders_df.toPandas())

        mstore = ManifestStore(str(root / "mani"))
        init_manifest_table(
            spark, mstore, orders_df.repartition(8, KEY), block_rows=256
        )

        schema = mstore.read(spark).schema
        for step in range(8):
            op = rng.randrange(3)
            mor = rng.random() < 0.5
            if op == 0:
                pred = _pred(rng)
                model.delete(pred)
                if mor:
                    delete_where_mor(spark, mstore, pred)
                else:
                    delete_where_cow(spark, mstore, pred, block_rows=256)
            elif op == 1:
                pred = _pred(rng)
                col, expr = rng.choice(
                    [
                        ("o_totalprice", "o_totalprice * 1.1"),
                        ("o_orderstatus", "'Z'"),
                    ]
                )
                model.update(pred, col, expr)
                if mor:
                    update_where_mor(
                        spark, mstore, pred, {col: expr}, block_rows=256
                    )
                else:
                    update_where_cow(
                        spark, mstore, pred, {col: expr}, block_rows=256
                    )
            else:
                cur = model.pdf()
                n_upd = min(len(cur), rng.randrange(0, 8))
                upd = cur.sample(n=n_upd, random_state=rng.randrange(2**31))
                upd = upd.assign(o_orderstatus="M")
                max_key = int(cur[KEY].max()) if len(cur) else 0
                new = pd.DataFrame(
                    {
                        KEY: [max_key + 1],
                        "o_custkey": [3],
                        "o_orderstatus": ["N"],
                        "o_totalprice": [9.0],
                    }
                )
                upd_pdf = pd.concat([upd, new], ignore_index=True)[COLS]
                updates = spark.createDataFrame(upd_pdf, schema=schema)
                model.merge(upd_pdf)
                if mor:
                    merge_mor(spark, mstore, updates, KEY, block_rows=256)
                else:
                    merge_cow(spark, mstore, updates, KEY, block_rows=256)

            # r8: interleave the auto-compaction policy (aggressive
            # thresholds so it actually fires mid-sequence) — DV
            # materialization must be invisible to table semantics
            if rng.random() < 0.4:
                maybe_compact_mor(
                    spark, mstore, block_rows=256,
                    taint_ratio=0.0, dv_rows_ratio=0.0,
                )

            got = sorted_state(mstore.read(spark).toPandas())
            assert states_equal(got, model.state()), (
                f"diverged at step {step} (mor={mor})"
            )


class TestHistory:
    def test_describe_history_facts(self, spark, orders_df, tmp_path_factory):
        from columnar_database_project_spark.storage.cow import (
            delete_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("hist")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        delete_where_cow(spark, store, f"{KEY} < 10")
        delete_where_mor(spark, store, f"{KEY} = 500")
        store.add_column("q", "double")
        h = store.history()
        assert [r["version"] for r in h] == store.versions()
        assert h[0]["files_added"] == h[0]["files"]
        assert h[1]["files_removed"] >= 1          # CoW swapped a block
        assert h[2]["dv_rows"] == 1 and h[2]["files_added"] == 0   # MoR
        assert h[3]["columns"] == h[2]["columns"] + 1  # add_column
        assert h[3]["files_added"] == 0                # metadata-only

    def test_manifest_with_meta_key_still_reads(
        self, spark, orders_df, tmp_path_factory
    ):
        """Manifests committed by earlier releases may carry a ``meta``
        object (a stream sink's batch id); the reader ignores it."""
        import json

        store = ManifestStore(str(tmp_path_factory.mktemp("hist_meta")))
        init_manifest_table(spark, store, orders_df.limit(20), block_rows=512)
        path = store._manifest_path(store.latest())
        with open(path) as fh:
            doc = json.load(fh)
        doc["meta"] = {"txn": {"batch_id": 0}}
        with open(path, "w") as fh:
            json.dump(doc, fh)
        snap = store.snapshot()
        assert snap.files and snap.version == store.latest()
        assert store.read(spark).count() == 20
        assert store.history()[-1]["files"] == len(snap.files)


class TestMorOnEvolvedSchema:
    def test_mor_delete_on_added_column_predicate(
        self, spark, orders_df, tmp_path_factory
    ):
        """MoR DELETE whose predicate references a metadata-added
        column: pre-evolution blocks lack it physically — the position
        scan must NULL-fill, not fail analysis; NULL predicate rows
        are kept (SQL semantics)."""
        from columnar_database_project_spark.storage.cow import (
            delete_where_mor,
            update_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("mor_evo")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        store.add_column("q", "double")
        # materialize q on two rows via MoR update, leave the rest NULL
        update_where_mor(spark, store, f"{KEY} IN (1, 2)", {"q": "0.9"})
        rep = delete_where_mor(spark, store, "q > 0.5")
        assert rep["mode"] == "mor"
        assert rep["deleted"] == 2           # only the materialized rows
        df = store.read(spark)
        assert df.count() == n - 2           # NULL-q rows all kept
        assert df.filter("q IS NOT NULL").count() == 0


class TestVacuumDryRunAndRollbackParity:
    def test_vacuum_dry_run_predicts_exactly(
        self, spark, orders_df, tmp_path_factory
    ):
        store = ManifestStore(str(tmp_path_factory.mktemp("vac_dry")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        delete_where_cow(spark, store, f"{KEY} < 50")
        update_where_cow(spark, store, f"{KEY} > 1400", {"o_orderstatus": "'X'"})

        plan = store.vacuum(keep_last=1, dry_run=True)
        assert plan["dry_run"]
        # dry run touched nothing
        assert len(store.versions()) == 3
        for rel in plan["files_removed"]:
            assert os.path.exists(os.path.join(store.root, rel))
        # the real vacuum removes exactly what the plan said
        real = store.vacuum(keep_last=1)
        assert real["versions_removed"] == plan["versions_removed"]
        assert sorted(real["files_removed"]) == sorted(plan["files_removed"])

    def test_rollback_restores_model_state(
        self, spark, orders_df, tmp_path_factory
    ):
        """Rollback commits an old version anew: after a DELETE, an
        UPDATE and a rollback to the DELETE's version, the table reads
        the DuckDB model's state as of that DELETE."""
        model = DuckModel(orders_df.toPandas())
        mstore = ManifestStore(str(tmp_path_factory.mktemp("rb")))
        init_manifest_table(
            spark, mstore, orders_df.orderBy(KEY).coalesce(1), block_rows=256
        )

        delete_where_cow(spark, mstore, f"{KEY} < 100", block_rows=256)
        model.delete(f"{KEY} < 100")
        after_delete = model.state()
        update_where_cow(
            spark, mstore, f"{KEY} > 1200", {"o_orderstatus": "'R'"},
            block_rows=256,
        )

        # roll back to the state after the DELETE (2nd commit)
        mstore.rollback(mstore.versions()[-2])
        b = mstore.read(spark).toPandas()
        assert states_equal(sorted_state(b), after_delete)
        assert (b["o_orderstatus"] == "R").sum() == 0  # update rolled back
        assert b[KEY].min() >= 100                      # delete retained


class TestShellHistory:
    def test_repl_history_over_manifest_table(
        self, spark, orders_df, tmp_path_factory
    ):
        from tools.shell import run_shell

        store = ManifestStore(str(tmp_path_factory.mktemp("shellhist")))
        init_manifest_table(spark, store, orders_df.limit(100), block_rows=512)
        delete_where_cow(spark, store, f"{KEY} < 5")
        eng = MicroBlockEngine(spark)
        eng.register_manifest("t_hist", store)

        lines = iter(
            [r"\history", f"SELECT count(*) AS c FROM t_hist", r"\q"]
        )
        out = []
        n = run_shell(
            eng,
            input_fn=lambda _: next(lines),
            output_fn=out.append,
            mstore=store,
        )
        assert n == 1
        hist_rows = [o for o in out if isinstance(o, dict) and "version" in o]
        assert [r["version"] for r in hist_rows] == store.versions()
