"""Round-8 regression tests for the ADVICE.md findings:

1. (high) merge_mor with an empty / all-NULL-key update batch must
   never DV out the table (the TruePred-match-predicate bug).
2. (medium) the literal string 'nan' must survive bloom insert+lookup
   (no false-negative prune), and float-NaN lookups are MAYBE, not
   provably-absent.
3. (low) ManifestStore.commit rejects basename collisions (DV/bloom
   bitmaps are basename-keyed).
4. (low) append_stream_manifest's first batch on a FRESH store
   initializes it from the batch schema instead of raising inside
   foreachBatch.
"""

from __future__ import annotations

import pandas as pd
import pytest

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.storage.cow import (
    append_cow,
    init_manifest_table,
    merge_cow,
    merge_mor,
)
from columnar_database_project_spark.storage.manifests import ManifestStore

KEY = "o_orderkey"
COLS = [KEY, "o_custkey", "o_orderstatus", "o_totalprice"]


@pytest.fixture(scope="module")
def orders_df(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").select(*COLS)


def _init(spark, orders_df, tmp_path_factory, name):
    store = ManifestStore(str(tmp_path_factory.mktemp(name)))
    n = orders_df.count()
    init_manifest_table(
        spark, store, orders_df.orderBy(KEY).coalesce(1),
        block_rows=max(1, n // 8),
    )
    return store, n


class TestEmptyMergeIsNoop:
    def test_mor_empty_batch_does_not_wipe_table(
        self, spark, orders_df, tmp_path_factory
    ):
        """ADVICE high: empty updates → TruePred → every live row DV'd
        → table emptied by a no-op MERGE. Must be a full no-op."""
        store, n = _init(spark, orders_df, tmp_path_factory, "mor_empty")
        v_before = store.latest()
        rep = merge_mor(spark, store, orders_df.limit(0), KEY)
        assert rep["mode"] == "mor_noop"
        assert rep["matched_rows"] == 0 and rep["dv_rows_total"] == 0
        assert store.latest() == v_before          # no commit at all
        assert store.read(spark).count() == n      # nothing deleted
        assert store.snapshot().dvs == {}

    def test_mor_all_null_keys_appends_only(
        self, spark, orders_df, tmp_path_factory
    ):
        """NULL merge keys match no target row (SQL equality): the
        batch lands append-only, existing rows untouched."""
        store, n = _init(spark, orders_df, tmp_path_factory, "mor_null")
        schema = store.read(spark).schema
        upd = spark.createDataFrame(
            [(None, 7, "Z", 9.0), (None, 8, "Z", 9.5)], schema=schema
        )
        rep = merge_mor(spark, store, upd, KEY)
        assert rep["mode"] == "mor_append_only"
        assert rep["matched_rows"] == 0 and rep["dv_rows_total"] == 0
        got = store.read(spark)
        assert got.count() == n + 2
        assert got.filter("o_orderstatus = 'Z'").count() == 2
        # every pre-existing row survived
        assert got.filter(f"{KEY} is not null").count() == n

    def test_cow_empty_batch_is_noop_not_full_rewrite(
        self, spark, orders_df, tmp_path_factory
    ):
        store, n = _init(spark, orders_df, tmp_path_factory, "cow_empty")
        v_before = store.latest()
        files_before = sorted(store.files_for())
        rep = merge_cow(spark, store, orders_df.limit(0), KEY)
        assert rep["mode"] == "cow_noop"
        assert rep["files_rewritten"] == 0
        assert store.latest() == v_before
        assert sorted(store.files_for()) == files_before
        assert store.read(spark).count() == n

    def test_cow_all_null_keys_appends_only(
        self, spark, orders_df, tmp_path_factory
    ):
        store, n = _init(spark, orders_df, tmp_path_factory, "cow_null")
        schema = store.read(spark).schema
        upd = spark.createDataFrame([(None, 7, "Z", 9.0)], schema=schema)
        rep = merge_cow(spark, store, upd, KEY)
        assert rep["mode"] == "cow_append_only"
        assert rep["files_rewritten"] == 0
        assert store.read(spark).count() == n + 1


class TestBloomNanStrings:
    def test_nan_string_is_not_falsely_pruned(self, spark, tmp_path_factory):
        """ADVICE medium: the string 'nan' parsed to float NaN →
        encoded None → never inserted → lookup 'provably absent' →
        WHERE col = 'nan' wrongly pruned every block holding the row."""
        from columnar_database_project_spark.sources.bloom import (
            build_bloom_index,
        )

        path = str(tmp_path_factory.mktemp("bloom_nan") / "t")
        pdf = pd.DataFrame(
            {
                "k": list(range(8)),
                "s": ["nan", "NaN", "inf", "alpha", "beta", "5", "5.5", ""],
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
        blooms = build_bloom_index(spark, path, ["s"])
        files = [f for (f, _c) in blooms.bitmaps]
        assert files
        for probe in ["nan", "NaN", "inf", "alpha", "5", "5.5", ""]:
            assert any(
                blooms.might_contain(f, "s", probe) for f in files
            ), f"stored string {probe!r} falsely pruned"
        # float NaN lookup is MAYBE/absent by bitmap, never a crash;
        # and NULL lookup is still provably empty
        assert all(
            blooms.might_contain(f, "s", None) is False for f in files
        )

    def test_nan_keyed_mor_delete_removes_the_row(
        self, spark, tmp_path_factory
    ):
        """End-to-end: DELETE WHERE s = 'nan' over a bloom-triaged
        store must actually delete the row (the old false negative
        carried the block unchanged)."""
        from columnar_database_project_spark.sources.bloom import (
            build_bloom_index,
        )
        from columnar_database_project_spark.storage.cow import (
            delete_where_cow,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("nan_del")))
        pdf = pd.DataFrame(
            {"k": list(range(6)), "s": ["nan", "a", "b", "c", "d", "e"]}
        )
        init_manifest_table(
            spark, store, spark.createDataFrame(pdf), block_rows=2
        )
        import os as _os

        data_dir = _os.path.dirname(store.files_for()[0])
        blooms = build_bloom_index(spark, data_dir, ["s"])
        rep = delete_where_cow(spark, store, "s = 'nan'", blooms=blooms)
        got = store.read(spark)
        assert got.filter("s = 'nan'").count() == 0
        assert got.count() == 5
        assert rep["deleted"] == 1


class TestCommitBasenameGuard:
    def test_basename_collision_is_rejected(self, spark, tmp_path_factory):
        base = tmp_path_factory.mktemp("basecol")
        store = ManifestStore(str(base / "store"))
        pdf = pd.DataFrame({"k": [1, 2, 3]})
        init_manifest_table(spark, store, spark.createDataFrame(pdf))
        files = store.files_for()
        assert files
        # forge a second directory carrying the SAME basename
        import os
        import shutil

        dupe_dir = os.path.join(store.root, "data", "c999999")
        os.makedirs(dupe_dir, exist_ok=True)
        dupe = os.path.join(dupe_dir, os.path.basename(files[0]))
        shutil.copyfile(files[0], dupe)
        with pytest.raises(ValueError, match="basename collision"):
            store.commit(store.snapshot(), [dupe], files)

    def test_same_file_carried_once_is_fine(self, spark, tmp_path_factory):
        # the guard must not fire on a legitimately re-listed path
        base = tmp_path_factory.mktemp("basecol2")
        store = ManifestStore(str(base / "store"))
        pdf = pd.DataFrame({"k": [1, 2, 3]})
        init_manifest_table(spark, store, spark.createDataFrame(pdf))
        files = store.files_for()
        store.commit(store.snapshot(), [], files + files)
        assert store.read(spark).count() == 3


class TestMorAutoCompaction:
    """VERDICT r7 #3: mechanized DV compaction — the threshold policy
    fires exactly at threshold, materializes the DVs, and preserves
    table contents; the engine's MoR verbs run it automatically."""

    def _store_with_dvs(self, spark, orders_df, tmp_path_factory, name):
        from columnar_database_project_spark.storage.cow import (
            delete_where_mor,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp(name)))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        # point-delete a handful of keys → DVs land in >=1 of 8 blocks
        keys = [r[0] for r in orders_df.select(KEY).limit(3).collect()]
        rep = delete_where_mor(
            spark, store, f"{KEY} IN ({', '.join(map(str, keys))})"
        )
        assert rep["mode"] == "mor" and store.snapshot().dvs
        return store, n - rep["deleted"]

    def test_fires_exactly_at_threshold(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.storage.cow import (
            maybe_compact_mor,
            mor_compaction_debt,
        )

        store, n_live = self._store_with_dvs(
            spark, orders_df, tmp_path_factory, "acomp1"
        )
        debt = mor_compaction_debt(store)
        assert 0 < debt["taint_ratio"] <= 1
        # epsilon above the measured taint → must NOT fire
        off = maybe_compact_mor(
            spark, store,
            taint_ratio=debt["taint_ratio"] + 1e-9,
            dv_rows_ratio=1.0,
        )
        assert off["fired"] is False and store.snapshot().dvs
        # epsilon below → must fire, materializing every DV
        on = maybe_compact_mor(
            spark, store,
            taint_ratio=debt["taint_ratio"] - 1e-9,
            dv_rows_ratio=1.0,
        )
        assert on["fired"] is True
        assert store.snapshot().dvs == {}            # DVs materialized away
        assert store.read(spark).count() == n_live
        # post-compaction debt is zero → policy is idempotent
        again = maybe_compact_mor(
            spark, store, taint_ratio=0.0 + 1e-12, dv_rows_ratio=1e-12
        )
        assert again["fired"] is False
        assert again["debt"]["dv_rows"] == 0

    def test_engine_mor_delete_auto_compacts(
        self, spark, orders_df, tmp_path_factory
    ):
        from columnar_database_project_spark.engine import MicroBlockEngine

        eng = MicroBlockEngine(spark)
        store = ManifestStore(str(tmp_path_factory.mktemp("acomp2")))
        n = orders_df.count()
        init_manifest_table(
            spark, store, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        key = orders_df.select(KEY).limit(1).collect()[0][0]
        # default thresholds: 1 tainted block of 8 = 12.5% > 5% → fires
        rep = eng.delete_where_mor("t_mor", f"{KEY} = {key}", store)
        ac = rep["auto_compact"]
        assert ac["fired"] is True
        assert ac["debt"]["taint_ratio"] > 0.05
        assert store.snapshot().dvs == {}
        assert eng.table("t_mor").count() == n - rep["deleted"]
        # opt-out leaves the DV in place
        store2 = ManifestStore(str(tmp_path_factory.mktemp("acomp3")))
        init_manifest_table(
            spark, store2, orders_df.orderBy(KEY).coalesce(1),
            block_rows=max(1, n // 8),
        )
        rep2 = eng.delete_where_mor(
            "t_mor2", f"{KEY} = {key}", store2, auto_compact=False
        )
        assert "auto_compact" not in rep2
        assert store2.snapshot().dvs != {}

    def test_engine_cow_verbs_take_no_auto_compact(self, spark, tmp_path):
        """Only the MoR verbs accept ``auto_compact``; a CoW verb
        rejects it before touching the store."""
        from columnar_database_project_spark.engine import MicroBlockEngine

        eng = MicroBlockEngine(spark)
        store = ManifestStore(str(tmp_path))
        for call in (
            lambda: eng.delete_where_cow("t", "k = 1", store, auto_compact=True),
            lambda: eng.update_where_cow(
                "t", "k = 1", {"v": "0"}, store, auto_compact=True
            ),
            lambda: eng.merge_cow("t", None, "k", store, auto_compact=True),
        ):
            with pytest.raises(TypeError):
                call()
        assert store.latest() is None


class TestOrcExplainGuard:
    def test_orc_table_explain_names_the_gap(self, spark, tmp_path_factory):
        """VERDICT r7 #6: an ORC-backed table must say WHY there is no
        predicted-pruning section, not silently omit it."""
        from columnar_database_project_spark.engine import MicroBlockEngine
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )

        path = str(tmp_path_factory.mktemp("orc_guard") / "t")
        pdf = pd.DataFrame({"k": list(range(100)), "v": [1.0] * 100})
        MicroBlockWriter(block_rows=25, format="orc").write(
            spark.createDataFrame(pdf), path
        )
        eng = MicroBlockEngine(spark)  # no index attached
        eng.register("orc_t", spark.read.orc(path))
        rep = eng.explain("SELECT count(*) AS c FROM orc_t WHERE k > 50")
        assert "zone_map" in rep
        assert "ORC" in rep["zone_map"]["unavailable"]
        # the native layer still reports its own pushdown facts
        assert "physical" in rep and "pushed_filters" in rep["physical"]
        # a parquet-backed, index-less engine stays as before (no
        # zone_map section, no false ORC note)
        ppath = str(tmp_path_factory.mktemp("orc_guard") / "p")
        spark.createDataFrame(pdf).write.parquet(ppath)
        eng.register("pq_t", spark.read.parquet(ppath))
        rep2 = eng.explain("SELECT count(*) AS c FROM pq_t WHERE k > 50")
        assert "zone_map" not in rep2


class TestPrefetchConfidenceFloor:
    def test_min_prob_filters_and_tracks_issued(self, spark, tmp_path_factory):
        """r8 prefetch economics: a min_prob floor suppresses low-
        confidence suggestions (the wasted-read bill at 100 TB), and
        the service logs every block it actually loaded so precision
        (prefetched-and-hit / prefetched) is measurable."""
        from columnar_database_project_spark.ml.lstm import LSTMPrefetcher
        from columnar_database_project_spark.ml.prefetch import (
            Prefetcher,
            PrefetchService,
        )
        from columnar_database_project_spark.ml.scheduler import (
            PrefetchScheduler,
        )
        from columnar_database_project_spark.ml.synthetic import (
            generate_mixed_logs,
        )
        from columnar_database_project_spark.ml.training_set import (
            build_from_sequence,
        )
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )
        from columnar_database_project_spark.storage.access_logger import (
            GlobalHistory,
        )
        from columnar_database_project_spark.storage.block_cache import (
            BlockCache,
        )

        path = str(tmp_path_factory.mktemp("pfloor") / "t")
        pdf = pd.DataFrame({"k": list(range(4000)), "v": [0.5] * 4000})
        MicroBlockWriter(block_rows=250).write(
            spark.createDataFrame(pdf).repartition(1), path
        )
        idx = MicroBlockIndex.build(path, table_id="t")
        n_blocks = idx.num_blocks
        seq = generate_mixed_logs(800, ranges=[(0, n_blocks - 1)], seed=3)
        ts = build_from_sequence(seq)
        model = LSTMPrefetcher(ts.vocab_size, seed=5)
        model.fit(ts.inputs, ts.labels, epochs=4)
        sched = PrefetchScheduler(model, ts.id2idx, ts.idx2id)
        history = GlobalHistory(maxlen=100)
        history.record_many(seq[-40:])

        def cycle(min_prob):
            cache = BlockCache(capacity=8)
            svc = PrefetchService(
                sched, Prefetcher(spark, idx, cache), history, cache,
                interval=3600, k=5, min_prob=min_prob,
            )
            n = svc.run_once()
            out = (n, svc.suppressed, list(svc.issued_log))
            cache.clear()
            return out

        n0, sup0, issued0 = cycle(0.0)
        assert n0 > 0 and sup0 == 0
        assert len(issued0) == n0       # every load is in the log
        # an impossible floor suppresses everything
        n1, sup1, issued1 = cycle(1.1)
        assert n1 == 0 and issued1 == []
        assert sup1 > 0                 # suggestions existed, all dropped
        # a permissive floor behaves like no floor
        n2, _sup2, issued2 = cycle(0.0 + 1e-12)
        assert set(issued2) == set(issued0)


class TestOrcScanBuiltIndex:
    def test_orc_index_prunes_soundly_and_explain_reports(
        self, spark, tmp_path_factory
    ):
        """r8: build_from_scan closes the ORC backend asymmetry — an
        ORC layout gets a real zone-map index (block = file), with the
        same soundness contract as the parquet footer build: NO false
        negatives (every file actually containing a match is a
        candidate), and real pruning on a sorted layout."""
        from columnar_database_project_spark.engine import MicroBlockEngine
        from columnar_database_project_spark.plans.sql_where import parse_where
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )

        path = str(tmp_path_factory.mktemp("orc_idx") / "t")
        pdf = pd.DataFrame(
            {
                "k": list(range(1000)),
                "name": [f"u{i:04d}" for i in range(1000)],
                "price": [float(i) / 7 for i in range(1000)],
            }
        )
        df = spark.createDataFrame(pdf).orderBy("k").coalesce(1)
        MicroBlockWriter(block_rows=125, format="orc").write(df, path)
        idx = MicroBlockIndex.build_from_scan(
            spark, path, table_id="t", format="orc"
        )
        assert idx.num_blocks >= 4
        # selective range on the sort key prunes most blocks...
        pred = parse_where("k BETWEEN 100 AND 140")
        cands = idx.candidate_blocks(pred)
        assert 0 < len(cands) < idx.num_blocks
        # ...with zero false negatives vs per-file ground truth
        import pyarrow.orc as po

        cand_files = {idx.block_file(b) for b in cands}
        for bid in range(idx.num_blocks):
            f = idx.block_file(bid)
            t = po.ORCFile(f).read(columns=["k"]).to_pandas()
            if ((t["k"] >= 100) & (t["k"] <= 140)).any():
                assert f in cand_files, f"false negative on {f}"
        # string + float columns carry stats too
        assert idx.candidate_blocks(parse_where("name = 'u0130'"))
        assert idx.candidate_blocks(parse_where("price < 1.0"))
        # provably-empty predicate → empty candidates (v3 semantics)
        assert idx.candidate_blocks(parse_where("k > 99999")) == []
        # row ranges cover the table contiguously
        lo, hi = idx.block_row_range(0)
        assert lo == 0
        total = sum(
            idx.block_row_range(b)[1] - idx.block_row_range(b)[0] + 1
            for b in range(idx.num_blocks)
        )
        assert total == 1000
        # engine.explain now serves the FULL zone-map report for ORC
        eng = MicroBlockEngine(spark, index=idx)
        eng.register("orc_t2", spark.read.orc(path))
        rep = eng.explain(
            "SELECT count(*) AS c FROM orc_t2 WHERE k BETWEEN 100 AND 140"
        )
        assert rep["zone_map"]["blocks_predicted"] == len(cands)


class TestCrossBackendIndexParity:
    def test_orc_scan_index_agrees_with_parquet_footer_index(
        self, spark, sf_dir, tmp_path_factory
    ):
        """Differential: the SAME rows written to parquet (footer-built
        index) and ORC (scan-built index) with the same block layout
        must produce the SAME candidate sets for every predicate in
        the grammar — the two stats sources are interchangeable."""
        from columnar_database_project_spark.plans.sql_where import parse_where
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )

        li = (
            load_table(spark, sf_dir, "lineitem")
            .select(
                "l_orderkey", "l_quantity", "l_extendedprice",
                "l_shipdate", "l_returnflag",
            )
            .orderBy("l_orderkey", "l_linenumber"
                     if "l_linenumber" in load_table(
                         spark, sf_dir, "lineitem").columns else "l_quantity")
            .coalesce(1)
        )
        base = tmp_path_factory.mktemp("xbackend")
        n = li.count()
        block_rows = max(1, n // 6)
        pq_dir, orc_dir = str(base / "pq"), str(base / "orc")
        MicroBlockWriter(block_rows=block_rows, format="parquet").write(
            li, pq_dir
        )
        MicroBlockWriter(block_rows=block_rows, format="orc").write(
            li, orc_dir
        )
        pq_idx = MicroBlockIndex.build(pq_dir, table_id="li")
        orc_idx = MicroBlockIndex.build_from_scan(
            spark, orc_dir, table_id="li", format="orc",
            columns=["l_orderkey", "l_quantity", "l_extendedprice",
                     "l_shipdate", "l_returnflag"],
        )
        assert pq_idx.num_blocks == orc_idx.num_blocks
        wheres = [
            "l_orderkey BETWEEN 100 AND 300",
            "l_orderkey = 1500",
            "l_orderkey > 999999999",
            "l_quantity < 2.0",
            "l_extendedprice >= 90000.0",
            "l_returnflag = 'R'",
            "l_shipdate < '1993-01-01'",
            "l_shipdate >= '1998-06-01'",
            "l_orderkey < 500 AND l_quantity > 10",
            "l_orderkey < 500 OR l_orderkey > 5000",
            "l_orderkey IN (1, 2, 3)",
        ]
        for w in wheres:
            p = parse_where(w)
            got_pq = pq_idx.candidate_blocks(p)
            got_orc = orc_idx.candidate_blocks(p)
            assert got_pq == got_orc, (w, got_pq, got_orc)


class TestOrcPrefetch:
    def test_prefetch_block_reads_orc_layouts(self, spark, tmp_path_factory):
        """Prefetcher hardcoded parquet reads; an ORC-indexed table's
        blocks must prefetch into the cache too (block = file in both
        backends)."""
        from columnar_database_project_spark.ml.prefetch import Prefetcher
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )
        from columnar_database_project_spark.storage.block_cache import (
            BlockCache,
        )

        path = str(tmp_path_factory.mktemp("orc_pf") / "t")
        pdf = pd.DataFrame({"k": list(range(300)), "v": [1.0] * 300})
        MicroBlockWriter(block_rows=100, format="orc").write(
            spark.createDataFrame(pdf).orderBy("k").coalesce(1), path
        )
        idx = MicroBlockIndex.build_from_scan(
            spark, path, table_id="t", format="orc"
        )
        cache = BlockCache(capacity=4)
        pf = Prefetcher(spark, idx, cache)
        assert pf.prefetch_block(0) is True
        assert cache.contains(0)
        assert cache.get(0).count() == 100
        assert pf.prefetch_block(0) is False  # already cached
        cache.clear()
        # read_block reads ORC block files as ORC: every block matches
        # its file, and the blocks together are the source
        import pyarrow.orc as po

        from columnar_database_project_spark.sources.microblock import (
            read_block,
        )

        parts = []
        for b in range(idx.num_blocks):
            got = read_block(spark, idx, b).toPandas()
            want = po.ORCFile(idx.block_file(b)).read().to_pandas()
            assert got.sort_values("k").values.tolist() == (
                want.sort_values("k").values.tolist()
            )
            parts.append(got)
        assert sorted(pd.concat(parts)["k"]) == list(range(300))
