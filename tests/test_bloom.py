"""Bloom-filter sidecar (sources/bloom.py): hashing determinism and
soundness, distributed build, zone-map composition, persistence, and
the e2e point-lookup pruning the sidecar exists for."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from columnar_database_project_spark.plans.predicate import And, Cmp, InList, Or
from columnar_database_project_spark.sources.bloom import (
    BlockBloomIndex,
    _canon,
    _params,
    _set_bits,
    _test_bits,
    bloom_may_match,
    build_bloom_index,
)
from columnar_database_project_spark.sources.index import MicroBlockIndex
from columnar_database_project_spark.sources.microblock import (
    MicroBlockWriter,
    read_block,
)


# ------------------------------------------------------------- unit layer
class TestCanon:
    def test_coercible_forms_unify(self):
        """SQL equality coerces across types; the bloom must never
        false-negative a match any engine's coercion could make."""
        # numeric: int == float == numeric string
        assert _canon(5) == _canon(5.0) == _canon("5")
        assert _canon(np.int64(5)) == _canon(5)
        assert _canon(np.float64(5.0)) == _canon(5)
        assert _canon(5.5) == _canon("5.5")
        assert _canon(5.5) != _canon(5)
        # temporal: stored datetime == the WHERE clause's string literal
        import datetime as dt

        assert _canon(dt.datetime(1998, 3, 31)) == _canon("1998-03-31")
        assert _canon(dt.date(1998, 3, 31)) == _canon(
            "1998-03-31 00:00:00"
        )

    def test_non_coercible_strings_stay_tagged(self):
        assert _canon("abc") != _canon(5)
        assert _canon(1) != _canon(True)
        assert _canon("") is not None

    def test_null_only_is_unencodable(self):
        # None (SQL NULL) is the ONLY value _canon refuses: `= NULL`
        # matches no row, so "provably absent" is sound for it alone.
        assert _canon(None) is None
        # Float NaN encodes (Spark SQL: NaN = NaN is TRUE — pruning a
        # NaN lookup as "absent" would be a false negative)...
        assert _canon(float("nan")) == b"f:nan"
        # ...and the literal STRING 'nan' must NOT ride the float
        # coercion into None: it is an ordinary, storable string.
        assert _canon("nan") == b"s:nan"
        assert _canon("NaN") == b"s:NaN"
        assert _canon("nan") != _canon(float("nan"))


class TestBitmapRoundtrip:
    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.integers(min_value=-(2**62), max_value=2**62),
                st.text(max_size=40),
            ),
            min_size=1,
            max_size=200,
        )
    )
    def test_no_false_negatives(self, values):
        m, k = _params(max(len(values), 1), 0.01)
        bm = np.zeros(m // 8, dtype=np.uint8)
        _set_bits(bm, m, k, values)
        for v in values:
            assert _test_bits(bm, m, k, _canon(v))

    def test_fpr_within_budget(self):
        n = 16_384
        m, k = _params(n, 0.01)
        bm = np.zeros(m // 8, dtype=np.uint8)
        rng = np.random.default_rng(7)
        present = rng.choice(10**9, size=n, replace=False)
        _set_bits(bm, m, k, present.tolist())
        absent = present + 10**9  # disjoint by construction
        fp = sum(
            _test_bits(bm, m, k, _canon(int(v))) for v in absent[:4000]
        )
        # 1% target; allow 3x for sampling noise
        assert fp / 4000 < 0.03


# -------------------------------------------------------- distributed build
@pytest.fixture(scope="module")
def bloom_table(spark, sf_dir, tmp_path_factory):
    """documents hash-distributed on doc_id — the zone-map-blind
    layout — in 16 small blocks, with blooms on doc_id and lang."""
    from columnar_database_project_spark.catalog import load_table

    path = str(tmp_path_factory.mktemp("bloomtab") / "docs")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    n = docs.count()
    MicroBlockWriter(block_rows=max(64, n // 16)).write(
        docs.repartition(16, "doc_id"), path
    )
    blooms = build_bloom_index(spark, path, ["doc_id", "lang"])
    idx = MicroBlockIndex.build(path, table_id="documents")
    # a MID-domain key: every hash-distributed block's [min, max]
    # straddles it, so zone maps alone cannot prune — the case the
    # bloom exists for (an edge-of-domain key like the global min is
    # range-prunable and would understate the zone-map blindness)
    probe_id = int(docs.approxQuantile("doc_id", [0.5], 0.0)[0])
    if docs.filter(f"doc_id = {probe_id}").count() != 1:
        probe_id = int(
            docs.filter(f"doc_id >= {probe_id}").agg({"doc_id": "min"}).first()[0]
        )
    return path, idx, blooms, n, probe_id


class TestBuild:
    def test_one_bitmap_per_block_file_per_column(self, bloom_table):
        path, idx, blooms, _n, _pid = bloom_table
        files = {os.path.basename(idx.block_file(b)) for b in idx.by_block}
        assert {f for f, _c in blooms.bitmaps} == files
        assert {c for _f, c in blooms.bitmaps} == {"doc_id", "lang"}

    def test_every_stored_key_is_maybe_present(self, spark, bloom_table):
        """Zero false negatives against the actual data: every doc_id
        is 'maybe' in the block file that holds it."""
        path, idx, blooms, _n, _pid = bloom_table
        for bid in sorted(idx.by_block)[:4]:
            pdf = read_block(spark, idx, bid).select("doc_id").toPandas()
            f = idx.block_file(bid)
            assert all(
                blooms.might_contain(f, "doc_id", int(d))
                for d in pdf["doc_id"]
            )

    def test_point_lookup_prunes_most_blocks(self, spark, bloom_table):
        path, idx, blooms, n, probe_id = bloom_table
        probe = Cmp("=", "doc_id", probe_id)
        zone_only = idx.candidate_blocks(probe)
        # mid-domain key: zone maps leave most blocks as candidates
        assert len(zone_only) >= idx.num_blocks // 2
        idx.attach_blooms(blooms)
        try:
            refined = idx.candidate_blocks(probe)
            # 16 blocks, 1% FPR → overwhelmingly 1 hit; allow an fp
            assert 1 <= len(refined) <= 3
            assert len(refined) < len(zone_only)
            # soundness: the surviving candidates contain the row
            found = sum(
                read_block(spark, idx, b)
                .filter(f"doc_id = {probe_id}")
                .count()
                for b in refined
            )
            assert found == 1
        finally:
            idx.attach_blooms(None)

    def test_absent_key_prunes_everything_or_fp(self, bloom_table):
        path, idx, blooms, n, probe_id = bloom_table
        idx.attach_blooms(blooms)
        try:
            refined = idx.candidate_blocks(Cmp("=", "doc_id", 10**12))
            assert len(refined) <= 1  # provably-empty (v3 semantics) ± one fp
        finally:
            idx.attach_blooms(None)


# ----------------------------------------------------------- pred algebra
class TestPredicateComposition:
    def test_and_narrows_or_widens(self, bloom_table):
        path, idx, blooms, _n, _pid = bloom_table
        f = idx.block_file(sorted(idx.by_block)[0])
        hit = Cmp("=", "doc_id", 1)
        # find a doc_id the first block provably lacks
        miss_val = next(
            v
            for v in range(10**12, 10**12 + 50)
            if not blooms.might_contain(f, "doc_id", v)
        )
        miss = Cmp("=", "doc_id", miss_val)
        assert bloom_may_match(Or(hit, miss), blooms, f) == bloom_may_match(
            hit, blooms, f
        )
        assert bloom_may_match(And(hit, miss), blooms, f) is False
        assert bloom_may_match(
            InList("doc_id", (miss_val, miss_val + 1000)), blooms, f
        ) in (False, True)  # decidable either way, never raises

    def test_uncovered_column_and_ranges_stay_maybe(self, bloom_table):
        path, idx, blooms, _n, _pid = bloom_table
        f = idx.block_file(sorted(idx.by_block)[0])
        assert bloom_may_match(Cmp("=", "text", "zzz"), blooms, f) is True
        assert bloom_may_match(Cmp(">", "doc_id", 10**12), blooms, f) is True

    def test_null_equality_is_provably_empty(self, bloom_table):
        path, idx, blooms, _n, _pid = bloom_table
        f = idx.block_file(sorted(idx.by_block)[0])
        assert bloom_may_match(Cmp("=", "doc_id", None), blooms, f) is False


# ------------------------------------------------------------ persistence
class TestSidecar:
    def test_save_load_roundtrip_and_spark_invisibility(
        self, spark, bloom_table
    ):
        path, idx, blooms, n, probe_id = bloom_table
        before = spark.read.parquet(path).count()
        blooms.save(path)
        loaded = BlockBloomIndex.load(path)
        assert (loaded.m, loaded.k, loaded.columns) == (
            blooms.m,
            blooms.k,
            blooms.columns,
        )
        f = idx.block_file(sorted(idx.by_block)[0])
        assert loaded.might_contain(f, "doc_id", 1) == blooms.might_contain(
            f, "doc_id", 1
        )
        # the sidecar is invisible to Spark's listing AND to the
        # footer-index builder
        assert spark.read.parquet(path).count() == before
        assert MicroBlockIndex.build(path).num_blocks == idx.num_blocks


# ------------------------------------------------------------ engine e2e
class TestEngineExplain:
    def test_explain_reports_bloom_breakdown(self, spark, bloom_table):
        from columnar_database_project_spark.engine import MicroBlockEngine

        path, idx, blooms, _n, _pid = bloom_table
        idx.attach_blooms(blooms)
        try:
            eng = MicroBlockEngine(spark, index=idx)
            eng.register("bloom_docs", spark.read.parquet(path))
            rep = eng.explain(
                f"SELECT count(*) FROM bloom_docs WHERE doc_id = {_pid}"
            )
            z = rep["zone_map"]
            assert z["blocks_predicted_zone_only"] >= z["blocks_total"] // 2
            assert z["blocks_predicted"] <= 3
        finally:
            idx.attach_blooms(None)


class TestTemporalColumnBloom:
    def test_timestamp_column_lookup_not_falsely_pruned(
        self, spark, sf_dir, tmp_path_factory
    ):
        """A bloom on a TIMESTAMP column must answer MAYBE for the
        string literal the WHERE grammar carries — the coercion case
        that would otherwise false-prune every temporal point lookup."""
        from columnar_database_project_spark.catalog import load_table

        path = str(tmp_path_factory.mktemp("bloomts") / "li")
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_shipdate"
        )
        MicroBlockWriter(block_rows=512).write(
            li.repartition(8, "l_orderkey"), path
        )
        blooms = build_bloom_index(spark, path, ["l_shipdate"])
        idx = MicroBlockIndex.build(path)
        idx.attach_blooms(blooms)
        try:
            # every distinct stored timestamp, probed AS A STRING (the
            # literal form): the true block must always stay a candidate
            some = [
                str(r["l_shipdate"])
                for r in li.select("l_shipdate").distinct().limit(20).collect()
            ]
            full = spark.read.parquet(path)
            for lit in some:
                cands = idx.candidate_blocks(Cmp("=", "l_shipdate", lit))
                want = full.filter(
                    F.col("l_shipdate") == lit
                ).count()
                got = sum(
                    read_block(spark, idx, b)
                    .filter(F.col("l_shipdate") == lit)
                    .count()
                    for b in cands
                )
                assert got == want, f"false prune for literal {lit!r}"
        finally:
            idx.attach_blooms(None)


class TestSidecarAfterCowCommit:
    def test_uncovered_new_files_answer_maybe(
        self, spark, sf_dir, tmp_path_factory
    ):
        """The sidecar across DML: a CoW delete writes new files the
        sidecar doesn't cover, and for those the bloom answers MAYBE
        (sound, unselective), so the live probe key is still found
        end-to-end through the unrefreshed sidecar."""
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.storage.cow import (
            delete_where_cow,
            init_manifest_table,
        )
        from columnar_database_project_spark.storage.manifests import (
            ManifestStore,
        )

        store = ManifestStore(str(tmp_path_factory.mktemp("bloomext")))
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        n = docs.count()
        init_manifest_table(
            spark, store, docs.repartition(8, "doc_id"),
            block_rows=max(64, n // 8),
        )
        data_dir = os.path.dirname(store.files_for()[0])
        blooms = build_bloom_index(spark, data_dir, ["doc_id"])
        probe = int(docs.approxQuantile("doc_id", [0.5], 0.0)[0])

        before = set(store.files_for())
        delete_where_cow(
            spark, store, f"doc_id = {probe + 1}", blooms=blooms,
            block_rows=max(64, n // 8),
        )
        new_files = [f for f in store.files_for() if f not in before]
        assert new_files  # the delete rewrote something
        # uncovered new files: bloom answers MAYBE (sound, unselective)
        assert all(
            blooms.might_contain(f, "doc_id", 10**15) for f in new_files
        )
        # and the live probe key is still findable end-to-end
        idx = MicroBlockIndex.build_from_files(store.files_for())
        idx.attach_blooms(blooms)
        cands = idx.candidate_blocks(Cmp("=", "doc_id", probe))
        assert cands
        found = sum(
            read_block(spark, idx, b).filter(f"doc_id = {probe}").count()
            for b in cands
        )
        assert found == 1
