"""Round-5 gate tests.

Covers the r4 verdict items: the IVF sample driver-memory bound, the
approx_distinct HLL tolerance, the three 100 TB cap guards
(LSH_MAX_BUCKET / RERANK_MAX_BUCKET / max_doc_freq) exercised on
degenerate hot buckets, the prefetch hit-rate end-to-end threshold,
and the r4 advice items (cache freshness, replica decorrelation).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _write_embeddings(path: str, n: int, dim: int = 16, seed: int = 7) -> None:
    rng = np.random.RandomState(seed)
    emb = rng.randn(n, dim).astype(np.float32)
    t = pa.table(
        {
            "vec_id": pa.array(np.arange(n)),
            "embedding": pa.array(emb.tolist(), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(t, path, row_group_size=5000)


class TestIvfSampleDriverBound:
    """VERDICT r4 #2: the centroid-training sample must never
    materialize O(n_table) rows on the driver."""

    def test_large_table_materializes_sample_only(self, tmp_path):
        from columnar_database_project_spark.operators import similarity as S

        d = str(tmp_path)
        _write_embeddings(os.path.join(d, "embeddings.parquet"), 30_000)
        s1 = S._ivf_sample(d)
        stats = dict(S._LAST_SAMPLE_STATS)
        assert stats["n_table"] == 30_000
        assert stats["rows_materialized"] <= 2 * S.IVF_SAMPLE_TARGET
        assert len(s1) >= S.IVF_SAMPLE_TARGET  # still a real sample
        # deterministic: same file → bit-identical sample and centroids
        s2 = S._ivf_sample(d)
        assert np.array_equal(s1, s2)
        c1 = S.ivf_centroids(d)
        assert np.array_equal(c1, S.ivf_centroids(d))

    def test_small_table_reads_all_sorted(self, tmp_path):
        from columnar_database_project_spark.operators import similarity as S

        d = str(tmp_path)
        _write_embeddings(os.path.join(d, "embeddings.parquet"), 300)
        s = S._ivf_sample(d)
        assert len(s) == 300  # full read below the sample target
        assert S._LAST_SAMPLE_STATS["rows_materialized"] == 300

    def test_centroid_cache_invalidated_on_rewrite(self, tmp_path):
        from columnar_database_project_spark.operators import similarity as S

        d = str(tmp_path)
        p = os.path.join(d, "embeddings.parquet")
        _write_embeddings(p, 300, seed=1)
        c1 = S.ivf_centroids(d)
        _write_embeddings(p, 300, seed=2)  # regenerated at the same path
        c2 = S.ivf_centroids(d)
        assert not np.array_equal(c1, c2), "stale centroids served"


class TestApproxDistinctTolerance:
    """VERDICT r4 #4: the HLL estimate has no SQL oracle (rows-only by
    design) — this tolerance check is its only correctness signal."""

    def test_within_5pct_of_exact(self, spark):
        from columnar_database_project_spark.operators.relational import (
            q_approx_distinct,
        )
        from columnar_database_project_spark.catalog import load_table

        sf = "/root/testdata/sf0.01"
        row = q_approx_distinct(spark, sf).collect()[0]
        li = load_table(spark, sf, "lineitem")
        exact = li.agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_orderkey").alias("orders"),
        ).collect()[0]
        # r8 driver-checkable form: exact counts + 5%-band of the HLL
        assert row["exact_parts"] == exact["parts"]
        assert row["exact_orders"] == exact["orders"]
        assert row["parts_err_band"] == 0 and row["orders_err_band"] == 0
        # the raw estimate (not in the gate output) stays within 5%
        approx = li.agg(
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("p"),
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("o"),
        ).collect()[0]
        assert abs(approx["p"] - exact["parts"]) <= 0.05 * exact["parts"]
        assert abs(approx["o"] - exact["orders"]) <= 0.05 * exact["orders"]


class TestHotBucketCaps:
    """VERDICT r4 #5: the documented 100 TB guards, exercised on
    synthetic degenerate buckets: the cap bounds emitted work, and the
    uncapped output is a superset of the capped one."""

    def test_lsh_max_bucket(self, spark):
        from columnar_database_project_spark.operators.dedup import (
            lsh_candidate_pairs,
        )

        hot = [(i, 0, "hot") for i in range(40)]  # one degenerate bucket
        cold = [(100, 0, "cold"), (101, 0, "cold")]
        bk = spark.createDataFrame(
            hot + cold, "doc_id long, band int, band_key string"
        )
        uncapped = {
            (r.doc_a, r.doc_b) for r in lsh_candidate_pairs(bk).collect()
        }
        capped = {
            (r.doc_a, r.doc_b)
            for r in lsh_candidate_pairs(bk, max_bucket=10).collect()
        }
        assert len(uncapped) == 40 * 39 // 2 + 1
        # r9 keeper-star semantics: the hot bucket is linearized to
        # (min-id keeper × member) pairs instead of being dropped —
        # same connectivity, O(n) output; the cold bucket is untouched.
        assert capped == {(100, 101)} | {(0, i) for i in range(1, 40)}
        assert capped <= uncapped

    def test_ngram_max_doc_freq(self, spark):
        from columnar_database_project_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        boiler = [(i, "license header") for i in range(20)]
        rare = [(1, "unique phrase one"), (2, "unique phrase one")]
        sh = spark.createDataFrame(boiler + rare, "doc_id long, shingle string")
        uncapped = {
            (r.doc_a, r.doc_b)
            for r in ngram_jaccard_pairs(sh, tau=0.0).collect()
        }
        capped = {
            (r.doc_a, r.doc_b)
            for r in ngram_jaccard_pairs(sh, tau=0.0, max_doc_freq=5).collect()
        }
        assert len(uncapped) == 20 * 19 // 2  # boilerplate join explosion
        assert capped == {(1, 2)}  # stop-shingle cut leaves the rare pair
        assert capped <= uncapped

    def test_rerank_max_bucket(self, spark, tmp_path, monkeypatch):
        from columnar_database_project_spark.operators import similarity as S

        # Degenerate corpus: positive scalings of one base vector share
        # an identical hyperplane sign pattern → one 10-member hot
        # bucket; the negated direction gives a separate 2-member one.
        rng = np.random.RandomState(3)
        base = rng.randn(64)
        rows = [(i, (base * (1.0 + 0.01 * i)).tolist()) for i in range(10)]
        rows += [(100, (-base).tolist()), (101, (-base * 2.0).tolist())]
        d = str(tmp_path)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "embedding": pa.array(
                        [r[1] for r in rows], type=pa.list_(pa.float32())
                    ),
                }
            ),
            os.path.join(d, "embeddings.parquet"),
        )
        uncapped = {
            (r.vec_id_a, r.vec_id_b): r.signature
            for r in S.q_sim_bucket_rerank(spark, d).collect()
        }
        sizes = {
            r.signature: r.n_vectors
            for r in S.q_sim_bucket_sizes(spark, d).collect()
        }
        big = {s for s, n in sizes.items() if n > 2}
        assert len(uncapped) == 10 * 9 // 2 + 1  # hot-bucket explosion
        monkeypatch.setattr(S, "RERANK_MAX_BUCKET", 2)
        capped = {
            (r.vec_id_a, r.vec_id_b): r.signature
            for r in S.q_sim_bucket_rerank(spark, d).collect()
        }
        assert capped == {(100, 101): uncapped[(100, 101)]}
        assert set(capped) <= set(uncapped)
        # every pair lost to the cap came from an over-cap bucket
        assert all(uncapped[p] in big for p in set(uncapped) - set(capped))


class TestPrefetchHitRate:
    """VERDICT r4 #7: the full prefetch loop (query → log → train →
    predict → prefetch → cache-hit) with an asserted hit rate on the
    sequential synthetic workload (reference smoke_test.py:5-68 shape,
    but with a threshold)."""

    def test_hit_rate_end_to_end(self, spark, sf_dir, tmp_path):
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.engine import MicroBlockEngine
        from columnar_database_project_spark.ml.evaluate import evaluate
        from columnar_database_project_spark.ml.lstm import LSTMPrefetcher
        from columnar_database_project_spark.ml.prefetch import (
            Prefetcher,
            PrefetchService,
        )
        from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
        from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
        from columnar_database_project_spark.ml.training_set import (
            build_from_sequence,
        )
        from columnar_database_project_spark.sources.index import MicroBlockIndex
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )
        from columnar_database_project_spark.storage.access_logger import (
            AccessLogger,
            GlobalHistory,
        )
        from columnar_database_project_spark.storage.block_cache import BlockCache

        out = str(tmp_path / "blocks")
        li = load_table(spark, sf_dir, "lineitem").orderBy(
            "l_orderkey", "l_linenumber"
        )
        MicroBlockWriter(block_rows=500).write(li.repartition(1), out)
        idx = MicroBlockIndex.build(out, table_id="lineitem")
        n_blocks = idx.num_blocks

        # 1) real engine queries feed the access log
        logger = AccessLogger(str(tmp_path / "access.jsonl"))
        history = GlobalHistory(maxlen=200)
        eng = MicroBlockEngine(spark, index=idx, logger=logger, history=history)
        eng.register("lineitem", spark.read.parquet(out))
        eng.query("SELECT count(*) AS c FROM lineitem").collect()
        assert logger.block_sequence()  # the observation loop ran

        # 2) sequential synthetic workload over the REAL block-id space
        seq = generate_mixed_logs(
            1500,
            ranges=[(0, n_blocks - 1)],
            noise_prob=0.0,
            jump_prob=0.0,
            seed=11,
        )
        ts = build_from_sequence(seq)
        model = LSTMPrefetcher(ts.vocab_size)
        n_train = int(len(ts.inputs) * 0.8)
        model.fit(ts.inputs[:n_train], ts.labels[:n_train], epochs=8)

        # 3) asserted model quality on the held-out sequential tail
        report = evaluate(model, ts.inputs[n_train:], ts.labels[n_train:])
        assert report["hit@10"] >= 0.5, report

        # 4) schedule + prefetch from live history, then the cache must
        # hit on the workload's actual next block
        sched = PrefetchScheduler(model, ts.id2idx, ts.idx2id)
        cache = BlockCache(capacity=10)
        history.record_many(seq[-40:-1])
        svc = PrefetchService(
            sched,
            Prefetcher(spark, idx, cache),
            history,
            cache,
            interval=3600,
            k=10,
        )
        assert svc.run_once() > 0
        true_next = seq[-1]
        assert cache.contains(true_next), (
            f"prefetch missed the sequential successor {true_next}; "
            f"cached={sorted(cache.cached_ids())}"
        )
        cache.clear()


class TestRelationCacheFreshness:
    def test_rewritten_table_not_served_stale(self, spark, tmp_path):
        from columnar_database_project_spark.catalog import load_table

        d = str(tmp_path)
        p = os.path.join(d, "documents.parquet")
        pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a", "b"]}), p)
        assert load_table(spark, d, "documents").count() == 2
        os.remove(p)
        pq.write_table(
            pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]}), p
        )
        assert load_table(spark, d, "documents").count() == 3


class TestReplicaDecorrelation:
    """ADVICE r4: k-fold replicas must not be exact clones, or the
    sf0.5 scaling point measures a duplicate-pathology workload."""

    @pytest.fixture(scope="class")
    def replica(self, tmp_path_factory):
        from tools.make_scale_replica import replicate

        dst = str(tmp_path_factory.mktemp("rep") / "sf2x")
        replicate("/root/testdata/sf0.001", dst, 2)
        return dst

    def test_manifest_roundtrip(self, replica):
        from tools.make_scale_replica import manifest_matches

        assert manifest_matches("/root/testdata/sf0.001", replica, 2)
        assert not manifest_matches("/root/testdata/sf0.001", replica, 3)
        assert not manifest_matches("/root/testdata/sf0.01", replica, 2)

    def test_text_shingles_disjoint_across_copies(self, replica):
        from columnar_database_project_spark.functions.hashing import shingles

        src = pq.read_table(
            "/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text"]
        )
        rep = pq.read_table(
            os.path.join(replica, "documents.parquet"), columns=["doc_id", "text"]
        )
        n = src.num_rows
        assert rep.num_rows == 2 * n
        src_text = src["text"].to_pylist()
        rep_text = rep["text"].to_pylist()
        # copy 0 is byte-identical; copy 1 shares NO word-5-gram shingle
        assert rep_text[:n] == src_text
        for i in (0, n // 2, n - 1):
            orig, pert = shingles(src_text[i]), shingles(rep_text[n + i])
            if orig:
                assert not (orig & pert)
                assert "cp1x" in rep_text[n + i]

    def test_embeddings_rolled_not_cloned(self, replica):
        src = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
        rep = pq.read_table(os.path.join(replica, "embeddings.parquet"))
        n = src.num_rows
        v0 = np.array(src["embedding"].to_pylist()[0], dtype=np.float32)
        v1 = np.array(rep["embedding"].to_pylist()[n], dtype=np.float32)
        assert np.allclose(np.roll(v0, 1), v1)
        assert not np.allclose(v0, v1)  # not an exact clone


class TestPipelineSplitPackFunnel:
    """Invariants for the train-split / funnel / packing operators —
    the oracle rows check value parity; these check the semantics the
    parity can't see (shares, monotonicity, conservation)."""

    def test_split_is_deterministic_and_roughly_90_5_5(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_split_assign,
        )

        a = {r["split"]: r["n_docs"] for r in q_text_split_assign(spark, sf_dir).collect()}
        b = {r["split"]: r["n_docs"] for r in q_text_split_assign(spark, sf_dir).collect()}
        assert a == b  # pure function of doc_id, no randomness
        total = sum(a.values())
        assert a["train"] / total > 0.8
        assert 0 < a.get("val", 0) / total < 0.15
        assert 0 < a.get("test", 0) / total < 0.15

    def test_funnel_is_monotone_decreasing(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_filter_funnel,
        )

        rows = {r["stage"]: r["n_docs"] for r in q_text_filter_funnel(spark, sf_dir).collect()}
        assert rows["1_total"] >= rows["2_len_ok"] >= rows["3_rep_ok"] >= rows["4_keep"]
        assert rows["4_keep"] > 0  # thresholds are non-degenerate on testdata

    def test_packing_conserves_docs_and_bounds_sequences(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            SEQ_LEN,
            q_text_pack_sequences,
        )
        from columnar_database_project_spark.catalog import load_table

        packed = q_text_pack_sequences(spark, sf_dir).collect()
        n_docs = load_table(spark, sf_dir, "documents").count()
        assert sum(r["n_docs"] for r in packed) == n_docs  # every doc lands once
        # greedy prefix chunking: a sequence holds at least one doc and
        # overshoots the budget by at most one document's tokens
        max_doc_tokens = max(r["n_tokens"] for r in packed)  # loose upper bound
        for r in packed:
            assert r["n_docs"] >= 1
            assert r["n_tokens"] <= SEQ_LEN + max_doc_tokens


class TestBoilerplateVocabCentroids:
    """Invariants for the boilerplate detector, vocab-coverage table,
    and label centroids beyond what the oracle parity checks."""

    def test_boilerplate_counts_distinct_docs_not_occurrences(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            BOILERPLATE_MIN_DOCS,
            BOILERPLATE_TOP_N,
            q_text_boilerplate_shingles,
        )
        from columnar_database_project_spark.catalog import load_table

        rows = q_text_boilerplate_shingles(spark, sf_dir).collect()
        assert 0 < len(rows) <= BOILERPLATE_TOP_N
        n_docs_total = load_table(spark, sf_dir, "documents").count()
        for r in rows:
            # per-document distinctness: a shingle can never be counted
            # in more documents than exist
            assert BOILERPLATE_MIN_DOCS <= r["n_docs"] <= n_docs_total

    def test_vocab_coverage_is_monotone_and_bounded(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            VOCAB_TOP_N,
            q_text_vocab_coverage,
        )

        rows = sorted(
            q_text_vocab_coverage(spark, sf_dir).collect(), key=lambda r: r["rnk"]
        )
        assert 0 < len(rows) <= VOCAB_TOP_N
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        prev = 0.0
        for r in rows:
            assert r["cum_share"] >= prev  # running share never decreases
            prev = r["cum_share"]
        assert rows[-1]["cum_share"] <= 1.0 + 1e-9
        # counts are sorted descending along the rank order
        cnts = [r["cnt"] for r in rows]
        assert cnts == sorted(cnts, reverse=True)

    def test_label_centroids_match_numpy_mean(self, spark, sf_dir):
        import numpy as np
        import pyarrow.parquet as pq
        import os

        from columnar_database_project_spark.operators.similarity import (
            q_emb_label_centroids,
        )

        got = {
            (r["label"], r["dim"]): r["centroid"]
            for r in q_emb_label_centroids(spark, sf_dir).collect()
        }
        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
        by_label: dict[int, list] = {}
        for lab, emb in zip(t["label"], t["embedding"]):
            by_label.setdefault(lab, []).append(emb)
        for lab, vecs in by_label.items():
            mean = np.asarray(vecs, dtype=np.float64).mean(axis=0)
            for dim in (0, len(mean) // 2, len(mean) - 1):
                assert abs(got[(lab, dim)] - mean[dim]) < 1e-5


class TestIncrementalDedup:
    """Semantics the oracle parity can't see: batch boundary, exact ⇒
    near consistency, and coverage of the whole new batch."""

    def test_covers_new_batch_and_exact_implies_band_hit(self, spark, sf_dir):
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.operators.dedup import (
            INCR_SPLIT_FRAC,
            q_dedup_incremental,
        )

        rows = q_dedup_incremental(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        max_id = docs.agg({"doc_id": "max"}).collect()[0][0]
        t = int((max_id + 1) * INCR_SPLIT_FRAC)
        n_new = docs.filter(f"doc_id >= {t}").count()
        assert len(rows) == n_new  # every new doc gets a verdict
        for r in rows:
            assert r["doc_id"] >= t  # only new docs are screened
            if r["exact_dup"]:
                # identical text ⇒ identical minhash signature ⇒ the
                # old copy shares every band key
                assert r["dup_of"] is not None and r["dup_of"] < t
                assert r["n_band_hits"] >= 1
            else:
                assert r["dup_of"] is None


class TestCorpusBuild:
    """The composed pipeline must agree with its standalone stages."""

    def test_totals_tie_to_funnel_and_dedup(self, spark, sf_dir):
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.operators.text import (
            SEQ_LEN,
            funnel_flag_cols,
            q_text_corpus_build,
        )
        from pyspark.sql import functions as F

        rows = q_text_corpus_build(spark, sf_dir).collect()
        docs = load_table(spark, sf_dir, "documents")
        _l, _r, keep = funnel_flag_cols()
        n_survivors = (
            docs.filter(keep).select(F.md5("text").alias("fp")).distinct().count()
        )
        # every kept-and-deduped doc lands in exactly one (split, source)
        assert sum(r["n_docs"] for r in rows) == n_survivors
        for r in rows:
            assert r["split"] in ("train", "val", "test")
            # packing bound: enough sequences for the tokens, no more
            # than one per doc
            assert r["n_seqs"] * SEQ_LEN >= r["n_tokens"]
            assert r["n_seqs"] <= max(r["n_docs"], r["n_tokens"] // SEQ_LEN + 1)


class TestMisraGries:
    """The MG guarantee on data the oracle can't stress: vocab much
    larger than capacity K, skewed frequencies."""

    def test_reduce_keeps_heavy_items_and_capacity(self):
        from columnar_database_project_spark.operators.sketch import mg_reduce

        # 3 heavy items among 100 light ones, k = 10
        counters = {f"light{i}": 2 for i in range(100)}
        counters.update({"h1": 500, "h2": 400, "h3": 300})
        red = mg_reduce(dict(counters), 10)
        assert len(red) <= 103  # reduce only shrinks
        assert {"h1", "h2", "h3"} <= set(red)
        # repeated reduction converges under capacity without losing
        # the heavy items (stream-of-batches behavior)
        while len(red) > 10:
            before = len(red)
            red = mg_reduce(red, 10)
            assert len(red) < before
        assert {"h1", "h2", "h3"} <= set(red)

    def test_two_phase_equals_exact_on_skewed_stream(self, spark):
        import pandas as pd

        from columnar_database_project_spark.operators.sketch import (
            MG_CAPACITY,
            _mg_candidates,
        )

        # skewed synthetic stream: vocab 500 >> K, zipf-ish
        rows = []
        for i in range(500):
            rows.extend([f"t{i}"] * (1000 // (i + 1) + 1))
        pdf = pd.DataFrame({"term": rows})
        n = len(pdf)
        exact = pdf["term"].value_counts()
        truth = set(exact[exact * (MG_CAPACITY + 1) > n].index)
        # run the partition kernel over 7 arbitrary batch splits
        batches = [pdf.iloc[i::7] for i in range(7)]
        out = list(_mg_candidates(iter(batches)))[0]
        cands = set(out["term"])
        assert truth <= cands  # guarantee: no heavy hitter is lost


class TestPayloadChunks:
    def test_chunks_reassemble_to_original_payload(self, spark, sf_dir):
        import hashlib

        from pyspark.sql import functions as F

        from columnar_database_project_spark.operators.multimodal import (
            CHUNK_BYTES,
            binary_table,
        )

        bt = binary_table(spark, sf_dir).limit(30)
        n_chunks = F.ceil(F.col("n_bytes") / F.lit(CHUNK_BYTES)).cast("int")
        rows = (
            bt.select(
                "doc_id",
                "payload",
                F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
            )
            .select(
                "doc_id",
                "chunk_id",
                F.expr(
                    f"substring(payload, chunk_id * {CHUNK_BYTES} + 1,"
                    f" {CHUNK_BYTES})"
                ).alias("chunk"),
            )
            .collect()
        )
        whole = {r["doc_id"]: bytes(r["payload"]) for r in bt.collect()}
        by_doc: dict = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], bytes(r["chunk"])))
        assert set(by_doc) == set(whole)
        for doc_id, chunks in by_doc.items():
            joined = b"".join(c for _i, c in sorted(chunks))
            assert joined == whole[doc_id]
            assert (
                hashlib.md5(joined).hexdigest()
                == hashlib.md5(whole[doc_id]).hexdigest()
            )
            # every chunk but the last is exactly CHUNK_BYTES
            for i, (_cid, c) in enumerate(sorted(chunks)[:-1]):
                assert len(c) == CHUNK_BYTES


class TestQuantization:
    def test_int8_quantized_cosine_preserves_topk_recall(self, sf_dir):
        """The point of int8 quantization: 4x memory cut with near-no
        ANN quality loss. Driver-side numpy proof on the real table."""
        import numpy as np
        import pyarrow.parquet as pq
        import os

        t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        v = np.array([np.asarray(e, dtype=np.float64) for e in t["embedding"].to_pylist()])
        lo, hi = v.min(axis=0), v.max(axis=0)
        span = np.where(hi > lo, hi - lo, 1.0)
        q = np.round((v - lo) / span * 255)
        deq = lo + q * span / 255
        vn = v / np.linalg.norm(v, axis=1, keepdims=True)
        dn = deq / np.linalg.norm(deq, axis=1, keepdims=True)
        k = 10
        recalls = []
        for qi in range(5):
            exact = np.argsort(-(vn @ vn[qi]))[1 : k + 1]
            quant = np.argsort(-(dn @ dn[qi]))[1 : k + 1]
            recalls.append(len(set(exact) & set(quant)) / k)
        assert sum(recalls) / len(recalls) >= 0.8

    def test_quantize_stats_error_bound(self, spark, sf_dir):
        """Round-trip error must respect the quantization step bound:
        mean |err| <= (hi - lo) / 255 / 2 per dimension."""
        from columnar_database_project_spark.operators.similarity import (
            q_emb_quantize_stats,
        )

        for r in q_emb_quantize_stats(spark, sf_dir).collect():
            step = (r["hi"] - r["lo"]) / 255
            assert 0.0 <= r["mean_abs_err"] <= step / 2 + 1e-9


class TestApproxPercentileTolerance:
    """Rows-only sketch (GK summary, no cross-engine oracle) — the
    tolerance check against exact percentiles is its correctness
    signal, mirroring TestApproxDistinctTolerance."""

    def test_within_1pct_of_exact(self, spark):
        from pyspark.sql import functions as F

        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.operators.relational import (
            q_approx_percentile,
        )

        sf = "/root/testdata/sf0.01"
        row = q_approx_percentile(spark, sf).collect()[0]
        li = load_table(spark, sf, "lineitem")
        exact = li.agg(
            F.expr(
                "percentile(l_extendedprice, array(0.5, 0.95, 0.99))"
            ).alias("p"),
            F.expr("percentile(l_quantity, 0.5)").alias("qm"),
        ).collect()[0]
        # r8 driver-checkable form: exact percentiles + 5%-band of GK
        for got, want in zip(
            (row["price_p50"], row["price_p95"], row["price_p99"]), exact["p"]
        ):
            assert abs(got - want) <= 1e-4, (got, want)
        assert abs(row["qty_median"] - exact["qm"]) <= 1e-4
        for b in ("band_p50", "band_p95", "band_p99", "band_qty"):
            assert row[b] == 0, (b, row[b])
        # the raw GK estimate (not in the gate output) stays within 1%
        approx = li.agg(
            F.percentile_approx(
                "l_extendedprice", [0.5, 0.95, 0.99], 10000
            ).alias("p"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("qm"),
        ).collect()[0]
        for got, want in zip(approx["p"], exact["p"]):
            assert abs(got - want) <= 0.01 * want, (got, want)
        assert abs(approx["qm"] - exact["qm"]) <= 0.01 * exact["qm"] + 1.0


class TestPartitionInvariance:
    """Operators whose intermediate state depends on partitioning (MG
    candidate sets, per-partition top-k) must still produce identical
    FINAL results under any partition layout — the property that makes
    them safe on a cluster whose split count nobody controls."""

    def test_heavy_hitters_invariant_to_partition_count(self, spark, sf_dir):
        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.operators.sketch import (
            MG_CAPACITY,
        )
        from columnar_database_project_spark.operators.sketch import (
            _mg_candidates,
        )
        from pyspark.sql import functions as F

        from columnar_database_project_spark.operators.text import tokens_col

        docs = load_table(spark, sf_dir, "documents")
        results = []
        for n_parts in (1, 7):
            terms = (
                docs.repartition(n_parts)
                .select(F.explode(tokens_col()).alias("term"))
            )
            cands = terms.mapInPandas(
                _mg_candidates, schema="term string"
            ).distinct()
            total = terms.agg(F.count(F.lit(1)).alias("n"))
            out = (
                terms.join(F.broadcast(cands), "term")
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .crossJoin(F.broadcast(total))
                .filter(F.col("cnt") * (MG_CAPACITY + 1) > F.col("n"))
                .select("term", "cnt")
            )
            results.append(sorted(map(tuple, out.collect())))
        assert results[0] == results[1]

    def test_sim_topk_invariant_to_partition_count(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            q_sim_topk_bruteforce,
        )

        base = sorted(map(tuple, q_sim_topk_bruteforce(spark, sf_dir).collect()))
        old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
        try:
            # force many tiny scan splits → different kernel batching
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
            alt = sorted(map(tuple, q_sim_topk_bruteforce(spark, sf_dir).collect()))
        finally:
            if old is not None:
                spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        assert base == alt


class TestBigramLM:
    def test_lm_scores_are_valid_logprobs(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.operators.text import (
            q_text_lm_doc_score,
            tokens_col,
        )

        rows = {r["doc_id"]: r for r in q_text_lm_doc_score(spark, sf_dir).collect()}
        docs = load_table(spark, sf_dir, "documents")
        n_toks = {
            r["doc_id"]: r["n"]
            for r in docs.select("doc_id", F.size(tokens_col()).alias("n")).collect()
        }
        for doc_id, r in rows.items():
            assert r["mean_logprob"] <= 0.0  # smoothed probs are < 1
            assert r["n_bigrams"] == n_toks[doc_id] - 1

    def test_condprob_rows_are_proper_probabilities(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            COND_TOP_N,
            q_text_bigram_condprob,
        )

        rows = q_text_bigram_condprob(spark, sf_dir).collect()
        assert 0 < len(rows) <= COND_TOP_N
        prev = 1.0
        for r in rows:
            assert 0.0 < r["p_smoothed"] <= prev  # sorted desc, in (0,1]
            prev = r["p_smoothed"]
