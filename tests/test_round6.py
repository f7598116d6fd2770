"""Round-6 invariants.

1. Broadcast-hint policy (DEPLOY.md): corpus-proportional frames carry
   NO forced broadcast hint — AQE size-gates those joins — while
   bounded-by-construction frames (1-row aggregates, top-M LM tables)
   may keep theirs. Asserted on the analyzed logical plan via
   ``plan_checks.forced_broadcast_hints`` for each of the four sites
   the round-5 review flagged.
2. Bounded top-M bigram LM: equals the unbounded LM when M covers
   every distinct bigram; at finite M the per-doc score delta obeys
   the provable bound miss_frac * ln(c1_max + V) (every smoothed
   probability, bounded or not, lives in [1/(c1_max+V), 1]).
3. Edge-case guards from the round-5 advice: empty payloads emit zero
   chunk rows; a constant embedding dimension quantizes with error 0,
   not NaN.
"""

from __future__ import annotations

import math
import os

import pytest

from plan_checks import forced_broadcast_hints


# ---------------------------------------------------------------- hints


def test_tfidf_has_no_forced_broadcast(spark, sf_dir):
    """The document-frequency table is vocabulary-sized: unhinted."""
    from columnar_database_project_spark.operators.text import (
        q_text_tfidf_top_terms,
    )

    assert forced_broadcast_hints(q_text_tfidf_top_terms(spark, sf_dir)) == 0


def test_lm_doc_score_only_vocab_broadcast(spark, sf_dir):
    """Bigram/unigram count tables are corpus-proportional: unhinted.
    The single remaining hint is the 1-row vocab aggregate."""
    from columnar_database_project_spark.operators.text import (
        q_text_lm_doc_score,
    )

    assert forced_broadcast_hints(q_text_lm_doc_score(spark, sf_dir)) == 1


def test_near_survivors_has_no_forced_broadcast(spark, sf_dir):
    """The non-canonical doc-id list can be 30-50% of a crawl: unhinted."""
    from columnar_database_project_spark.operators.dedup import (
        q_dedup_near_survivors,
    )

    assert forced_broadcast_hints(q_dedup_near_survivors(spark, sf_dir)) == 0


def test_edit_distance_has_no_forced_broadcast(spark, sf_dir):
    """The tau-thresholded candidate-pair set is unbounded: unhinted."""
    from columnar_database_project_spark.operators.dedup import (
        q_dedup_edit_distance,
    )

    assert forced_broadcast_hints(q_dedup_edit_distance(spark, sf_dir)) == 0


def test_lm_topm_doc_score_broadcasts_are_bounded_only(spark, sf_dir):
    """The top-M variant is ALLOWED its hints: both LM tables are <= M
    rows by construction plus the 1-row vocab aggregates — exactly 4
    hints (lm table, its internal vocab, unigram table, outer vocab),
    every one bounded."""
    from columnar_database_project_spark.operators.text import (
        q_text_lm_doc_score_topm,
    )

    assert forced_broadcast_hints(q_text_lm_doc_score_topm(spark, sf_dir)) == 4


# ------------------------------------------------------- bounded LM


def _scores(df) -> dict:
    return {
        r["doc_id"]: (r["n_bigrams"], r["mean_logprob"]) for r in df.collect()
    }


def test_lm_topm_equals_full_when_m_covers_everything(spark, sf_dir):
    """At M >= #distinct bigrams (and unigrams) every corpus bigram
    hits the table, so the bounded score IS the unbounded score."""
    from columnar_database_project_spark.operators import text as T

    n_bigrams = T.q_text_lm_topm(spark, sf_dir).count()
    assert n_bigrams <= T.LM_TOP_M, "default M must cover the test corpus"
    full = _scores(T.q_text_lm_doc_score(spark, sf_dir))
    topm = _scores(T.q_text_lm_doc_score_topm(spark, sf_dir))
    assert topm == full


def test_lm_topm_score_delta_bound_at_finite_m(spark, sf_dir, monkeypatch):
    """At a truncating M the per-doc delta obeys
    |topm - full| <= miss_frac * ln(c1_max + V) + rounding slack:
    hits score identically in both variants, and every probability
    (true or floor) lies in [1/(c1_max + V), 1]."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators import text as T

    monkeypatch.setattr(T, "LM_TOP_M", 50)
    monkeypatch.setattr(T, "LM_TOP_M_UNI", 50)

    docs = load_table(spark, sf_dir, "documents")
    pairs = T._bigram_pairs(docs, with_doc=True)
    lm_keys = {
        (r["w1"], r["w2"])
        for r in T.q_text_lm_topm(spark, sf_dir).select("w1", "w2").collect()
    }
    assert len(lm_keys) == 50, "M=50 must actually truncate the test corpus"

    c1_max = (
        T._bigram_pairs(docs, with_doc=False)
        .groupBy("w1")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    v = (
        docs.select(F.explode(T.tokens_col()).alias("t"))
        .agg(F.countDistinct("t"))
        .collect()[0][0]
    )
    per_bigram_bound = math.log(c1_max + v)

    miss = {}
    for r in pairs.collect():
        tot, m = miss.get(r["doc_id"], (0, 0))
        miss[r["doc_id"]] = (
            tot + 1,
            m + (0 if (r["w1"], r["w2"]) in lm_keys else 1),
        )

    full = _scores(T.q_text_lm_doc_score(spark, sf_dir))
    topm = _scores(T.q_text_lm_doc_score_topm(spark, sf_dir))
    assert set(full) == set(topm)
    truncated_docs = 0
    for doc_id, (n_full, s_full) in full.items():
        n_topm, s_topm = topm[doc_id]
        assert n_topm == n_full
        tot, m = miss[doc_id]
        assert tot == n_full
        bound = (m / tot) * per_bigram_bound + 1e-5
        assert abs(s_topm - s_full) <= bound, (doc_id, s_topm, s_full, bound)
        if m:
            truncated_docs += 1
    assert truncated_docs > 0, "the bound must actually be exercised"


# ------------------------------------------------------- edge guards


def _write_docs(spark, tmp_path, rows):
    d = os.path.join(str(tmp_path), "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("overwrite").parquet(d)
    return str(tmp_path)


def test_payload_chunks_empty_payload_emits_no_rows(spark, tmp_path):
    """n_chunks = 0 must yield ZERO chunk rows (the unguarded
    F.sequence(0, -1) emitted a descending [0, -1] — two bogus rows)."""
    from columnar_database_project_spark.operators.multimodal import (
        q_mm_payload_chunks,
    )

    sf = _write_docs(
        spark, tmp_path, [(1, ""), (2, "x" * 65), (3, "short")]
    )
    out = q_mm_payload_chunks(spark, sf)
    rows = {(r["doc_id"], r["chunk_id"]) for r in out.collect()}
    assert all(doc != 1 for doc, _ in rows), "empty payload produced chunks"
    assert (2, 0) in rows and (2, 1) in rows
    assert (3, 0) in rows
    assert len(rows) == 3


def test_quantize_constant_dimension_yields_zero_error(spark, tmp_path):
    """A constant dimension (hi == lo) must report mean_abs_err 0.0,
    never NaN from the 0/0 quantization expression."""
    from columnar_database_project_spark.operators.similarity import (
        q_emb_quantize_stats,
    )

    d = os.path.join(str(tmp_path), "embeddings.parquet")
    rows = [(i, [7.5, float(i)], "a") for i in range(8)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    out = {r["dim"]: r for r in q_emb_quantize_stats(spark, str(tmp_path)).collect()}
    assert out[0]["lo"] == out[0]["hi"] == 7.5
    assert out[0]["mean_abs_err"] == 0.0
    assert not math.isnan(out[1]["mean_abs_err"])


def test_kmeans_inertia_non_increasing(spark, sf_dir):
    from columnar_database_project_spark.operators.similarity import (
        KMEANS_ITERS,
        kmeans_fit,
    )

    cents, inertias = kmeans_fit(spark, sf_dir)
    assert len(inertias) == KMEANS_ITERS
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-6, inertias
    # the fit moved: final inertia strictly below the seed assignment's
    assert inertias[-1] < inertias[0]


def test_kmeans_step_agrees_with_fit_round_one(spark, sf_dir):
    import numpy as np

    from columnar_database_project_spark.operators.similarity import (
        kmeans_fit,
        q_emb_kmeans_step,
    )

    step = {
        (r["cluster_id"], r["dim"]): r["centroid"]
        for r in q_emb_kmeans_step(spark, sf_dir).collect()
    }
    cents, _ = kmeans_fit(spark, sf_dir, iters=1)
    for (cid, dim), v in step.items():
        assert abs(cents[cid, dim] - v) < 1e-5


def test_kmeans_final_assignment_covers_corpus(spark, sf_dir):
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import q_emb_kmeans

    rows = q_emb_kmeans(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r["n_members"] for r in rows) == n
    assert all(r["rms_dist"] >= 0 for r in rows)


def test_key_skew_profile_internal_consistency(spark, sf_dir):
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.sketch import (
        SKEW_TOP_N,
        q_stats_key_skew,
    )

    rows = q_stats_key_skew(spark, sf_dir).collect()
    assert len(rows) == SKEW_TOP_N
    events = load_table(spark, sf_dir, "events")
    n_rows = events.count()
    n_keys = events.select("user_id").distinct().count()
    counts = sorted(r["cnt"] for r in rows)
    assert counts == sorted(counts)  # ordered set sanity
    for r in rows:
        assert r["n_keys"] == n_keys
        assert abs(r["share"] - r["cnt"] / n_rows) < 1e-5
        assert abs(r["skew_factor"] - r["cnt"] * n_keys / n_rows) < 1e-3
    # top-1 really is the modal key
    top_true = (
        events.groupBy("user_id").count().orderBy(F.col("count").desc(), "user_id")
        .first()
    )
    assert rows[0]["user_id"] == top_true["user_id"]


def test_semantic_dedup_finds_planted_twin(spark, tmp_path):
    """An identical-embedding pair must land in one cluster and surface
    with cosine 1.0; pairs never cross cluster boundaries."""
    import numpy as np

    from columnar_database_project_spark.operators.dedup import (
        COSINE_TAU,
        q_dedup_semantic,
    )
    from columnar_database_project_spark.operators.similarity import (
        EMB_DIM,
        KMEANS_K,
    )

    rng = np.random.RandomState(11)
    rows = []
    for i in range(KMEANS_K + 20):
        v = [float(round(x, 4)) for x in rng.randn(EMB_DIM)]
        rows.append((i, v, i % 3))
    twin = rows[KMEANS_K][1]
    rows.append((900, list(twin), 0))  # exact duplicate of vec KMEANS_K
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = str(tmp_path / "sem")
    emb.write.parquet(out + "/embeddings.parquet")
    pairs = q_dedup_semantic(spark, out).collect()
    got = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in pairs}
    assert got.get((KMEANS_K, 900)) == 1.0
    assert all(r["cosine"] >= COSINE_TAU for r in pairs)
    assert all(0 <= r["cluster_id"] < KMEANS_K for r in pairs)


def test_new_operator_broadcast_policy_pins(spark, sf_dir):
    """DEPLOY.md broadcast-hint policy for the round-6 additions:
    corpus-proportional frames carry NO forced hint; the only hinted
    frames are 1-row summaries (skew profiler) — bounded by
    construction."""
    from columnar_database_project_spark.operators.dedup import q_dedup_semantic
    from columnar_database_project_spark.operators.selection import (
        q_corpus_snapshot_diff,
        q_text_weighted_sample,
    )
    from columnar_database_project_spark.operators.similarity import (
        q_emb_kmeans_step,
    )
    from columnar_database_project_spark.operators.sketch import q_stats_key_skew

    assert forced_broadcast_hints(q_corpus_snapshot_diff(spark, sf_dir)) == 0
    assert forced_broadcast_hints(q_text_weighted_sample(spark, sf_dir)) == 0
    assert forced_broadcast_hints(q_emb_kmeans_step(spark, sf_dir)) == 0
    assert forced_broadcast_hints(q_dedup_semantic(spark, sf_dir)) == 0
    assert forced_broadcast_hints(q_stats_key_skew(spark, sf_dir)) == 1


def test_snapshot_diff_shuffles_digests_not_text(spark, sf_dir):
    """The full-outer diff must not carry the text column through the
    exchange — only doc_id + fingerprints (the at-scale guarantee that
    the diff is digest-sized)."""
    from columnar_database_project_spark.operators.selection import (
        q_corpus_snapshot_diff,
    )
    from columnar_database_project_spark.plans.verify import formatted_plan

    plan = formatted_plan(q_corpus_snapshot_diff(spark, sf_dir))
    import re

    # formatted-plan detail blocks: "(4) Exchange\nInput [2]: [...]"
    blocks = re.findall(r"\(\d+\) Exchange[^\n]*\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert blocks, "no Exchange detail blocks found — plan format changed?"
    for cols in blocks:
        assert "text#" not in cols, cols
        assert "fp_old" in cols or "fp_new" in cols


def test_cluster_sample_caps_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from columnar_database_project_spark.operators.similarity import (
        CLUSTER_SAMPLE_M,
        KMEANS_K,
        q_emb_cluster_sample,
    )

    a = q_emb_cluster_sample(spark, sf_dir)
    rows = a.collect()
    per = {}
    for r in rows:
        per.setdefault(r["cluster_id"], []).append(r["samp_rank"])
        assert 0 <= r["cluster_id"] < KMEANS_K
    for cid, ranks in per.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= CLUSTER_SAMPLE_M
    b = {(r["vec_id"], r["samp_rank"]) for r in q_emb_cluster_sample(spark, sf_dir).collect()}
    assert {(r["vec_id"], r["samp_rank"]) for r in rows} == b
    # a corpus larger than K*M must hit the cap somewhere
    from columnar_database_project_spark.catalog import load_table
    n = load_table(spark, sf_dir, "embeddings").count()
    if n >= KMEANS_K * CLUSTER_SAMPLE_M * 2:
        assert any(len(r) == CLUSTER_SAMPLE_M for r in per.values())


def test_term_drift_probabilities_are_smoothed_and_consistent(spark, sf_dir):
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.text import (
        DRIFT_TOP_N,
        q_text_term_drift,
        tokens_col,
    )

    rows = q_text_term_drift(spark, sf_dir).collect()
    assert [r["rank"] for r in rows] == list(range(1, DRIFT_TOP_N + 1))
    drifts = [r["drift"] for r in rows]
    assert drifts == sorted(drifts, reverse=True)
    # recompute the smoothing denominators independently
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select((F.col("doc_id") % 2).alias("h"), F.explode(tokens_col()).alias("term"))
    n0 = t.filter("h = 0").count()
    n1 = t.filter("h = 1").count()
    v = t.select("term").distinct().count()
    for r in rows[:5]:
        assert abs(r["p0"] - (r["c0"] + 1) / (n0 + v)) < 2e-6
        assert abs(r["p1"] - (r["c1"] + 1) / (n1 + v)) < 2e-6
        assert abs(r["drift"] - abs(r["p0"] - r["p1"])) < 3e-6


def test_bounded_broadcast_check_mode_validates_all_pipeline_hints(
    spark, sf_dir, monkeypatch
):
    """With SPARK_GRAFT_CHECK_BROADCAST_BOUNDS=1 every bounded_broadcast
    site COUNTS its frame against the declared bound at plan-build
    time. Building + executing one query per converted module proves
    every stated bound actually holds on real data."""
    from columnar_database_project_spark.functions import broadcast_policy as BP

    monkeypatch.setenv(BP.CHECK_ENV, "1")
    from columnar_database_project_spark.operators.dedup import q_dedup_incremental
    from columnar_database_project_spark.operators.events import (
        q_events_anomaly,
        q_events_range_join,
    )
    from columnar_database_project_spark.operators.selection import (
        q_text_bm25_topk,
        q_text_token_budget_select,
    )
    from columnar_database_project_spark.operators.similarity import (
        q_emb_quantize_stats,
        q_sim_bucket_rerank,
    )
    from columnar_database_project_spark.operators.sketch import (
        q_sketch_heavy_hitters,
        q_stats_key_skew,
    )
    from columnar_database_project_spark.operators.text import (
        q_text_lm_doc_score_topm,
        q_text_term_drift,
    )

    for q in (
        q_text_lm_doc_score_topm,
        q_text_term_drift,
        q_sketch_heavy_hitters,
        q_stats_key_skew,
        q_text_bm25_topk,
        q_text_token_budget_select,
        q_emb_quantize_stats,
        q_sim_bucket_rerank,
        q_dedup_incremental,
        q_events_range_join,
        q_events_anomaly,
    ):
        assert q(spark, sf_dir).count() >= 0, q.__name__


def test_bounded_broadcast_raises_on_violated_bound(spark, monkeypatch):
    from columnar_database_project_spark.functions import broadcast_policy as BP

    monkeypatch.setenv(BP.CHECK_ENV, "1")
    df = spark.range(100)
    with pytest.raises(BP.BroadcastBoundExceeded):
        BP.bounded_broadcast(df, 10, "deliberately wrong bound")
    # off by default: no counting, no error
    monkeypatch.delenv(BP.CHECK_ENV)
    BP.bounded_broadcast(df, 10, "unchecked")


def test_corpus_build_full_two_exchanges_and_composition(spark, sf_dir):
    """The modern-recipe composition stays shuffle-light: scrub, funnel
    flags, fingerprint, mix, and split are all scan-local, so only the
    dedup keep-first and the final rollup exchange data. Also checks
    the composition against its pieces: full-recipe survivors can
    never exceed the scrub-less build's survivors per split (the mix
    stage only removes docs; scrubbing can only merge more dups)."""
    from columnar_database_project_spark.operators.selection import (
        q_text_corpus_build_full,
    )
    from columnar_database_project_spark.operators.text import (
        q_text_corpus_build,
    )
    from columnar_database_project_spark.plans.verify import count_shuffles

    df = q_text_corpus_build_full(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert count_shuffles(df) <= 3, count_shuffles(df)
    full = {}
    for r in df.collect():
        full[r["split"]] = full.get(r["split"], 0) + r["n_docs"]
    base = {}
    for r in q_text_corpus_build(spark, sf_dir).collect():
        base[r["split"]] = base.get(r["split"], 0) + r["n_docs"]
    for split, n in full.items():
        assert n <= base.get(split, 0), (split, n, base)


# ------------------------------------------------- salted join + MERGE


def test_join_skew_salted_matches_plain_join_and_plan(spark, sf_dir):
    """Salting is pure physical re-distribution: row-identical to the
    unsalted join, executed as a sort-merge join whose keys include
    the salt, with no broadcast anywhere (a dim broadcast would bypass
    the salt and void the demonstration)."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.relational import (
        q_join_skew_salted,
    )

    salted = q_join_skew_salted(spark, sf_dir)
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "salt" in plan
    plain = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )
    assert [tuple(r) for r in salted.collect()] == [
        tuple(r) for r in plain.collect()
    ]


def _manifest_table(eng, name: str, df, root):
    """``df`` as version 1 of a fresh ManifestStore at ``root``,
    registered on ``eng`` as ``name``."""
    from columnar_database_project_spark.storage.cow import (
        init_manifest_table,
    )
    from columnar_database_project_spark.storage.manifests import (
        ManifestStore,
    )

    store = ManifestStore(str(root))
    init_manifest_table(eng.spark, store, df)
    eng.register_manifest(name, store, with_index=False)
    return store


def test_engine_merge_upsert_semantics(spark, sf_dir, tmp_path):
    """MERGE through the facade: matched keys take the update row,
    unmatched update keys are inserted, untouched rows survive
    unchanged, a column mismatch is rejected, and the write is a NEW
    version (source rows intact)."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    orders = load_table(spark, sf_dir, "orders")
    n_orders = orders.count()
    store = _manifest_table(eng, "orders_merge_t", orders, tmp_path / "t")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("M").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderdate",
        F.lit("0-MERGED").alias("o_orderpriority"),
    )
    inserts = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        (F.col("o_totalprice") / 2).alias("o_totalprice"),
        "o_orderdate",
        F.lit("9-INSERTED").alias("o_orderpriority"),
    )
    n_upd, n_ins = updates.count(), inserts.count()
    rep = eng.merge_cow(
        "orders_merge_t", updates.unionByName(inserts), "o_orderkey", store
    )
    assert rep["version"] == 2 and rep["update_rows"] == n_upd + n_ins
    merged = eng.table("orders_merge_t")
    assert merged.count() == n_orders + n_ins
    # every matched key carries the update row now
    assert merged.filter(F.col("o_orderpriority") == "0-MERGED").count() == n_upd
    assert (
        merged.filter(
            (F.col("o_orderkey") % 10 == 0)
            & (F.col("o_orderkey") < 10_000_000)
            & (F.col("o_orderstatus") != "M")
        ).count()
        == 0
    )
    # inserts present at offset keys
    assert merged.filter(F.col("o_orderkey") >= 10_000_000).count() == n_ins
    # schema mismatch rejected, nothing committed
    with pytest.raises(ValueError):
        eng.merge_cow(
            "orders_merge_t",
            updates.drop("o_orderdate"),
            "o_orderkey",
            store,
        )
    assert store.versions() == [1, 2]
    # source table and the pre-merge version untouched
    assert load_table(spark, sf_dir, "orders").count() == n_orders
    assert store.read(spark, 1).count() == n_orders


def test_engine_delete_where_semantics(spark, sf_dir, tmp_path):
    """DELETE keeps NULL-predicate rows (SQL semantics) for Column and
    SQL-string predicates alike, deletes only TRUE rows, and commits a
    new version."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    base = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 99.0), (4, 5.0)], "id int, v double"
    )
    store = _manifest_table(eng, "del_t", base, tmp_path / "t")
    rep = eng.delete_where_cow("del_t", F.col("v") < 50.0, store)
    # v<50 TRUE for ids 1,4; NULL for id 2 (kept); FALSE for id 3
    assert rep["deleted"] == 2 and rep["version"] == 2
    assert sorted(r["id"] for r in eng.table("del_t").collect()) == [2, 3]
    # string predicate form, NULL row kept by the same rule
    rep2 = eng.delete_where_cow("del_t", "v < 50.0", store)
    assert rep2["deleted"] == 0
    rep3 = eng.delete_where_cow("del_t", "v IS NULL", store)
    assert rep3["deleted"] == 1 and eng.table("del_t").count() == 1


def test_engine_update_where_semantics(spark, sf_dir, tmp_path):
    """UPDATE ... SET: only predicate-TRUE rows change (NULL keeps old
    values, SQL semantics), untouched columns/rows survive byte-
    identical, column order is preserved, unknown SET columns are
    rejected, and the write is a NEW version."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    base = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 99.0, "c"), (4, 5.0, "d")],
        "id int, v double, tag string",
    )
    store = _manifest_table(eng, "upd_t", base, tmp_path / "t")
    rep = eng.update_where_cow(
        "upd_t",
        F.col("v") < 50.0,
        {"tag": F.lit("LOW"), "v": F.col("v") + 1.0},
        store,
    )
    # v<50 TRUE for ids 1,4; NULL for id 2 (kept as-is); FALSE for id 3
    assert rep["updated"] == 2 and rep["version"] == 2
    got = {r["id"]: (r["v"], r["tag"]) for r in eng.table("upd_t").collect()}
    assert got == {
        1: (11.0, "LOW"),
        2: (None, "b"),
        3: (99.0, "c"),
        4: (6.0, "LOW"),
    }
    assert eng.table("upd_t").columns == ["id", "v", "tag"]
    # string forms for predicate and assignment
    rep2 = eng.update_where_cow("upd_t", "v IS NULL", {"v": "0.0"}, store)
    assert rep2["updated"] == 1
    assert (
        eng.table("upd_t").filter(F.col("id") == 2).first()["v"] == 0.0
    )
    # unknown SET column rejected — also when the predicate prunes
    # every block — and nothing is committed
    for pred in ("v = 0.0", "v > 1e9"):
        with pytest.raises(ValueError, match="unknown"):
            eng.update_where_cow("upd_t", pred, {"nope": F.lit(1)}, store)
    assert store.versions() == [1, 2, 3]


def test_engine_update_versioned_chain(spark, tmp_path):
    """UPDATE participates in the commit-log chain: merge → update →
    time travel to the merge's version shows pre-update values while
    the latest version shows post-update values."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id int, v double")
    store = _manifest_table(eng, "uv_t", base, tmp_path / "t")
    merged = eng.merge_cow(
        "uv_t",
        spark.createDataFrame([(3, 30.0)], "id int, v double"),
        "id",
        store,
    )  # ids 1,2,3
    rep = eng.update_where_cow(
        "uv_t", F.col("id") == 1, {"v": F.lit(-1.0)}, store
    )
    assert rep["version"] == merged["version"] + 1 and rep["updated"] == 1
    latest = {r["id"]: r["v"] for r in eng.table("uv_t").collect()}
    assert latest == {1: -1.0, 2: 20.0, 3: 30.0}
    v_merge = {
        r["id"]: r["v"]
        for r in eng.time_travel_cow("uv_t", store, merged["version"]).collect()
    }
    assert v_merge == {1: 10.0, 2: 20.0, 3: 30.0}


def test_snapshot_store_dml_chain_time_travel_rollback(spark, tmp_path):
    """ManifestStore lifecycle over chained DML: versions accrue, time
    travel reads any committed version, an orphan staged data dir is
    invisible, reading an uncommitted version raises, rollback commits
    the old version anew (data files stay, later versions still time
    travel), every staged dir is fresh, and vacuum reclaims."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id int, s string, v double"
    )
    store = _manifest_table(eng, "vt", base, tmp_path / "tbl")
    r1 = eng.merge_cow(
        "vt",
        spark.createDataFrame([(2, "B", 20.0), (4, "d", 4.0)],
                              "id int, s string, v double"),
        "id",
        store,
    )
    assert r1["version"] == 2 and eng.table("vt").count() == 4
    r2 = eng.delete_where_cow("vt", "id = 1", store)
    assert r2["version"] == 3 and r2["deleted"] == 1
    assert store.versions() == [1, 2, 3]
    # time travel to the merge: id 1 still present, id 2 updated
    v2 = {r["id"]: r["s"] for r in eng.time_travel_cow("vt", store, 2).collect()}
    assert v2 == {1: "a", 2: "B", 3: "c", 4: "d"}
    # orphan staged data dir (crash mid-write) is never resolved
    orphan = store.stage()
    assert os.path.dirname(orphan) == os.path.join(store.root, "data")
    assert os.path.isdir(orphan)
    assert store.latest() == 3
    with pytest.raises(ValueError):
        store.read(spark, 4)
    # rollback: a new version v4 with v2's files; v3 and its files stay
    v3_files = store.files_for(3)
    v3_rows = {r["id"] for r in eng.time_travel_cow("vt", store, 3).collect()}
    restored = store.rollback(2)
    assert restored.version == 4 and store.versions() == [1, 2, 3, 4]
    assert store.files_for() == store.files_for(2)
    assert {r["id"]: r["s"] for r in eng.time_travel_cow("vt", store).collect()} == v2
    assert v3_files and all(os.path.exists(f) for f in v3_files)
    assert {
        r["id"] for r in eng.time_travel_cow("vt", store, 3).collect()
    } == v3_rows == {2, 3, 4}
    # a staged dir is never one another writer holds
    assert store.stage() != orphan
    # vacuum keeps only the last committed version's files
    rep = store.vacuum(keep_last=1)
    assert rep["versions_removed"] == [1, 2, 3]
    assert not os.path.exists(orphan)
    assert store.read(spark).count() == 4
    # keep_last=0 empties the manifests and the files together — a
    # manifest must never name a deleted file
    store.vacuum(keep_last=0)
    assert store.versions() == [] and store.latest() is None


def test_dml_plan_shapes(spark, sf_dir):
    """MERGE = one key-equi anti-join shuffle + union (no broadcast of
    the corpus-proportional update batch); DELETE = scan+filter, zero
    shuffles."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.plans.verify import count_shuffles

    orders = load_table(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 10 == 0)
    survivors = orders.join(
        updates.select("o_orderkey"), on="o_orderkey", how="left_anti"
    )
    merged = survivors.unionByName(updates)
    assert count_shuffles(merged) <= 1
    assert forced_broadcast_hints(merged) == 0
    deleted = orders.filter(
        ~F.coalesce((F.col("o_orderstatus") == "F"), F.lit(False))
    )
    assert count_shuffles(deleted) == 0


def test_update_plan_zero_shuffle(spark, sf_dir):
    """UPDATE = scan + per-row CASE projection: the rewrite plan has
    zero shuffles and no broadcast — the same cost class as DELETE."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.plans.verify import count_shuffles

    orders = load_table(spark, sf_dir, "orders")
    cond = F.coalesce(F.col("o_totalprice") < 20000.0, F.lit(False))
    updated = orders.select(
        *[
            F.when(cond, F.col(c) + 250.0).otherwise(F.col(c)).alias(c)
            if c == "o_totalprice"
            else F.col(c)
            for c in orders.columns
        ]
    )
    assert count_shuffles(updated) == 0
    assert forced_broadcast_hints(updated) == 0


def test_new_operator_plan_shapes(spark, sf_dir):
    """Round-6 additions keep their scale contracts: novelty has no
    forced broadcast and no nested-loop join (inverted-index shape),
    markov/pack/histogram stay within their tiny bounded shuffle
    budgets."""
    from columnar_database_project_spark.operators.dedup import (
        q_dedup_cluster_size_hist,
    )
    from columnar_database_project_spark.operators.events import (
        q_events_markov_transitions,
    )
    from columnar_database_project_spark.operators.text import (
        q_text_ngram_novelty,
        q_text_pack_efficiency,
    )
    from columnar_database_project_spark.plans.verify import (
        count_shuffles,
        formatted_plan,
    )

    novelty = q_text_ngram_novelty(spark, sf_dir)
    assert forced_broadcast_hints(novelty) == 0
    assert "BroadcastNestedLoopJoin" not in formatted_plan(novelty)

    markov = q_events_markov_transitions(spark, sf_dir)
    # user window + (cur,nxt) groupBy + cur window over the tiny frame
    assert count_shuffles(markov) <= 3
    assert forced_broadcast_hints(markov) == 0

    pack = q_text_pack_efficiency(spark, sf_dir)
    assert count_shuffles(pack) <= 3
    assert forced_broadcast_hints(pack) == 0

    hist = q_dedup_cluster_size_hist(spark, sf_dir)
    # fp groupBy + size groupBy + single-partition window over the
    # dozen-row histogram
    assert count_shuffles(hist) <= 3
    assert forced_broadcast_hints(hist) == 0


def test_minhash_estimate_quality(spark, sf_dir):
    """The 16-seed MinHash estimate tracks true Jaccard: mean |err|
    within ~2 standard errors of the binomial bound (sqrt(J(1-J)/16)
    <= 0.125), and the estimate is never degenerate (not all 0/1)."""
    from columnar_database_project_spark.operators.dedup import (
        q_dedup_minhash_est_error,
    )

    rows = q_dedup_minhash_est_error(spark, sf_dir).collect()
    assert rows, "expected near-dup pairs in testdata"
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err <= 0.25, f"mean |est - true| too high: {mean_err:.3f}"
    ests = {r["est_jaccard"] for r in rows}
    assert len(ests) > 1 or rows[0]["est_jaccard"] not in (0.0, 1.0)


def test_rfm_segments_bucket_semantics(spark, sf_dir):
    """RFM buckets partition users 1-4 on each axis against exact
    quartiles: every bucket value in range, and each axis's bucket
    counts roughly balanced (threshold bucketing: no bucket empty)."""
    from collections import Counter

    from columnar_database_project_spark.operators.events import (
        q_events_rfm_segments,
    )

    rows = q_events_rfm_segments(spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    spread = {}
    for axis in ("r_q", "f_q", "m_q"):
        counts = Counter(r[axis] for r in rows)
        assert set(counts) <= {1, 2, 3, 4}
        spread[axis] = len(counts)
    # value-threshold buckets CAN collapse under heavy ties (e.g.
    # everyone active on the last day → recency all-bucket-1); but a
    # fully degenerate result on every axis means the thresholds are
    # wrong, not the data.
    assert max(spread.values()) >= 3, f"all axes collapsed: {spread}"
    for r in rows:
        assert r["segment"] == f"{r['r_q']}{r['f_q']}{r['m_q']}"


def test_cms_guarantees(spark, sf_dir):
    """Count-Min structural guarantees: the sketch never exceeds
    DEPTH x WIDTH rows regardless of vocabulary, bucket counts are
    positive, and every point estimate >= the exact count (CMS can
    only overestimate — a single underestimate means the hash or the
    min is wrong)."""
    from columnar_database_project_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
        q_sketch_cms_estimates,
        q_sketch_count_min,
    )

    sketch = q_sketch_count_min(spark, sf_dir).collect()
    assert 0 < len(sketch) <= CMS_DEPTH * CMS_WIDTH
    assert all(r["c"] > 0 for r in sketch)
    assert {r["seed"] for r in sketch} == set(range(CMS_DEPTH))
    est = q_sketch_cms_estimates(spark, sf_dir).collect()
    assert est
    for r in est:
        assert r["overestimate"] >= 0, f"CMS underestimated {r['term']}"
        assert r["cms_estimate"] == r["exact_cnt"] + r["overestimate"]


def test_containment_bounds_and_dominates_jaccard(spark, sf_dir):
    """Containment |A∩B|/min(|A|,|B|) is in (0, 1] and, because
    min(|A|,|B|) <= |A∪B|, is >= Jaccard for every pair both
    operators emit — an exact algebraic dominance, so a single
    violation means one of the two intersection counts is wrong."""
    from columnar_database_project_spark.operators.dedup import (
        q_dedup_containment,
        q_dedup_ngram_jaccard,
    )

    cont = q_dedup_containment(spark, sf_dir)
    rows = cont.collect()
    assert rows, "expected at least one containment pair at test SF"
    assert all(0.0 < r["containment"] <= 1.0 + 1e-9 for r in rows)
    jac = q_dedup_ngram_jaccard(spark, sf_dir)
    joined = cont.join(jac, ["doc_a", "doc_b"]).collect()
    for r in joined:
        assert r["containment"] >= r["jaccard"] - 1e-9, (
            r["doc_a"], r["doc_b"], r["containment"], r["jaccard"],
        )


def test_containment_catches_embedded_doc(spark, tmp_path):
    """A short document pasted verbatim inside a longer one scores
    containment 1.0 even though Jaccard is diluted by the wrapper —
    the asymmetric case the operator exists for."""
    import columnar_database_project_spark.operators.dedup as D

    inner = " ".join(f"w{i}" for i in range(12))
    wrapper = (
        "header junk tokens before the quote starts here "
        + inner
        + " trailing commentary continues for a while afterwards now"
    )
    df = spark.createDataFrame(
        [(1, inner, "en", "s", len(inner)),
         (2, wrapper, "en", "s", len(wrapper))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    df.coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = D.q_dedup_containment(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["containment"] == 1.0


def test_zipf_slope_sane(spark, sf_dir):
    """One-row fit with a negative slope (frequency falls with rank —
    guaranteed by construction since rank orders by descending count)
    and r² in [0, 1]; n_terms bounded by the top-N cut."""
    from columnar_database_project_spark.operators.text import (
        ZIPF_TOP_N,
        q_text_zipf_slope,
    )

    rows = q_text_zipf_slope(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert 0 < r["n_terms"] <= ZIPF_TOP_N
    assert r["zipf_slope"] < 0
    assert 0.0 <= r["zipf_r2"] <= 1.0


def test_correlation_matrix_matches_pandas(spark, sf_dir):
    """The single-pass corr aggregate equals pandas' Pearson r per
    pair (1e-5), covers exactly the upper-triangle pair set, and every
    value is in [-1, 1]."""
    from columnar_database_project_spark.operators.relational import (
        CORR_PAIRS,
        q_stats_correlation,
    )
    from columnar_database_project_spark.catalog import load_table

    rows = q_stats_correlation(spark, sf_dir).collect()
    got = {(r["col_x"], r["col_y"]): r["pearson_r"] for r in rows}
    assert set(got) == set(CORR_PAIRS)
    pdf = load_table(spark, sf_dir, "lineitem").select(
        *{c for p in CORR_PAIRS for c in p}
    ).toPandas()
    for (a, b), r in got.items():
        assert -1.0 <= r <= 1.0
        expect = pdf[a].corr(pdf[b])
        assert abs(r - expect) < 1e-5, (a, b, r, expect)


def test_gapfill_fills_missing_hours_with_locf(spark, tmp_path):
    """A series with a hole gets the missing hour emitted (is_gap=1,
    n_events=0) and its value forward-filled from the last real
    hour; real hours pass through untouched."""
    import pyspark.sql.functions as F

    import columnar_database_project_spark.operators.events as E

    rows = [
        (1, "2024-01-01 00:10:00", 7, "click", 2.0, "{}"),
        (2, "2024-01-01 00:40:00", 7, "click", 3.0, "{}"),
        # hour 01 missing entirely
        (3, "2024-01-01 02:05:00", 8, "click", 10.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    d = str(tmp_path / "ev")
    df.coalesce(1).write.mode("overwrite").parquet(d + "/events.parquet")
    got = {r["hour"]: r for r in E.q_events_gapfill(spark, d).collect()}
    assert set(got) == {
        "2024-01-01 00:00:00", "2024-01-01 01:00:00", "2024-01-01 02:00:00",
    }
    h0, h1, h2 = (got[h] for h in sorted(got))
    assert (h0["n_events"], h0["is_gap"], h0["value_locf"]) == (2, 0, 5.0)
    assert (h1["n_events"], h1["is_gap"], h1["value_locf"]) == (0, 1, 5.0)
    assert (h2["n_events"], h2["is_gap"], h2["value_locf"]) == (1, 0, 10.0)


def test_gapfill_spine_covers_range(spark, sf_dir):
    """Per type, the output is exactly the hour range (max-min+1 rows,
    no duplicates) and the non-gap event counts sum to the type's
    total event count — densification adds rows, never drops or
    double-counts."""
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.events import (
        q_events_gapfill,
    )
    import pyspark.sql.functions as F

    out = q_events_gapfill(spark, sf_dir)
    per_type = (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("hour").alias("hours"),
            F.sum("n_events").alias("n"),
            F.min("hour").alias("mn"),
            F.max("hour").alias("mx"),
        )
        .collect()
    )
    ev = load_table(spark, sf_dir, "events")
    true_counts = {
        r["event_type"]: r["c"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    import datetime as dt

    for r in per_type:
        assert r["rows"] == r["hours"], r  # no duplicate spine rows
        span_h = (
            dt.datetime.fromisoformat(r["mx"]) - dt.datetime.fromisoformat(r["mn"])
        ) // dt.timedelta(hours=1)
        assert r["rows"] == span_h + 1, r
        assert r["n"] == true_counts[r["event_type"]], r


def test_knn_classify_consistent_with_topk(spark, sf_dir):
    """One prediction per query; the predicted label is the true
    majority label of the top-k neighbor set (recomputed
    independently from the top-k output), and vote_share = votes/k."""
    from collections import Counter

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        q_sim_knn_classify,
        q_sim_topk_bruteforce,
    )

    preds = {r["q_id"]: r for r in q_sim_knn_classify(spark, sf_dir).collect()}
    assert len(preds) == N_QUERIES
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    topk = q_sim_topk_bruteforce(spark, sf_dir).collect()
    by_q: dict[int, list[int]] = {}
    for r in topk:
        by_q.setdefault(r["q_id"], []).append(labels[r["neighbor_id"]])
    for q, neigh_labels in by_q.items():
        votes = Counter(neigh_labels)
        best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        p = preds[q]
        assert (p["predicted_label"], p["votes"]) == best, (q, p, best)
        assert p["vote_share"] == round(p["votes"] / TOP_K, 6)
        assert p["actual_label"] == labels[q]
        assert p["correct"] == int(p["predicted_label"] == p["actual_label"])


def test_centroid_outliers_match_numpy(spark, sf_dir):
    """The flagged outlier set (and each z-score to 4dp) equals an
    independent numpy recomputation of per-label centroid distances
    standardized within label."""
    import numpy as np

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        OUTLIER_Z,
        q_emb_centroid_outliers,
    )

    got = {
        r["vec_id"]: (r["label"], r["dist"], r["z"])
        for r in q_emb_centroid_outliers(spark, sf_dir).collect()
    }
    pdf = load_table(spark, sf_dir, "embeddings").toPandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    labels = pdf["label"].values
    expect = {}
    for lbl in np.unique(labels):
        idx = np.where(labels == lbl)[0]
        centroid = mat[idx].mean(axis=0)
        d = np.sqrt(((mat[idx] - centroid) ** 2).sum(axis=1))
        sd = d.std(ddof=1)
        z = (d - d.mean()) / sd if sd != 0 else np.zeros_like(d)
        for j, i in enumerate(idx):
            if round(z[j], 4) >= OUTLIER_Z:
                expect[int(pdf["vec_id"].iloc[i])] = (
                    int(lbl), round(float(d[j]), 6), round(float(z[j]), 4)
                )
    assert set(got) == set(expect), (
        set(got) ^ set(expect)
    )
    for vid, (lbl, dist, z) in expect.items():
        g = got[vid]
        assert g[0] == lbl
        assert abs(g[1] - dist) < 1e-5, (vid, g, dist)
        assert abs(g[2] - z) < 1e-3, (vid, g, z)


def test_knn_graph_degree_and_order(spark, sf_dir):
    """Every node has out-degree min(K, |its label group| - 1), all
    edges stay within the label block, no self-loops, and each
    adjacency list is sorted by (cosine desc, neighbor asc) with
    ranks 1..k."""
    from collections import defaultdict

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        KNN_GRAPH_K,
        q_sim_knn_graph,
    )
    import pyspark.sql.functions as F

    edges = q_sim_knn_graph(spark, sf_dir).collect()
    emb = load_table(spark, sf_dir, "embeddings")
    group_sizes = {
        r["label"]: r["n"]
        for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    labels = {
        r["vec_id"]: r["label"]
        for r in emb.select("vec_id", "label").collect()
    }
    adj = defaultdict(list)
    for e in edges:
        assert e["neighbor_id"] != e["vec_id"]
        assert labels[e["neighbor_id"]] == e["label"] == labels[e["vec_id"]]
        adj[e["vec_id"]].append(e)
    assert set(adj) == {v for v, l in labels.items() if group_sizes[l] >= 2}
    for v, lst in adj.items():
        k = min(KNN_GRAPH_K, group_sizes[labels[v]] - 1)
        lst.sort(key=lambda e: e["rank"])
        assert [e["rank"] for e in lst] == list(range(1, k + 1))
        # ranking is by RAW cosine (tie-broken by id); the output
        # column is rounded, so only monotonicity survives rounding
        for a, b in zip(lst, lst[1:]):
            assert a["cosine"] >= b["cosine"], (v, a, b)


def test_knn_clusters_match_python_union_find(spark, sf_dir):
    """The distributed pointer-jumping result equals an independent
    python union-find over the mutual-kNN edge set derived from the
    collected graph — exact labels (min vec_id per component)."""
    from columnar_database_project_spark.operators.similarity import (
        q_emb_knn_clusters,
        q_sim_knn_graph,
    )

    edges = {
        (r["vec_id"], r["neighbor_id"])
        for r in q_sim_knn_graph(spark, sf_dir).collect()
    }
    mutual = {(a, b) for (a, b) in edges if (b, a) in edges and a < b}
    assert mutual, "test data must produce at least one mutual edge"

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in mutual:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {v: find(v) for v in parent}
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in q_emb_knn_clusters(spark, sf_dir).collect()
    }
    assert got == expect


# ---------------------------------------------------------------- PQ


def test_pq_codes_match_numpy(spark, sf_dir):
    """Every (vector, subspace) code equals an independent driver-side
    recomputation: rounded-Euclidean argmin against the shared
    codebooks, ties to the lowest code."""
    import numpy as np

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        PQ_M,
        PQ_SUB,
        pq_codebooks,
        q_emb_pq_codes,
    )

    books = pq_codebooks(sf_dir)
    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    expected = {}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64).reshape(PQ_M, PQ_SUB)
        for m in range(PQ_M):
            d = np.round(
                np.linalg.norm(v[m][None, :] - books[m], axis=-1), 6
            )
            expected[(r["vec_id"], m)] = int(np.argmin(d))
    got = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in q_emb_pq_codes(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) == len(rows) * PQ_M


def test_pq_codes_zero_shuffle(spark, sf_dir):
    """Assignment is a pure scan-side map — an index build streams
    codes to the writer without ever repartitioning the corpus."""
    from columnar_database_project_spark.operators.similarity import (
        q_emb_pq_codes,
    )
    from columnar_database_project_spark.plans.verify import count_shuffles

    assert count_shuffles(q_emb_pq_codes(spark, sf_dir)) == 0


def test_pq_distortion_sane(spark, sf_dir):
    """MSE is finite-positive per subspace, counts cover the table,
    and the trained 16-entry codebook beats the trivial 1-entry
    (subspace-mean) quantizer on every subspace — the minimal
    rate-distortion sanity a codebook audit must clear."""
    import numpy as np

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        PQ_M,
        PQ_SUB,
        q_emb_pq_distortion,
    )

    rows = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    sub = mat.reshape(len(mat), PQ_M, PQ_SUB)
    out = {r["subspace"]: r for r in q_emb_pq_distortion(spark, sf_dir).collect()}
    assert sorted(out) == list(range(PQ_M))
    for m in range(PQ_M):
        one_entry_mse = float(
            (((sub[:, m, :] - sub[:, m, :].mean(0)) ** 2).sum(-1)).mean()
        )
        assert out[m]["n_vectors"] == len(mat)
        assert 0 < out[m]["mse"] < one_entry_mse, (m, out[m]["mse"], one_entry_mse)


def test_pq_adc_topk_shape_and_monotone(spark, sf_dir):
    """Exactly TOP_K neighbors per query, self excluded, approximate
    distance non-decreasing in rank, and each returned adist equals an
    independent LUT-sum recomputation from that neighbor's codes."""
    import numpy as np

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        N_QUERIES,
        PQ_K,
        PQ_M,
        PQ_SUB,
        TOP_K,
        _pq_assign,
        _query_vectors,
        pq_codebooks,
        q_emb_pq_adc_topk,
    )

    books = pq_codebooks(sf_dir)
    q_ids, q_raw = _query_vectors(sf_dir)
    q_sub = q_raw.reshape(len(q_ids), PQ_M, PQ_SUB)
    lut = np.empty((len(q_ids), PQ_M, PQ_K))
    for m in range(PQ_M):
        lut[:, m, :] = np.sum(
            (q_sub[:, m, None, :] - books[m][None, :, :]) ** 2, axis=-1
        )
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    got = q_emb_pq_adc_topk(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
    assert sorted(by_q) == sorted(int(q) for q in q_ids)
    qpos = {int(q): i for i, q in enumerate(q_ids)}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert len(rs) == TOP_K
        assert [r["rank"] for r in rs] == list(range(1, TOP_K + 1))
        dists = [r["adist"] for r in rs]
        assert dists == sorted(dists)
        for r in rs:
            assert r["neighbor_id"] != q
            codes = _pq_assign(emb[r["neighbor_id"]][None, :], books)[0]
            expect = round(
                float(sum(lut[qpos[q], m, codes[m]] for m in range(PQ_M))), 6
            )
            assert abs(r["adist"] - expect) < 1e-9, (q, r, expect)


def test_ivfpq_consistent_with_components(spark, sf_dir):
    """The composed IVF-PQ search equals the ADC ranking restricted to
    probed cells: every neighbor sits in one of its query's N_PROBE
    cells (per the oracle-checked probe plan + assignments), carries
    the same rounded ADC distance the PQ search computes, and ranks
    densely within each query."""
    from columnar_database_project_spark.operators.similarity import (
        N_PROBE,
        N_QUERIES,
        TOP_K,
        q_emb_pq_adc_topk,
        q_sim_ivf_assignments,
        q_sim_ivf_probes,
        q_sim_ivfpq_topk,
    )

    cells = {
        r["vec_id"]: r["cell"]
        for r in q_sim_ivf_assignments(spark, sf_dir).collect()
    }
    probed: dict[int, set] = {}
    for r in q_sim_ivf_probes(spark, sf_dir).collect():
        probed.setdefault(r["q_id"], set()).add(r["cell"])
    adc = {
        (r["q_id"], r["neighbor_id"]): r["adist"]
        for r in q_emb_pq_adc_topk(spark, sf_dir).collect()
    }
    got = q_sim_ivfpq_topk(spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r)
    assert len(by_q) == N_QUERIES
    for q, rs in by_q.items():
        assert len(probed[q]) == N_PROBE
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOP_K
        dists = [r["adist"] for r in rs]
        assert dists == sorted(dists)
        for r in rs:
            assert cells[r["neighbor_id"]] in probed[q]
            # where the unpruned ADC top-k kept the same neighbor, the
            # composed search reports the identical rounded distance
            if (q, r["neighbor_id"]) in adc:
                assert r["adist"] == adc[(q, r["neighbor_id"])]


def test_q15_q20_q21_no_unbounded_forced_broadcast(spark, sf_dir):
    """Supplier and part scale with SF — the TPC-H shapes must not
    force-broadcast them (the r5 class rule, extended to the
    relational surface). q15 keeps exactly one hint: the 1-row
    max-revenue aggregate."""
    from columnar_database_project_spark.operators.relational import (
        q15_top_supplier,
        q20_potential_promotion,
        q21_waiting_supplier,
    )

    assert forced_broadcast_hints(q15_top_supplier(spark, sf_dir)) == 1
    assert forced_broadcast_hints(q20_potential_promotion(spark, sf_dir)) == 0
    assert forced_broadcast_hints(q21_waiting_supplier(spark, sf_dir)) == 0


def test_streaming_index_build_and_search(spark, sf_dir, tmp_path_factory):
    """Incremental IVF-PQ maintenance end-to-end: two vector drops →
    streamed cell/code assignment into a cell-partitioned store; the
    store matches the batch assignments and codes exactly; searching
    the PERSISTED codes reproduces the batch composed search
    bit-for-bit; and the search's store scan carries the probed cells
    as partition filters (directory pruning, not data filtering)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        q_emb_pq_codes,
        q_sim_ivf_assignments,
        q_sim_ivfpq_topk,
    )
    from columnar_database_project_spark.plans.verify import formatted_plan
    from columnar_database_project_spark.streaming.vectors import (
        index_vectors_stream,
        read_vector_stream,
        search_index_store,
    )

    base = tmp_path_factory.mktemp("vec_stream")
    drops = base / "drops"
    drops.mkdir()
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    mid = len(emb) // 2
    pq.write_table(
        pa.Table.from_pandas(emb.iloc[:mid], preserve_index=False),
        str(drops / "drop1.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(emb.iloc[mid:], preserve_index=False),
        str(drops / "drop2.parquet"),
    )
    index_path, ckpt = str(base / "index"), str(base / "ck")
    q = index_vectors_stream(
        read_vector_stream(spark, str(drops)), index_path, ckpt, sf_dir
    )
    q.awaitTermination(120)

    store = spark.read.parquet(index_path)
    assert store.count() == len(emb)
    got_cells = {r["vec_id"]: r["cell"] for r in store.collect()}
    want_cells = {
        r["vec_id"]: r["cell"]
        for r in q_sim_ivf_assignments(spark, sf_dir).collect()
    }
    assert got_cells == want_cells
    got_codes = {
        (r["vec_id"], m): c
        for r in store.collect()
        for m, c in enumerate(r["codes"])
    }
    want_codes = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in q_emb_pq_codes(spark, sf_dir).collect()
    }
    assert got_codes == want_codes

    res = search_index_store(spark, index_path, sf_dir)
    want = sorted(
        map(tuple, q_sim_ivfpq_topk(spark, sf_dir).collect())
    )
    assert sorted(map(tuple, res.collect())) == want

    plan = formatted_plan(res)
    assert "PartitionFilters" in plan and "cell" in plan


def test_filtered_topk_prefilter_semantics(spark, sf_dir):
    """Pre-filter semantics: every neighbor satisfies the metadata
    predicate, each query still returns a full k (post-filtering a
    k-set would not), and the predicate reaches the parquet scan."""
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.similarity import (
        FILTER_LABEL,
        N_QUERIES,
        TOP_K,
        q_sim_filtered_topk,
    )
    from columnar_database_project_spark.plans.verify import pushed_filters

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    n_match = sum(1 for v in labels.values() if v == FILTER_LABEL)
    assert n_match >= TOP_K  # the fixture makes the predicate selective, not empty
    df = q_sim_filtered_topk(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == N_QUERIES * TOP_K
    assert all(labels[r["neighbor_id"]] == FILTER_LABEL for r in rows)
    assert any("label" in f for f in pushed_filters(df))


def test_hybrid_rrf_fusion_semantics(spark, sf_dir):
    """RRF invariants: every fused doc came from at least one list,
    the score equals the recomputed 1/(K+rank) sum from the reported
    ranks, scores are non-increasing in rank, and the dense list's
    top-10 prefix agrees with the brute-force cosine search for the
    same query vector."""
    from columnar_database_project_spark.operators.selection import (
        RRF_K,
        RRF_TOP_K,
        q_hybrid_rrf_topk,
    )
    from columnar_database_project_spark.operators.similarity import (
        q_sim_topk_bruteforce,
    )

    rows = sorted(
        q_hybrid_rrf_topk(spark, sf_dir).collect(), key=lambda r: r["rank"]
    )
    assert len(rows) == RRF_TOP_K
    assert [r["rank"] for r in rows] == list(range(1, RRF_TOP_K + 1))
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["lex_rank"] > 0 or r["vec_rank"] > 0
        expect = round(
            (1.0 / (RRF_K + r["lex_rank"]) if r["lex_rank"] > 0 else 0.0)
            + (1.0 / (RRF_K + r["vec_rank"]) if r["vec_rank"] > 0 else 0.0),
            6,
        )
        assert r["rrf_score"] == expect

    bf = {
        r["rank"]: r["neighbor_id"]
        for r in q_sim_topk_bruteforce(spark, sf_dir).collect()
        if r["q_id"] == 0
    }
    dense_by_rank = {
        r["vec_rank"]: r["doc_id"] for r in rows if 0 < r["vec_rank"] <= 10
    }
    for rk, did in dense_by_rank.items():
        assert bf[rk] == did


def test_result_cache_hit_invalidate_and_bypass(spark, sf_dir, tmp_path_factory):
    """The result cache (layer above the block cache): identical SQL
    hits; ANY catalog change — a re-register from DML — invalidates,
    and the re-run sees the new data; oversized results are returned
    but never stored; whitespace-normalized SQL shares one entry."""
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    docs = load_table(spark, sf_dir, "documents").limit(30)
    eng.register("rc_docs", docs)

    sql = "SELECT lang, count(*) AS n FROM rc_docs GROUP BY lang"
    a = eng.query_cached(sql)
    b = eng.query_cached("SELECT lang,   count(*) AS n FROM rc_docs GROUP BY lang")
    assert eng.result_cache_stats()["hits"] == 1
    assert eng.result_cache_stats()["misses"] == 1
    assert a.sort_values("lang").values.tolist() == b.sort_values("lang").values.tolist()

    # mutating the cached copy must not poison the cache
    b.loc[:, "n"] = -1
    c = eng.query_cached(sql)
    assert (c["n"] >= 0).all()

    # DML-shaped change: re-register with fewer rows -> invalidated
    eng.register("rc_docs", docs.limit(10))
    d = eng.query_cached(sql)
    assert eng.result_cache_stats()["misses"] == 2
    assert int(d["n"].sum()) == 10

    # oversized results bypass storage; the register() that added the
    # table cleared the cache (whole-catalog invalidation frees the
    # stale entries' memory immediately), so only a later small query
    # repopulates it
    eng.register("rc_lineitem", load_table(spark, sf_dir, "lineitem"))
    big = eng.query_cached("SELECT l_orderkey FROM rc_lineitem", max_rows=5)
    assert len(big) > 5
    assert eng.result_cache_stats()["bypassed"] == 1
    assert eng.result_cache_stats()["size"] == 0
    eng.query_cached(sql)
    assert eng.result_cache_stats()["size"] == 1
