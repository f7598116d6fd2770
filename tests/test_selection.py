"""Invariants for the round-6 selection/retrieval/privacy operators.

Beyond the oracle twins (which the driver checks at sf0.01), these pin
the semantic properties the oracles cannot see on the synthetic corpus:
PII redaction on text that actually CONTAINS PII (the testdata word
salad has none), chunk coverage/reassembly, budget-selection
equivalence to its single-window definition, BM25 monotonicity, and
importance-sampling determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.operators.selection import (
    BM25_TOP_K,
    CHUNK_SIZE,
    CHUNK_STRIDE,
    PII_TOKEN,
    TOKEN_BUDGET,
    q_emb_doc_modality_join,
    q_text_bm25_topk,
    q_text_chunk_windows,
    q_text_importance_sample,
    q_text_pii_redact,
    q_text_token_budget_select,
)


# ------------------------------------------------------------ PII


def _pii_docs(spark):
    rows = [
        (1, "contact me at alice@example.com or bob.smith+x@sub.dom.org", "en",
         "s", 10),
        (2, "call 555-123-4567 today or 800.555.0199 now", "en", "s", 10),
        (3, "server at 10.0.0.1 and 192.168.255.3 is up", "en", "s", 10),
        (4, "no pii here just words", "en", "s", 10),
        (5, "mix: a@b.co then 111-222-3333 then 8.8.8.8 done", "en", "s", 10),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_pii_redact_counts_and_scrub(spark, tmp_path):
    docs = _pii_docs(spark)
    out_dir = str(tmp_path / "pii")
    docs.write.parquet(out_dir + "/documents.parquet")
    got = {
        r["doc_id"]: r
        for r in q_text_pii_redact(spark, out_dir).collect()
    }
    assert (got[1]["n_email"], got[1]["n_phone"], got[1]["n_ipv4"]) == (2, 0, 0)
    assert (got[2]["n_email"], got[2]["n_phone"], got[2]["n_ipv4"]) == (0, 2, 0)
    assert (got[3]["n_email"], got[3]["n_phone"], got[3]["n_ipv4"]) == (0, 0, 2)
    assert got[4]["clean"] and not got[5]["clean"]
    assert (got[5]["n_email"], got[5]["n_phone"], got[5]["n_ipv4"]) == (1, 1, 1)
    # the scrub itself: a clean doc's fingerprint is md5 of its own
    # text; a dirty doc's differs (something was replaced)
    import hashlib

    assert got[4]["redacted_fp"] == hashlib.md5(
        b"no pii here just words"
    ).hexdigest()
    assert got[5]["redacted_fp"] == hashlib.md5(
        f"mix: {PII_TOKEN} then {PII_TOKEN} then {PII_TOKEN} done".encode()
    ).hexdigest()


# ------------------------------------------------------------ chunking


def test_chunk_windows_cover_and_overlap(spark, sf_dir):
    from columnar_database_project_spark.operators.text import (
        q_text_token_stats,
    )

    chunks = q_text_chunk_windows(spark, sf_dir)
    stats = q_text_token_stats(spark, sf_dir).select("doc_id", "n_tokens")
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_id").alias("max_id"),
            F.min("chunk_n_tokens").alias("min_len"),
            F.max("chunk_n_tokens").alias("max_len"),
        )
        .join(stats, "doc_id")
        .collect()
    )
    assert per_doc
    for r in per_doc:
        # chunk ids are dense 0..n-1
        assert r["max_id"] == r["n_chunks"] - 1
        # every chunk <= size; full coverage: strides span all tokens
        assert r["max_len"] <= CHUNK_SIZE
        assert (r["n_chunks"] - 1) * CHUNK_STRIDE < r["n_tokens"]
        assert (r["n_chunks"] - 1) * CHUNK_STRIDE + r["min_len"] >= 1
        # total coverage: last chunk reaches the final token
        last_start = (r["n_chunks"] - 1) * CHUNK_STRIDE
        assert last_start + CHUNK_SIZE >= r["n_tokens"]


# ------------------------------------------------------ budget select


def test_token_budget_matches_single_window_definition(spark, sf_dir):
    """The scalable two-phase implementation must equal the defining
    single global-window cumsum exactly."""
    got = q_text_token_budget_select(spark, sf_dir)
    # reference: the defining global window over ALL docs
    from pyspark.sql import Window as W

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.selection import (
        N_QUALITY_BUCKETS,
        _quality_score,
    )
    from columnar_database_project_spark.operators.text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    bucket = F.least(
        F.floor(_quality_score(toks) * N_QUALITY_BUCKETS),
        F.lit(N_QUALITY_BUCKETS - 1),
    ).cast("int")
    all_docs = docs.select(
        "doc_id", bucket.alias("bucket"), F.size(toks).alias("n_tokens")
    )
    w = W.orderBy(F.col("bucket").desc(), "doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    ref = (
        all_docs.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )
    got_rows = sorted(
        (r["doc_id"], r["cum_tokens"]) for r in got.collect()
    )
    ref_rows = sorted(
        (r["doc_id"], r["cum_tokens"]) for r in ref.collect()
    )
    assert got_rows == ref_rows
    assert got_rows, "budget selected nothing — budget too small for testdata"
    # and the budget is respected
    assert max(c for _, c in got_rows) <= TOKEN_BUDGET


def test_token_budget_no_global_corpus_window(spark, sf_dir):
    """The plan must not move the corpus to one partition: the only
    unpartitioned window runs over the <=20-row bucket-offsets frame.
    Asserted structurally: the corpus-sized window is partitioned."""
    plan = q_text_token_budget_select(spark, sf_dir)._jdf.queryExecution(
    ).executedPlan().toString()
    # every Window over the doc frame carries a partition spec
    import re

    windows = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    # at least one window partitioned by bucket exists
    assert any("bucket" in w for w in windows), plan


# ------------------------------------------------------------ BM25


def test_bm25_topk_shape_and_monotonicity(spark, sf_dir):
    rows = q_text_bm25_topk(spark, sf_dir).collect()
    assert len(rows) == BM25_TOP_K
    assert [r["rank"] for r in rows] == list(range(1, BM25_TOP_K + 1))
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s >= 0 for s in scores)


def test_bm25_rewards_term_frequency(spark, tmp_path):
    """Same length docs: more query-term hits => higher score."""
    rows = [
        (1, "spark query table spark query table aa bb cc dd", "en", "s", 1),
        (2, "spark aa bb cc dd ee ff gg hh ii", "en", "s", 1),
        (3, "aa bb cc dd ee ff gg hh ii jj", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "bm")
    docs.write.parquet(out + "/documents.parquet")
    got = {r["doc_id"]: r["bm25"] for r in q_text_bm25_topk(spark, out).collect()}
    assert got[1] > got[2] > got[3]
    assert got[3] == 0.0


# ------------------------------------------------- importance sampling


def test_importance_sample_deterministic_and_weighted(spark, sf_dir):
    a = sorted(r["doc_id"] for r in q_text_importance_sample(spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in q_text_importance_sample(spark, sf_dir).collect())
    assert a == b, "sampling must be a pure function of doc_id"
    kept = q_text_importance_sample(spark, sf_dir)
    # every kept row satisfies the rule
    bad = kept.filter(~(F.col("u") < F.col("weight"))).count()
    assert bad == 0
    assert len(a) > 0


# ------------------------------------------------------ modality join


def test_modality_join_groups_complete(spark, sf_dir):
    out = q_emb_doc_modality_join(spark, sf_dir).collect()
    assert out
    for r in out:
        assert r["n_docs"] > 0
        assert r["avg_norm"] is not None and r["avg_norm"] > 0
        assert r["avg_tokens"] > 0


def test_selection_broadcast_hint_policy(spark, sf_dir):
    """DEPLOY.md hint policy: hints ONLY on bounded-by-construction
    frames — budget-select's <=20-row bucket-offset table and BM25's
    1-row stats aggregate; every corpus-proportional frame unhinted."""
    from plan_checks import forced_broadcast_hints

    expected = {
        q_text_pii_redact: 0,
        q_text_chunk_windows: 0,
        q_text_importance_sample: 0,
        q_text_token_budget_select: 1,  # bucket offsets, <= 20 rows
        q_text_bm25_topk: 1,  # 1-row corpus stats
        q_emb_doc_modality_join: 0,  # both sides corpus-sized
    }
    for fn, n in expected.items():
        assert forced_broadcast_hints(fn(spark, sf_dir)) == n, fn.__name__


def test_selection_queries_registered():
    from columnar_database_project_spark.operators import all_queries

    q, o = all_queries()
    for name in (
        "text_pii_redact",
        "text_chunk_windows",
        "text_importance_sample",
        "text_token_budget_select",
        "text_bm25_topk",
        "emb_doc_modality_join",
    ):
        assert name in q and name in o


# --------------------------------------------- round-6 extra operators


def test_events_pivot_row_sums_equal_event_count(spark, sf_dir):
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.events import (
        EVENT_TYPES,
        q_events_pivot_user_counts,
    )

    wide = q_events_pivot_user_counts(spark, sf_dir)
    total_wide = (
        wide.select(
            sum(F.col(f"n_{t}") for t in EVENT_TYPES).alias("s")
        )
        .agg(F.sum("s"))
        .collect()[0][0]
    )
    total_events = load_table(spark, sf_dir, "events").count()
    assert total_wide == total_events
    # one row per user, no nulls anywhere
    users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert wide.count() == users
    for t in EVENT_TYPES:
        assert wide.filter(F.col(f"n_{t}").isNull()).count() == 0


def test_gram_matrix_diagonal_and_symmetry_contract(spark, sf_dir):
    """Upper triangle only; diagonal = sum of squares (>= 0); the
    (0,0) cell equals the numpy ground truth."""
    import numpy as np
    import pyarrow.parquet as pq

    from columnar_database_project_spark.operators.similarity import (
        EMB_DIM,
        q_emb_gram_matrix,
    )

    rows = q_emb_gram_matrix(spark, sf_dir).collect()
    assert len(rows) == EMB_DIM * (EMB_DIM + 1) // 2
    got = {(r["dim_i"], r["dim_j"]): r["gram"] for r in rows}
    assert all(i <= j for i, j in got)
    assert all(got[(d, d)] >= 0 for d in range(EMB_DIM))
    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    v = np.vstack(t["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    want = v.T @ v
    assert abs(got[(0, 0)] - round(float(want[0, 0]), 4)) < 1e-3
    assert abs(got[(0, EMB_DIM - 1)] - round(float(want[0, EMB_DIM - 1]), 4)) < 1e-3


def test_chunk_dup_rate_detects_planted_duplicates(spark, tmp_path):
    """Two docs sharing their full text must show dup_chunk_frac 1.0;
    a unique doc 0.0."""
    shared = " ".join(f"w{i}" for i in range(40))
    unique = " ".join(f"u{i}" for i in range(40))
    rows = [
        (1, shared, "en", "s", 1),
        (2, shared, "en", "s", 1),
        (3, unique, "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = str(tmp_path / "cdr")
    docs.write.parquet(out + "/documents.parquet")
    from columnar_database_project_spark.operators.selection import (
        q_text_chunk_dup_rate,
    )

    got = {
        r["doc_id"]: r["dup_chunk_frac"]
        for r in q_text_chunk_dup_rate(spark, out).collect()
    }
    assert got[1] == 1.0 and got[2] == 1.0 and got[3] == 0.0


def test_domain_mix_rates_and_determinism(spark, sf_dir):
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.selection import (
        DOMAIN_MIX_WEIGHTS,
        q_text_domain_mix_sample,
    )

    a = sorted(r["doc_id"] for r in q_text_domain_mix_sample(spark, sf_dir).collect())
    b = sorted(r["doc_id"] for r in q_text_domain_mix_sample(spark, sf_dir).collect())
    assert a == b and a
    kept = q_text_domain_mix_sample(spark, sf_dir)
    # every kept row satisfies its own rate rule
    assert kept.filter(~(F.col("u") < F.col("rate"))).count() == 0
    # rebalancing direction: keep-rate for en strictly above zh
    totals = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    kept_by = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if "en" in totals and "zh" in totals and totals["zh"] >= 10:
        en_rate = kept_by.get("en", 0) / totals["en"]
        zh_rate = kept_by.get("zh", 0) / totals["zh"]
        assert en_rate > zh_rate
        assert en_rate > 0.9  # weight 1.0 keeps ~everything


def test_weighted_sample_size_determinism_and_bias(spark, sf_dir):
    from columnar_database_project_spark.operators.selection import (
        WEIGHTED_SAMPLE_K,
        _quality_score,
        q_text_weighted_sample,
    )
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.operators.text import tokens_col

    a = q_text_weighted_sample(spark, sf_dir).collect()
    b = q_text_weighted_sample(spark, sf_dir).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    # exact sample size (the without-replacement guarantee) + dense ranks
    assert len(a) == WEIGHTED_SAMPLE_K
    assert [r["rank"] for r in a] == list(range(1, WEIGHTED_SAMPLE_K + 1))
    # keys are sorted descending (rank order == key order)
    keys = [r["es_key"] for r in a]
    assert keys == sorted(keys, reverse=True)
    # weighting bias: the sampled docs' mean weight exceeds the corpus mean
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .select(_quality_score(tokens_col()).alias("q"))
        .agg(F.avg(0.2 + 0.8 * F.col("q")))
        .first()[0]
    )
    sample_mean = sum(r["weight"] for r in a) / len(a)
    assert sample_mean > corpus_mean


def test_snapshot_diff_statuses_follow_construction(spark, sf_dir):
    from columnar_database_project_spark.operators.selection import (
        q_corpus_snapshot_diff,
    )
    from columnar_database_project_spark.catalog import load_table

    got = {
        r["doc_id"]: r["status"]
        for r in q_corpus_snapshot_diff(spark, sf_dir).collect()
    }
    ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    for i in ids:
        expect = {0: "added", 5: "removed", 1: "changed"}.get(i % 10)
        assert got.get(i) == expect, (i, got.get(i), expect)
    # nothing else surfaces — unchanged docs are dropped
    assert set(got) == {i for i in ids if i % 10 in (0, 1, 5)}
