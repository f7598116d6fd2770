"""Fast operator smoke checks against DuckDB inline (the FULL oracle
sweep is tools/verify_oracle.py — these are the cheap representatives
kept in pytest so `pytest -x -q` stays quick and self-contained)."""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from columnar_database_project_spark.catalog import TESTDATA_TABLES
from columnar_database_project_spark.operators.multimodal import (
    decode_image,
    q_mm_fake_features,
)

FAST_QUERIES = [
    "filter_between",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "topk",
    "join_broadcast",
    "window_rank",
    "text_token_stats",
    "dedup_exact_survivors",
    "dedup_simhash_candidates",
    "sim_hyperplane_signatures",
    "sim_ivf_assignments",
    "events_json_props",
    "text_gopher_quality",
    "text_repetition",
    "text_bigram_freq",
    "q4_order_priority",
    "q13_customer_distribution",
    "q18_large_orders",
    "stats_agg",
    "percentile_agg",
    "sim_bucket_rerank",
    "events_retention",
    "events_anomaly",
    "window_lag_lead",
    "dedup_edit_distance",
    "q7_volume_shipping",
    "q22_global_sales",
    "mm_payload_dedup",
    "q14_promo_revenue",
    "q19_bracket_revenue",
    "engine_sql_roundtrip",
    "engine_update_set",
    "events_markov_transitions",
    "dedup_cluster_size_hist",
    "text_pack_efficiency",
    "text_ngram_novelty",
    "text_tokenizer_fertility",
    "events_rfm_segments",
    "dedup_minhash_est_error",
    "text_tfidf_cosine_pairs",
    "sketch_count_min",
    "sketch_cms_estimates",
    "text_corpus_build_incremental",
    "text_curriculum_order",
    "stats_table_profile",
    "text_corpus_datacard",
    "events_bot_flags",
    "events_funnel_windowed",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif "float" in str(df[c].dtype):
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", FAST_QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    sdf = qs[name](spark, sf_dir).toPandas()
    odf = duck.execute(oracles[name]).fetchdf()
    assert len(sdf) == len(odf)
    sdf.columns = [c.lower() for c in sdf.columns]
    odf.columns = [c.lower() for c in odf.columns]
    assert sorted(sdf.columns) == sorted(odf.columns)
    a, b = _canon(sdf), _canon(odf)
    # numeric-tolerant frame compare
    import pandas as pd

    pd.testing.assert_frame_equal(
        a, b, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6
    )


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_registry_consistency():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 55


def test_multimodal_stub_and_plumbing(spark, sf_dir):
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")
    feats = q_mm_fake_features(spark, sf_dir).limit(5).collect()
    assert len(feats) == 5
    r = feats[0]
    assert r["n_bytes"] > 0 and 0 <= r["first_byte"] < 256 and r["byte_mean"] > 0


def test_dedup_clusters_invariants(spark, sf_dir):
    """Connected-components invariants: cluster_id = min doc_id of the
    component, and every Jaccard edge joins two docs of the SAME
    cluster (the definition of connectedness)."""
    from columnar_database_project_spark.operators.dedup import (
        q_dedup_clusters,
        q_dedup_ngram_jaccard,
    )

    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in q_dedup_clusters(spark, sf_dir).collect()
    }
    assert labels, "expected at least one near-dup cluster in testdata"
    # min-id representative: the cluster id is a member, and it is the min
    by_cluster: dict = {}
    for doc, cid in labels.items():
        by_cluster.setdefault(cid, []).append(doc)
    for cid, members in by_cluster.items():
        assert min(members) == cid
    # edges never straddle clusters
    for r in q_dedup_ngram_jaccard(spark, sf_dir).collect():
        assert labels[r["doc_a"]] == labels[r["doc_b"]]


def test_connected_components_long_chain(spark):
    """Pointer jumping must collapse a chain whose diameter far
    exceeds the round cap: 64 nodes in a path converge to one cluster
    within CLUSTER_MAX_ITERS=20 rounds only because label shortcutting
    is O(log diameter)."""
    from columnar_database_project_spark.operators.dedup import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    out = connected_components(chain).collect()
    assert len(out) == 64
    assert {r["cluster_id"] for r in out} == {0}


def test_connected_components_warns_when_round_cap_truncates(spark):
    """Exhausting the iteration cap without reaching the fixed point
    must be observable — truncated labels look exactly like converged
    ones otherwise."""
    import warnings as _warnings

    from columnar_database_project_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        connected_components(chain, max_iters=1).collect()
    assert any("max_iters" in str(w.message) for w in rec)

    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        connected_components_star(chain, max_iters=1).collect()
    assert any("max_iters" in str(w.message) for w in rec)

    # converged runs stay silent
    with _warnings.catch_warnings(record=True) as rec:
        _warnings.simplefilter("always")
        connected_components(chain).collect()
        connected_components_star(chain).collect()
    assert not [w for w in rec if "max_iters" in str(w.message)]


def test_connected_components_star_long_chain(spark):
    """Star contraction must also collapse a 64-node path within the
    round cap (O(log n) convergence), and agree with the label-
    propagation strategy on a multi-component graph."""
    from columnar_database_project_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    out = connected_components_star(chain).collect()
    assert len(out) == 64
    assert {r["cluster_id"] for r in out} == {0}

    # two components + agreement between the two strategies
    multi = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21), (21, 22), (9, 3)],
        "doc_a long, doc_b long",
    )
    a = {r["doc_id"]: r["cluster_id"] for r in connected_components(multi).collect()}
    b = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(multi).collect()
    }
    assert a == b
    assert b[9] == 1 and b[22] == 20


def test_rotation_orders_by_verification_staleness(monkeypatch):
    """The driver's correctness budget checks entries in registry
    order, so _rotated must front (1) never-verified queries, then
    (2) stale-code greens oldest-round-first, then (3) fresh greens
    oldest-round-first — name tiebreak inside each group. A bug here
    silently starves queries of re-verification."""
    import __spark_entry__ as em

    monkeypatch.setattr(
        em,
        "_last_verified_round",
        lambda: {
            "fresh_new": (6, 200.0),     # checked r6, after pkg mtime
            "fresh_old": (4, 200.0),     # checked r4, after pkg mtime
            "stale_old": (3, 50.0),      # green predates code change
            "stale_new": (5, 50.0),
        },
    )
    monkeypatch.setattr(em, "_pkg_mtime", lambda: 100.0)
    names = ["fresh_new", "never_b", "stale_new", "fresh_old",
             "stale_old", "never_a"]
    got = em._rotated(names)
    assert got == [
        "never_a", "never_b",            # never verified, name order
        "stale_old", "stale_new",        # code changed since green, oldest round first
        "fresh_old", "fresh_new",        # still-fresh greens, oldest round first
    ]
