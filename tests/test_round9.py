"""Round-9 closures.

1. LSH production bucket cap (VERDICT r8 "What's wrong #1"): keeper-star
   semantics for over-full buckets — capped pairs ⊆ uncapped pairs,
   connected components (→ clusters, survivors) identical, exact
   equality when no bucket exceeds the cap.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.operators.dedup import (
    LSH_MAX_BUCKET,
    connected_components,
    lsh_candidate_pairs,
)


def _bk_df(spark, buckets: list[list[int]]):
    """(doc_id, band, band_key) rows: bucket i lives in band i % 4."""
    rows = [
        (doc, i % 4, f"key_{i}")
        for i, docs in enumerate(buckets)
        for doc in docs
    ]
    return spark.createDataFrame(rows, "doc_id bigint, band int, band_key string")


def _pairs(df) -> set[tuple[int, int]]:
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def _components(spark, pairs: set[tuple[int, int]]) -> dict[int, int]:
    if not pairs:
        return {}
    pdf = spark.createDataFrame(
        [(a, b) for a, b in pairs], "doc_a bigint, doc_b bigint"
    )
    return {r.doc_id: r.cluster_id for r in connected_components(pdf).collect()}


class TestLshCap:
    def test_default_is_finite(self):
        # The production default must bound hot buckets (VERDICT r8 #1).
        assert LSH_MAX_BUCKET is not None and LSH_MAX_BUCKET >= 2

    def test_star_fires_and_is_linear(self, spark):
        # One bucket of 6 docs, cap 3: expect the 5 star pairs from the
        # min-id keeper, not the 15-pair clique.
        bk = _bk_df(spark, [[10, 11, 12, 13, 14, 15]])
        capped = _pairs(lsh_candidate_pairs(bk, max_bucket=3))
        assert capped == {(10, b) for b in (11, 12, 13, 14, 15)}

    def test_untouched_corpus_is_exact(self, spark):
        # No bucket over the cap → capped output equals the clique form.
        rng = random.Random(9)
        buckets = [
            rng.sample(range(100), rng.randint(2, 4)) for _ in range(20)
        ]
        bk = _bk_df(spark, buckets)
        assert _pairs(lsh_candidate_pairs(bk, max_bucket=4)) == _pairs(
            lsh_candidate_pairs(bk, None)
        )

    @pytest.mark.parametrize("seed", [1, 2, 3])
    def test_fuzz_subset_and_cluster_parity(self, spark, seed):
        # Random corpora with buckets straddling the cap: capped pairs
        # are a subset of uncapped pairs, and the keeper-star rewrite
        # preserves connected components exactly (same clusters → same
        # survivors).
        rng = random.Random(seed)
        cap = 4
        buckets = [
            rng.sample(range(200), rng.randint(2, 10)) for _ in range(25)
        ]
        bk = _bk_df(spark, buckets)
        capped = _pairs(lsh_candidate_pairs(bk, max_bucket=cap))
        uncapped = _pairs(lsh_candidate_pairs(bk, None))
        assert capped <= uncapped
        assert any(len(b) > cap for b in buckets)  # the star path fired
        assert capped < uncapped  # ...and actually linearized something
        assert _components(spark, capped) == _components(spark, uncapped)

    def test_duplicate_doc_band_rows_do_not_inflate(self, spark):
        # collect_set semantics: a doc listed twice in a bucket is one
        # member; count-based big-key detection must agree. With the
        # dup row, naive count(*)=4 > cap=3 but the distinct bucket is
        # 3 docs — either path must yield the same 3 pairs here because
        # star-of-3 ∪ nothing vs clique-of-3 only differ beyond size 3.
        bk = _bk_df(spark, [[1, 1, 2, 3]])
        capped = _pairs(lsh_candidate_pairs(bk, max_bucket=3))
        uncapped = _pairs(lsh_candidate_pairs(bk, None))
        assert uncapped == {(1, 2), (1, 3), (2, 3)}
        assert capped <= uncapped
        assert _components(spark, capped) == _components(spark, uncapped)


class TestAdviceR8:
    def test_kmeans_argmin_margin_is_safe(self, spark, sf_dir):
        # ADVICE r8: the emb_kmeans hash oracle is stable only while
        # no vector's best-vs-second-best centroid distance sits
        # within rounding drift of a 0.5e-6 boundary. Pin the actual
        # margin on the test corpus: > 2e-6 (two rounding quanta)
        # means no cross-engine argmin flip is possible.
        from columnar_database_project_spark.operators.similarity import (
            kmeans_min_argmin_margin,
        )

        margin = kmeans_min_argmin_margin(spark, sf_dir)
        assert margin > 2e-6, (
            f"k-means argmin margin {margin:.2e} is inside the rounding "
            "boundary danger zone — the emb_kmeans hash oracle is no "
            "longer trustworthy on this corpus; switch it to a "
            "tolerance check or reseed the centroids"
        )

    def test_stale_bloom_sidecar_answers_maybe_for_nan(self, tmp_path):
        # ADVICE r8: a sidecar built before the NaN encoding existed
        # never inserted b"f:nan" bits; loading one must not report
        # NaN "provably absent".
        import numpy as np

        from columnar_database_project_spark.sources.bloom import (
            ENCODING_VERSION,
            BlockBloomIndex,
        )

        bm = np.zeros(128, dtype=np.uint8)
        idx = BlockBloomIndex(
            m=1024, k=3, fpr=0.01, columns=["x"],
            bitmaps={("f.parquet", "x"): bm}, encoding_version=1,
        )
        assert idx.stale_encoding
        assert idx.might_contain("f.parquet", "x", float("nan")) is True
        # ordinary values still prune on a v1 sidecar
        assert idx.might_contain("f.parquet", "x", 42) is False
        # and a current-version sidecar still prunes NaN when absent
        idx2 = BlockBloomIndex(
            m=1024, k=3, fpr=0.01, columns=["x"],
            bitmaps={("f.parquet", "x"): bm},
        )
        assert idx2.encoding_version == ENCODING_VERSION
        assert idx2.might_contain("f.parquet", "x", float("nan")) is False

    def test_bloom_sidecar_version_roundtrip(self, tmp_path):
        import json

        import numpy as np

        from columnar_database_project_spark.sources.bloom import (
            _SIDECAR,
            ENCODING_VERSION,
            BlockBloomIndex,
        )

        idx = BlockBloomIndex(
            m=64, k=2, fpr=0.01, columns=["x"],
            bitmaps={("f.parquet", "x"): np.zeros(8, dtype=np.uint8)},
        )
        idx.save(str(tmp_path))
        loaded = BlockBloomIndex.load(str(tmp_path))
        assert loaded.encoding_version == ENCODING_VERSION
        assert not loaded.stale_encoding
        # strip the field to simulate a pre-r8 sidecar
        src = tmp_path / _SIDECAR
        with np.load(src) as z:
            meta = json.loads(bytes(z["meta"]).decode())
            arrays = {n: z[n] for n in z.files if n != "meta"}
        meta.pop("encoding_version")
        np.savez_compressed(
            src, meta=np.frombuffer(json.dumps(meta).encode(), dtype=np.uint8),
            **arrays,
        )
        legacy = BlockBloomIndex.load(str(tmp_path))
        assert legacy.encoding_version == 1 and legacy.stale_encoding

    def test_scan_index_decodes_percent_encoded_paths(self, spark, tmp_path):
        # ADVICE r8: input_file_name() percent-encodes paths; a dir
        # with a space must still yield openable block files.
        import os

        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )

        d = str(tmp_path / "with space")
        spark.range(50).selectExpr("id", "id * 3 AS v").write.parquet(d)
        idx = MicroBlockIndex.build_from_scan(spark, d, "tbl", format="parquet")
        assert idx.num_blocks >= 1
        for b in idx.blocks:
            assert "%20" not in b.file_path
            assert os.path.exists(b.file_path), b.file_path


class TestMultimodalDecode:
    def test_stub_fires_only_without_codec(self, monkeypatch):
        # The NotImplementedError path is an environment statement, not
        # a permanent stub: with Pillow absent it must fire exactly for
        # formats the vendored builtin decoder (PNG-only) cannot take.
        import columnar_database_project_spark.operators.multimodal as mm

        monkeypatch.setattr(mm, "_PIL_Image", None)
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            mm.decode_image(b"\xff\xd8\xff\xe0jpeg-ish")
        # a PNG payload decodes via the builtin path even without
        # Pillow — but a TRUNCATED one is a data error, not a stub
        with _pytest.raises(ValueError):
            mm._decode_png_builtin(b"\x89PNG\r\n\x1a\n")

    def test_real_decode_path(self, spark, sf_dir):
        # Runs in EVERY environment (r9 left this leg skipped when
        # Pillow was absent): decode a real PNG — built by the stdlib
        # fixture encoder — through the SAME mapInPandas plumbing the
        # fake extractor uses.
        import numpy as np

        import columnar_database_project_spark.operators.multimodal as mm
        from png_fixture import png_bytes

        png = png_bytes(np.full((3, 4, 3), [10, 20, 30], dtype=np.uint8))
        df = spark.createDataFrame(
            [(1, bytearray(png))], "doc_id long, payload binary"
        )
        rows = df.mapInPandas(
            mm.image_feature_batches, schema=mm.IMAGE_FEATURE_SCHEMA
        ).collect()
        assert rows[0]["height"] == 3 and rows[0]["width"] == 4
        assert abs(rows[0]["channel_mean"] - 20.0) < 1e-6


class TestHealthGate:
    """bench.py's probe-based quiesce (r9): a take that STARTS degraded
    must be retaken even when the end/start ratio looks 'improving' —
    the fresh-boot r9 run recorded the sf2.5 corpus pipelines 2-26x
    slow with probe_ratio 0.68 because the start sample was already
    1.6x nominal."""

    def _patch(self, monkeypatch, degraded_ms, post_samples, seed=37.0):
        import bench

        state = {"seeded": False}
        post = list(post_samples)
        clock = [0.0]

        def fake_health():
            # first call = main()'s nominal seed; while the fake clock
            # is inside the degraded window every sample reads slow;
            # after it, scripted recovery values (last one repeats)
            if not state["seeded"]:
                state["seeded"] = True
                ms = seed
            elif clock[0] <= bench.QUIESCE_MAX_WAIT_SEC:
                ms = degraded_ms
            else:
                ms = post.pop(0) if len(post) > 1 else post[0]
            return {
                "single_thread_ms": ms,
                "parallel16_wall_over_single": 1.5,
                "loadavg_1m": 0.1,
                "loadavg_5m": 0.1,
            }

        monkeypatch.setattr(bench, "machine_health", fake_health)
        monkeypatch.setattr(bench, "_NOMINAL_SINGLE_MS", float("inf"))
        # r12: quiesce waits are charged against a global wall budget
        # (cap = 20% of it). These scenarios predate that and need the
        # full 300 s per-take wait available — give them a budget whose
        # cap exceeds it, and a clean spend/epoch. The budget-exhausted
        # path is pinned separately in TestBudgetedGate.
        monkeypatch.setattr(bench, "BENCH_BUDGET_SEC", 10_000.0)
        monkeypatch.setattr(bench, "_QUIESCE_SPEND", 0.0)
        monkeypatch.setattr(bench, "_BENCH_T0", 0.0)
        monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.1, 0.1, 0.1))
        # fake clock so the quiesce wait-cap can expire without real
        # sleeping (bench.time is the stdlib module; patch is
        # test-scoped via monkeypatch)
        monkeypatch.setattr(bench.time, "time", lambda: clock[0])
        monkeypatch.setattr(
            bench.time,
            "sleep",
            lambda s: clock.__setitem__(0, clock[0] + s),
        )
        return bench

    def test_degraded_start_triggers_retake(self, monkeypatch):
        # nominal seed 37 -> quiesce waits out its cap on a 58.9 ms
        # probe and take 1 starts (and ends) degraded: the end/start
        # ratio alone would accept it (the r9 fresh-boot trap, ratio
        # 0.68) — start_degraded must force the retake; take 2 then
        # starts clean.
        bench = self._patch(
            monkeypatch,
            degraded_ms=58.9,  # every sample until the wait cap expires
            post_samples=[40.0, 38.0, 39.0],  # quiesce t2, end t2, spare
        )
        bench._observe_health()  # seed nominal=37 as main() does
        calls = []
        out, meta = bench.health_gated("t", lambda: calls.append(1) or "ok")
        assert out == "ok"
        assert len(calls) == 2, "degraded-start take must be retaken"
        assert meta["takes"][0]["start_degraded"] is True
        # the pre-r9 gate (end/start ratio alone) would have accepted it
        assert meta["takes"][0]["probe_ratio"] <= bench.HEALTH_PROBE_MAX_RATIO
        assert meta["takes"][1]["start_degraded"] is False
        assert meta["accepted_take"] == 2

    def test_clean_start_single_take(self, monkeypatch):
        bench = self._patch(
            monkeypatch, degraded_ms=38.0, post_samples=[39.0]
        )
        bench._observe_health()
        out, meta = bench.health_gated("t", lambda: "ok")
        assert out == "ok" and meta["accepted_take"] == 1
        assert meta["takes"][0]["start_degraded"] is False


class TestCompactLine:
    """bench.build_compact: the driver parses only the LAST line of a
    ~2000-char stdout tail; r8's compact line regrew past 2 KB and the
    round recorded parsed:null. The budget is enforced, optional keys
    drop first, and the core (metric/value/queries) always survives."""

    def _result(self, n_queries=14):
        qs = {f"q{i:02d}": 0.123 for i in range(n_queries)}
        return {
            "metric": "headline_queries_total_wall_clock",
            "value": 4.5,
            "unit": "sec",
            "sf": 0.1,
            "queries": qs,
            "baseline_duckdb": dict(qs),
            "baseline_duckdb_total": 2.4,
            "scaling": {
                "sf2.5": {
                    "queries": {"a": 1.0},
                    "baseline_duckdb": {"a": 2.0},
                    "near_survivors_chain": {"ratio_vs_duckdb": 0.19},
                }
            },
            "overhead_floor": {
                "spark_empty_scan": 0.019,
                "duckdb_empty_scan": 0.002,
            },
            "machine_health": {
                "headline": {
                    "takes": [
                        {"probe_ratio": 0.97, "start_degraded": False}
                    ],
                    "accepted_take": 1,
                }
            },
            "extras_r6": {"spark": {"x": 1.0}, "duckdb": {"x": 2.0}},
            "streaming": {"tumbling": {"rows_per_sec": 45000}},
            "prefetch_ab": {"lru_lstm": {"hit_rate": 0.58}},
            "cow_dml": {"bytes_ratio": 0.02},
        }

    def test_fits_budget_and_parses(self):
        import json

        import bench

        line = bench.build_compact(self._result())
        assert len(line) <= 1900
        d = json.loads(line)
        assert d["value"] == 4.5 and len(d["queries"]) == 14
        assert d["scaling"]["sf2.5"]["dedup_chain_ratio"] == 0.19
        assert d["health"]["headline_start_degraded"] is False

    def test_oversize_drops_optional_keys_keeps_core(self):
        import json

        import bench

        r = self._result(n_queries=60)  # queries alone near the budget
        line = bench.build_compact(r)
        d = json.loads(line)
        # core survives every drop
        assert d["metric"] and d["queries"] and "value" in d
        # the first-dropped keys are gone before per-query spark times
        assert "prefetch_hit_rates" not in d

    def test_error_shaped_sections_do_not_crash(self):
        import json

        import bench

        r = self._result()
        r["overhead_floor"] = {"error": "boom"}
        r["cow_dml"] = {"error": "boom"}
        r["extras_r6"] = {"error": "boom"}
        d = json.loads(bench.build_compact(r))
        # r12: empty/None leaves are dropped outright (char budget goes
        # to claims, not "{}" placeholders) — error-shaped sections must
        # simply be absent, never crash the line builder.
        assert "floor" not in d and "extras_r6" not in d
        assert d["value"] == 4.5
