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
