"""Round-10 additions: prefetch economics gate (VERDICT r9 #3) and
the keeper-star cap under genuine hot-bucket skew (VERDICT r9 #4)."""

from __future__ import annotations

import pytest

from columnar_database_project_spark.ml.prefetch import (
    PrefetchEconomics,
    PrefetchService,
)


class _StubScheduler:
    def __init__(self, suggestions):
        self.suggestions = suggestions

    def suggest_topk_prefetch(self, sequence, k, exclude_blocks):
        return [s for s in self.suggestions if s[0] not in exclude_blocks][:k]


class _StubPrefetcher:
    def __init__(self):
        self.loaded: list[int] = []

    def prefetch_block(self, block_id):
        self.loaded.append(block_id)
        return True

    def prefetch_many(self, block_ids):
        return [b for b in block_ids if self.prefetch_block(b)]


class _StubHistory:
    def get_sequence(self, n):
        return [1, 2, 3]


class _StubCache:
    def cached_ids(self):
        return []


def _service(econ, gate=True):
    return PrefetchService(
        _StubScheduler([(10, 0.9), (11, 0.8)]),
        _StubPrefetcher(),
        _StubHistory(),
        _StubCache(),
        economics_gate=gate,
        economics=econ,
    )


class TestKeeperStarSkew:
    """The production cap on a corpus with a GENUINE over-cap hot
    bucket (VERDICT r9 #4): a boilerplate group larger than the cap
    floods every band bucket; pair enumeration must linearize while
    connected components stay identical to the clique form."""

    @pytest.fixture(scope="class")
    def skew_bk(self, spark, sf_dir, tmp_path_factory):
        import bench

        from columnar_database_project_spark.operators.dedup import (
            _band_keys,
        )

        d = str(tmp_path_factory.mktemp("skew"))
        bench._make_skew_docs(sf_dir, d, hot=60)
        return _band_keys(spark, d).localCheckpoint()

    def test_star_linearizes_hot_bucket(self, skew_bk):
        from columnar_database_project_spark.operators.dedup import (
            lsh_candidate_pairs,
        )

        capped = lsh_candidate_pairs(skew_bk, 30).collect()
        uncapped_n = lsh_candidate_pairs(skew_bk, None).count()
        # clique on the hot group alone is 60·59/2 = 1770 pairs; the
        # star emits 59 — the capped total must sit far below uncapped
        assert len(capped) < uncapped_n
        assert uncapped_n >= 1770
        # capped ⊆ uncapped on the pair level is NOT required (star
        # replaces clique pairs), but every pair must touch the corpus
        assert all(r["doc_a"] < r["doc_b"] for r in capped)

    def test_components_identical_capped_vs_clique(self, skew_bk):
        from columnar_database_project_spark.operators.dedup import (
            connected_components_star,
            lsh_candidate_pairs,
        )

        cc_cap = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components_star(
                lsh_candidate_pairs(skew_bk, 30)
            ).collect()
        }
        cc_unc = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components_star(
                lsh_candidate_pairs(skew_bk, None)
            ).collect()
        }
        assert cc_cap == cc_unc

    def test_cc_star_takes_capped_plan(self, skew_bk):
        # regression: the capped unionByName(clique, star) plan tripped
        # a Catalyst attribute-rewrite failure inside the contraction
        # loop (Spark 4.1 + AQE, "key not found: u#…") before the
        # edge-seed materialization in connected_components_star
        from columnar_database_project_spark.operators.dedup import (
            connected_components,
            connected_components_star,
            lsh_candidate_pairs,
        )

        pairs = lsh_candidate_pairs(skew_bk, 30)
        star = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components_star(pairs).collect()
        }
        label = {
            (r["doc_id"], r["cluster_id"])
            for r in connected_components(pairs).collect()
        }
        assert star == label and len(star) > 0


class TestBuiltinPngDecode:
    """The vendored-codec leg (VERDICT r9 #8): the real-decode branch
    runs in this Pillow-less container via the stdlib PNG path."""

    def _roundtrip(self, img, filters=None):
        import numpy as np

        from columnar_database_project_spark.operators.multimodal import (
            _decode_png_builtin,
        )
        from png_fixture import png_bytes

        got = _decode_png_builtin(png_bytes(img, filters))
        assert got.shape == (img.shape[0], img.shape[1], 3)
        return np.asarray(got)

    def test_rgb_filter_none(self):
        import numpy as np

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
        assert (self._roundtrip(img) == img).all()

    def test_all_filter_types(self):
        import numpy as np

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(10, 6, 3), dtype=np.uint8)
        filters = [0, 1, 2, 3, 4, 4, 3, 2, 1, 0]
        assert (self._roundtrip(img, filters) == img).all()

    def test_gray_expands_and_rgba_drops_alpha(self):
        import numpy as np

        rng = np.random.default_rng(13)
        gray = rng.integers(0, 256, size=(3, 3, 1), dtype=np.uint8)
        got = self._roundtrip(gray, [2, 4, 1])
        assert (got == np.repeat(gray, 3, axis=2)).all()
        rgba = rng.integers(0, 256, size=(3, 3, 4), dtype=np.uint8)
        got = self._roundtrip(rgba, [1, 3, 4])
        assert (got == rgba[:, :, :3]).all()

    def test_decode_image_dispatch(self, monkeypatch):
        import numpy as np

        import columnar_database_project_spark.operators.multimodal as mm
        from png_fixture import png_bytes

        monkeypatch.setattr(mm, "_PIL_Image", None)
        img = np.full((2, 2, 3), 9, dtype=np.uint8)
        assert (mm.decode_image(png_bytes(img)) == img).all()
        with pytest.raises(NotImplementedError):
            mm.decode_image(b"\xff\xd8\xff\xe0jpeg-ish")


class TestPrefetchEconomics:
    def test_warmup_returns_none(self):
        econ = PrefetchEconomics(warmup_issues=5)
        for i in range(4):
            econ.note_prefetch(i, 0.1)
            econ.note_access(i, hit=True, sec=0.02)
        econ.note_access(99, hit=False, sec=0.12)
        assert econ.projected_net_sec_per_prefetch() is None

    def test_projection_formula(self):
        econ = PrefetchEconomics(warmup_issues=1)
        # constant observations → EWMA equals the constant
        for i in range(10):
            econ.note_prefetch(i, 0.10)
        for i in range(5):          # 5 of 10 prefetches later hit
            econ.note_access(i, hit=True, sec=0.02)
        for i in range(20, 25):
            econ.note_access(i, hit=False, sec=0.12)
        proj = econ.projected_net_sec_per_prefetch()
        # 0.5 precision × (0.12 − 0.02) − 0.10 = −0.05
        assert proj == pytest.approx(0.5 * (0.12 - 0.02) - 0.10, abs=1e-9)
        assert proj < 0

    def test_attribution_only_for_pending_hits(self):
        econ = PrefetchEconomics(warmup_issues=1)
        econ.note_prefetch(1, 0.1)
        econ.note_access(2, hit=True, sec=0.02)   # hit, but not prefetched
        assert econ.prefetch_hits == 0
        econ.note_access(1, hit=True, sec=0.02)   # attributable
        assert econ.prefetch_hits == 1
        econ.note_access(1, hit=True, sec=0.02)   # counted once only
        assert econ.prefetch_hits == 1


class TestEconomicsGate:
    def _econ_with(self, precision, miss, hit, read):
        econ = PrefetchEconomics(warmup_issues=1)
        n = 20
        for i in range(n):
            econ.note_prefetch(i, read)
        for i in range(int(precision * n)):
            econ.note_access(i, hit=True, sec=hit)
        econ.note_access(999, hit=False, sec=miss)
        econ.hit_sec.update(hit)
        return econ

    def test_negative_projection_suppresses(self):
        econ = self._econ_with(precision=0.25, miss=0.12, hit=0.02, read=0.10)
        assert econ.projected_net_sec_per_prefetch() < 0
        svc = _service(econ)
        assert svc.run_once() == 0
        assert svc.gate_skips == 1
        assert svc.issued_log == []

    def test_positive_projection_issues(self):
        econ = self._econ_with(precision=1.0, miss=0.50, hit=0.01, read=0.05)
        assert econ.projected_net_sec_per_prefetch() > 0
        svc = _service(econ)
        assert svc.run_once() == 2
        assert svc.gate_skips == 0
        assert svc.issued_log == [10, 11]

    def test_gate_off_always_issues(self):
        econ = self._econ_with(precision=0.0, miss=0.12, hit=0.02, read=0.10)
        svc = _service(econ, gate=False)
        assert svc.run_once() == 2

    def test_warmup_does_not_gate(self):
        # no evidence → no verdict → the service behaves ungated
        svc = _service(PrefetchEconomics(warmup_issues=100))
        assert svc.run_once() == 2
        assert svc.gate_skips == 0
