"""CSV/JSONL readers, Arrow handoff, and IVF ANN recall against brute
force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.sources.readers import (
    from_arrow,
    read_csv,
    read_jsonl,
    to_arrow,
)


class TestReaders:
    @pytest.fixture(scope="class")
    def csv_path(self, spark, sf_dir, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("csv") / "nation")
        load_table(spark, sf_dir, "nation").write.option("header", True).csv(out)
        return out

    def test_csv_roundtrip(self, spark, sf_dir, csv_path):
        schema = "n_nationkey long, n_name string, n_regionkey long"
        df = read_csv(spark, csv_path, schema)
        orig = load_table(spark, sf_dir, "nation")
        assert df.count() == orig.count()
        assert set(r["n_name"] for r in df.collect()) == set(
            r["n_name"] for r in orig.collect()
        )

    def test_jsonl_roundtrip(self, spark, sf_dir, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("jsonl") / "region")
        load_table(spark, sf_dir, "region").write.json(out)
        df = read_jsonl(spark, out, "r_regionkey long, r_name string")
        assert df.count() == load_table(spark, sf_dir, "region").count()

    def test_arrow_handoff(self, spark, sf_dir):
        import pyarrow as pa

        orig = load_table(spark, sf_dir, "nation")
        tbl = to_arrow(orig)          # S11/S9: engine → Arrow
        assert isinstance(tbl, pa.Table)   # native toArrow, no pandas
        back = from_arrow(spark, tbl)  # S9: Arrow → engine
        assert back.schema == orig.schema  # exact types, no drift
        assert sorted(map(tuple, back.collect())) == sorted(
            map(tuple, orig.collect())
        )


class TestIVF:
    def test_recall_vs_bruteforce(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            q_sim_ivf_topk,
            q_sim_topk_bruteforce,
        )

        exact = {
            (r["q_id"], r["neighbor_id"])
            for r in q_sim_topk_bruteforce(spark, sf_dir).collect()
        }
        approx = {
            (r["q_id"], r["neighbor_id"])
            for r in q_sim_ivf_topk(spark, sf_dir).collect()
        }
        assert approx, "IVF returned nothing"
        recall = len(exact & approx) / len(exact)
        # probing 3/16 cells: near-duplicate neighbors should still be found
        assert recall >= 0.5, f"recall {recall}"
        # and every IVF hit must be a real vector with sane rank ordering
        rows = q_sim_ivf_topk(spark, sf_dir).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["q_id"], []).append((r["rank"], r["cosine"]))
        for q, pairs in by_q.items():
            pairs.sort()
            cosines = [c for _, c in pairs]
            assert cosines == sorted(cosines, reverse=True)


class TestIVFRecallCurve:
    """The recall-curve audit must be internally consistent with the
    operators it audits."""

    def test_curve_monotone_and_exact_at_full_probe(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            N_IVF_CELLS,
            q_sim_ivf_recall_curve,
        )

        rows = sorted(
            q_sim_ivf_recall_curve(spark, sf_dir).collect(),
            key=lambda r: r["n_probe"],
        )
        recalls = [r["recall"] for r in rows]
        assert recalls == sorted(recalls), "recall must rise with probes"
        full = [r for r in rows if r["n_probe"] == N_IVF_CELLS]
        assert full and full[0]["recall"] == 1.0, (
            "probing every cell IS the exact search"
        )

    def test_curve_agrees_with_ivf_topk_at_default_probe(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            N_PROBE,
            q_sim_ivf_recall_curve,
            q_sim_ivf_topk,
            q_sim_topk_bruteforce,
        )

        exact = {
            (r["q_id"], r["neighbor_id"])
            for r in q_sim_topk_bruteforce(spark, sf_dir).collect()
        }
        approx = {
            (r["q_id"], r["neighbor_id"])
            for r in q_sim_ivf_topk(spark, sf_dir).collect()
        }
        measured = len(exact & approx) / len(exact)
        curve = {
            r["n_probe"]: r["recall"]
            for r in q_sim_ivf_recall_curve(spark, sf_dir).collect()
        }
        assert abs(curve[N_PROBE] - measured) < 1e-6

    def test_nprobe_for_recall_meets_target(self, spark, sf_dir):
        """The auto-tuner returns the SMALLEST probe level meeting the
        target, always meets it (full probe = exact fallback), and a
        harder target never picks fewer probes."""
        from columnar_database_project_spark.operators.similarity import (
            ivf_nprobe_for_recall,
        )

        choice = ivf_nprobe_for_recall(spark, sf_dir, target_recall=0.8)
        assert choice["recall"] >= 0.8
        for p, r in choice["curve"].items():
            if p < choice["n_probe"]:
                assert r < 0.8, "a cheaper level already met the target"
        exact = ivf_nprobe_for_recall(spark, sf_dir, target_recall=1.0)
        assert exact["recall"] == 1.0
        assert exact["n_probe"] >= choice["n_probe"]

    def test_top_pcs_match_numpy_on_collected_matrix(self, spark, sf_dir):
        """The distributed-Gram PCA agrees with a single-machine PCA
        of the same vectors: same top eigenvalue shares (to the
        4dp-rounded gram), orthonormal components, shares sum <= 1
        and are sorted descending."""
        import numpy as np

        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.functions.vector import (
            stack_embeddings,
        )
        from columnar_database_project_spark.operators.similarity import (
            emb_top_principal_components,
        )

        got = emb_top_principal_components(spark, sf_dir, k=3)
        V = stack_embeddings(
            load_table(spark, sf_dir, "embeddings").toPandas()["embedding"]
        )
        ref_vals = np.sort(np.linalg.eigvalsh(V.T @ V))[::-1]
        ref_shares = ref_vals[:3] / ref_vals.sum()
        assert np.allclose(got["explained"], ref_shares, atol=1e-4)
        C = got["components"]
        assert np.allclose(C @ C.T, np.eye(3), atol=1e-8)
        assert got["explained"] == sorted(got["explained"], reverse=True)
        assert sum(got["explained"]) <= 1.0 + 1e-9
