"""IVF ANN recall against brute force."""

from __future__ import annotations


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
