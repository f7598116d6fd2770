"""Round-13 topk optimization: the driver-side price floor."""

from __future__ import annotations


class TestTopkPriceFloor:
    """r13 topk optimization: the driver-side price floor must be (a)
    provably result-preserving — including at tie boundaries — and (b)
    visible in the plan as a pushed literal when engaged."""

    def _old_shape(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from columnar_database_project_spark.catalog import load_table

        li = load_table(spark, sf_dir, "lineitem")
        return (
            li.orderBy(
                F.col("l_extendedprice").desc(),
                F.col("l_orderkey"),
                F.col("l_linenumber"),
            )
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
            .limit(10)
        )

    def test_parity_and_pushed_filter_when_engaged(
        self, spark, sf_dir, monkeypatch
    ):
        from columnar_database_project_spark.operators import relational as R
        from columnar_database_project_spark.plans.verify import (
            formatted_plan,
        )

        monkeypatch.setattr(R, "_TOPK_PREFILTER_MIN_BYTES", 0)
        thr = R._topk_price_floor(sf_dir)
        assert thr is not None
        df = R.q_topk(spark, sf_dir)
        plan = formatted_plan(df)
        assert "TakeOrderedAndProject" in plan
        assert "GreaterThanOrEqual(l_extendedprice" in plan, plan
        got = [tuple(r) for r in df.collect()]
        ref = [tuple(r) for r in self._old_shape(spark, sf_dir).collect()]
        assert got == ref

    def test_gate_off_below_threshold(self, spark, sf_dir):
        from columnar_database_project_spark.operators import relational as R
        from columnar_database_project_spark.plans.verify import (
            formatted_plan,
        )

        # sf0.001 lineitem is ~0.1 MB — far below the 8 MB gate: the
        # plan must be the plain (unfiltered) r12 shape
        assert R._topk_price_floor(sf_dir) is None
        assert "GreaterThanOrEqual(l_extendedprice" not in formatted_plan(
            R.q_topk(spark, sf_dir)
        )

    def test_tie_boundary_exactness(self, spark, tmp_path, monkeypatch):
        """Adversarial tie data: >k rows share the k-th price. The
        floor filter keeps every candidate; the tiebreaker ordering
        picks the same rows either way."""
        import pandas as pd

        from columnar_database_project_spark.operators import relational as R

        d = tmp_path / "tie_sf"
        d.mkdir()
        rows = []
        # 25 rows at the shared top price (ties), 50 below
        for i in range(25):
            rows.append((i, 1, 100.0))
        for i in range(50):
            rows.append((1000 + i, 1, 50.0 + i))
        pdf = pd.DataFrame(
            rows, columns=["l_orderkey", "l_linenumber", "l_extendedprice"]
        )
        pdf["l_orderkey"] = pdf["l_orderkey"].astype("int64")
        pdf["l_linenumber"] = pdf["l_linenumber"].astype("int32")
        pdf.to_parquet(str(d / "lineitem.parquet"))
        monkeypatch.setattr(R, "_TOPK_PREFILTER_MIN_BYTES", 0)
        thr = R._topk_price_floor(str(d))
        assert thr == 100.0  # the tied top price
        got = [tuple(r) for r in R.q_topk(spark, str(d)).collect()]
        ref = [tuple(r) for r in self._old_shape(spark, str(d)).collect()]
        assert got == ref
        assert len(got) == 10 and all(r[2] == 100.0 for r in got)
