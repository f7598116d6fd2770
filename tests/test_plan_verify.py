"""Plan-verification checks: pushdown, column pruning, broadcast
strategy, codegen spans, and the pruning soundness report — the
"is this the plan you'd want at 100 TB" gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.plans.verify import (
    count_shuffles,
    has_broadcast_join,
    pruning_report,
    pushed_filters,
    whole_stage_codegen_spans,
)
from columnar_database_project_spark.sources.index import MicroBlockIndex
from columnar_database_project_spark.sources.microblock import MicroBlockWriter
from plan_checks import scan_read_schemas


class TestPushdownAndPruning:
    def test_filter_reaches_parquet_scan(self, spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        df = li.filter(F.col("l_quantity").between(18, 24)).select("l_orderkey")
        pf = pushed_filters(df)
        assert any("l_quantity" in f for f in pf), pf

    def test_column_pruning_in_read_schema(self, spark, sf_dir):
        li = load_table(spark, sf_dir, "lineitem")
        df = li.select("l_orderkey", "l_quantity")
        schemas = scan_read_schemas(df)
        assert schemas and all("l_extendedprice" not in s for s in schemas)
        assert any("l_orderkey" in s for s in schemas)

    def test_q6_plan_shape(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q6_forecast_revenue,
        )

        df = q6_forecast_revenue(spark, sf_dir)
        pf = pushed_filters(df)
        # every predicate column reaches the scan
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert any(col in f for f in pf), (col, pf)
        assert whole_stage_codegen_spans(df) >= 1
        # scan + single aggregation → exactly one data shuffle
        assert count_shuffles(df) <= 1

    def test_broadcast_join_strategy(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q_join_broadcast,
        )

        assert has_broadcast_join(q_join_broadcast(spark, sf_dir))

    def test_q4_semi_join_pushdown(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q4_order_priority,
        )

        df = q4_order_priority(spark, sf_dir)
        # the EXISTS is planned as a semi join, not an aggregate-distinct
        assert "LeftSemi" in df._jdf.queryExecution().executedPlan().toString()
        # the orders date window reaches the scan
        assert any("o_orderdate" in f for f in pushed_filters(df))
        # lineitem probe side is pruned to key + date
        assert all(
            "l_extendedprice" not in s
            for s in scan_read_schemas(df)
        )

    def test_q3_semi_join_reduction(self, spark, sf_dir):
        """q3 outputs only lineitem-side columns, so both non-fact
        joins must plan as LeftSemi (pure filters — r7 A/B: beats the
        inner-join orders at every scale point, PLANS.md §Round-7),
        and the fact join's build side must carry ONLY o_orderkey —
        one bigint per qualifying order, not the orders row."""
        from columnar_database_project_spark.operators.relational import (
            q3_shipping_priority,
        )

        df = q3_shipping_priority(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("LeftSemi") >= 2, plan
        # orders-side scan is pruned to the join/filter columns only:
        # no o_totalprice / o_orderpriority ever leaves the scan
        assert all(
            "o_totalprice" not in s and "o_orderpriority" not in s
            for s in scan_read_schemas(df)
        )
        # date + segment predicates reach their scans
        pf = pushed_filters(df)
        assert any("o_orderdate" in f for f in pf), pf
        assert any("c_mktsegment" in f for f in pf), pf

    def test_unhinted_sf_dims_still_broadcast_at_test_scale(self, spark, sf_dir):
        """q3/q5 carry no broadcast hint on customer/supplier (they
        scale with SF — a forced hint would OOM at a true 100 TB). The
        size-gated planner/AQE must still pick broadcast for them at
        test scale, so de-hinting costs nothing where it is safe."""
        from columnar_database_project_spark.operators.relational import (
            q3_shipping_priority,
            q5_local_supplier_volume,
        )

        assert has_broadcast_join(q3_shipping_priority(spark, sf_dir))
        assert has_broadcast_join(q5_local_supplier_volume(spark, sf_dir))

    def test_bigram_topk_is_take_ordered_not_global_window(self, spark, sf_dir):
        """The corpus top-20 must plan as TakeOrderedAndProject (per-
        partition heap, driver merges 20 rows); a row_number over an
        unpartitioned window would sort the full distinct-bigram table
        in one task — a single-point sort at 100 TB. The rank window
        that remains runs over the already-limited 20-row frame."""
        from columnar_database_project_spark.operators.text import (
            q_text_bigram_freq,
        )
        from columnar_database_project_spark.plans.verify import formatted_plan

        df = q_text_bigram_freq(spark, sf_dir)
        plan = formatted_plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        # any Window node must sit ABOVE the top-k truncation, never
        # directly over the full aggregate
        win_pos = plan.find("Window")
        tk_pos = plan.find("TakeOrderedAndProject")
        assert win_pos == -1 or win_pos < tk_pos  # formatted plan lists top-down

    def test_q18_broadcasts_aggregated_side(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q18_large_orders,
        )

        assert has_broadcast_join(q18_large_orders(spark, sf_dir))

    def test_q7_broadcasts_all_dims(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q7_volume_shipping,
        )

        df = q7_volume_shipping(spark, sf_dir)
        assert has_broadcast_join(df)
        # only the fact-fact (lineitem⇄orders) join may shuffle:
        # orderkey exchange pair + the final aggregate exchange
        assert count_shuffles(df) <= 3

    def test_q22_anti_join_shape(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q22_global_sales,
        )

        df = q22_global_sales(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" in plan
        # the high-value order filter reaches the orders scan
        assert any("o_totalprice" in f for f in pushed_filters(df))

    def test_gopher_quality_is_scan_local(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_gopher_quality,
        )

        assert count_shuffles(q_text_gopher_quality(spark, sf_dir)) == 0


class TestPruningReport:
    @pytest.fixture(scope="class")
    def layout(self, spark, sf_dir, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("pv") / "blocks")
        li = load_table(spark, sf_dir, "lineitem").orderBy(
            "l_orderkey", "l_linenumber"
        )
        MicroBlockWriter(block_rows=500).write(li.repartition(1), out)
        return MicroBlockIndex.build(out, "lineitem")

    def test_sound_and_selective(self, layout):
        rep = pruning_report(
            layout, "SELECT * FROM t WHERE l_orderkey BETWEEN 100 AND 200"
        )
        assert rep.sound                      # never misses a matching block
        assert rep.selectivity < 0.5          # actually prunes on sorted key
        assert rep.total_blocks >= 10

    def test_unparseable_where_is_sound_not_selective(self, layout):
        # arithmetic expressions are outside our pruning grammar (the
        # reference's too) → fallback is scan-all: sound by construction
        rep = pruning_report(layout, "SELECT * FROM t WHERE l_orderkey + 0 = 150")
        assert rep.sound
        assert rep.selectivity == 1.0


class TestRound3PlanShapes:
    def test_stratified_sample_zero_shuffle(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_stratified_sample,
        )

        df = q_text_stratified_sample(spark, sf_dir)
        assert count_shuffles(df) == 0       # pure scan-local filter

    def test_length_histogram_single_shuffle(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_length_histogram,
        )

        df = q_text_length_histogram(spark, sf_dir)
        assert count_shuffles(df) == 1       # the one groupBy, map-side partials

    def test_contamination_no_cartesian(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_contamination,
        )
        from columnar_database_project_spark.plans.verify import formatted_plan

        plan = formatted_plan(q_text_contamination(spark, sf_dir))
        assert "CartesianProduct" not in plan
        assert "Join" in plan                # equi-join on fingerprint

    def test_simhash_candidates_no_cartesian(self, spark, sf_dir):
        from columnar_database_project_spark.operators.dedup import (
            q_dedup_simhash_candidates,
        )
        from columnar_database_project_spark.plans.verify import formatted_plan

        plan = formatted_plan(q_dedup_simhash_candidates(spark, sf_dir))
        assert "CartesianProduct" not in plan   # banded buckets, not all-pairs


class TestRound5QueryPlans:
    """Plan shapes for the r5 TPC-H additions — the 100x questions:
    does the top-k avoid a global sort, does the correlated-subquery
    rewrite reuse the join key's shuffle, do part-side predicates
    prune before anything moves."""

    def test_q10_topk_is_take_ordered(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q10_returned_items,
        )
        from columnar_database_project_spark.plans.verify import formatted_plan

        df = q10_returned_items(spark, sf_dir)
        plan = formatted_plan(df)
        assert "TakeOrderedAndProject" in plan, plan
        # returnflag + date window both reach their scans
        pf = pushed_filters(df)
        assert any("l_returnflag" in f for f in pf), pf
        assert any("o_orderdate" in f for f in pf), pf

    def test_q17_correlated_avg_prunes_and_pushes(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q17_small_quantity_revenue,
        )

        df = q17_small_quantity_revenue(spark, sf_dir)
        pf = pushed_filters(df)
        assert any("p_brand" in f for f in pf), pf
        # lineitem scans carry only the columns the query touches
        assert all("l_tax" not in s for s in scan_read_schemas(df))

    def test_q12_single_join_shuffle(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q12_late_lines_by_priority,
        )

        df = q12_late_lines_by_priority(spark, sf_dir)
        # orderkey join + priority agg: bounded shuffle count (the
        # conditional agg adds no extra exchange)
        assert count_shuffles(df) <= 3
        assert all("l_extendedprice" not in s for s in scan_read_schemas(df))

    def test_q9_part_filter_pushed(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q9_product_profit,
        )

        df = q9_product_profit(spark, sf_dir)
        pf = pushed_filters(df)
        assert any("p_name" in f for f in pf), pf
        assert has_broadcast_join(df)

    def test_q2_window_min_reuses_partkey_exchange(self, spark, sf_dir):
        """The correlated-MIN rewrite must be a window over l_partkey
        (one exchange serves the min and the equality filter), not a
        groupBy + self-join (two extra exchanges of the same rows)."""
        from columnar_database_project_spark.operators.relational import (
            q2_min_cost_supplier,
        )

        df = q2_min_cost_supplier(spark, sf_dir)
        assert count_shuffles(df) <= 2
        assert has_broadcast_join(df)

    def test_q8_q15_q20_date_ranges_reach_scan(self, spark, sf_dir):
        """Date windows are written as bare-column ranges, never
        year()= — the predicate must appear in PushedFilters so row
        groups prune at scale."""
        from columnar_database_project_spark.operators.relational import (
            q8_national_market_share,
            q15_top_supplier,
            q20_potential_promotion,
        )

        for fn, col in (
            (q8_national_market_share, "o_orderdate"),
            (q15_top_supplier, "l_shipdate"),
            (q20_potential_promotion, "l_shipdate"),
        ):
            pf = pushed_filters(fn(spark, sf_dir))
            assert any(col in f and "GreaterThanOrEqual" in f for f in pf), (fn.__name__, pf)

    def test_q20_single_fact_shuffle(self, spark, sf_dir):
        """Part prune broadcasts into the fact scan; the only exchange
        of lineitem rows is the suppkey aggregate."""
        from columnar_database_project_spark.operators.relational import (
            q20_potential_promotion,
        )

        df = q20_potential_promotion(spark, sf_dir)
        assert count_shuffles(df) <= 1
        assert has_broadcast_join(df)

    def test_q21_exists_pair_is_one_order_aggregate(self, spark, sf_dir):
        """The EXISTS / NOT EXISTS pair must not plan as correlated
        self-joins of lineitem: one orderkey join + per-order agg
        (shuffle reused: same key), then a broadcast to supplier.
        Bounded exchanges prove the collapse happened."""
        from columnar_database_project_spark.operators.relational import (
            q21_waiting_supplier,
        )

        df = q21_waiting_supplier(spark, sf_dir)
        assert count_shuffles(df) <= 3
        assert has_broadcast_join(df)
        # lineitem probe carries only key/supp/date columns
        assert all("l_extendedprice" not in s for s in scan_read_schemas(df))


class TestRound5LatePlans:
    """Plan shapes for the boilerplate/vocab/centroid/incremental ops."""

    def test_boilerplate_topn_is_take_ordered(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_boilerplate_shingles,
        )

        df = q_text_boilerplate_shingles(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan  # no full sort of the shingle table

    def test_vocab_coverage_windows_only_after_topn_cut(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_vocab_coverage,
        )

        df = q_text_vocab_coverage(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the top-N cut is a TakeOrdered, so the single-partition window
        # downstream only ever sees VOCAB_TOP_N rows
        assert "TakeOrderedAndProject" in plan
        assert plan.index("Window") < plan.index("TakeOrderedAndProject")

    def test_centroids_partial_agg_before_shuffle(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            q_emb_label_centroids,
        )

        df = q_emb_label_centroids(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_avg" in plan  # shuffle carries labels x dim, not rows
        assert count_shuffles(df) <= 1

    def test_incremental_dedup_has_no_pairwise_join(self, spark, sf_dir):
        from columnar_database_project_spark.operators.dedup import (
            q_dedup_incremental,
        )

        df = q_dedup_incremental(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the only nested-loop allowed is the 1-row split-threshold
        # broadcast; all batch-vs-history matching is equi-join
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
            "BroadcastHashJoin" in plan
        )

    def test_corpus_build_single_md5_shuffle(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_corpus_build,
        )

        df = q_text_corpus_build(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        # dedup keep-first + final rollup: the scan-side flag math is
        # shuffle-free, so the whole composed pipeline needs <= 3
        # exchanges (md5 group, split/source rollup, AQE reads)
        assert count_shuffles(df) <= 3, count_shuffles(df)

    def test_quantize_stats_partial_agg_bounded_shuffles(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            q_emb_quantize_stats,
        )

        df = q_emb_quantize_stats(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial" in plan  # map-side combine on the dim key
        assert "BroadcastExchange" in plan  # bounds join is a broadcast
        assert count_shuffles(df) <= 2, count_shuffles(df)

    def test_approx_percentile_single_pass(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q_approx_percentile,
        )

        df = q_approx_percentile(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # mergeable sketch: partial aggregation feeds one final merge
        assert "partial_percentile_approx" in plan
        assert count_shuffles(df) <= 1


class TestRound6LatePlans:
    """Plan shapes for the late-round-6 operator additions."""

    def test_correlation_single_pass_no_data_shuffle(self, spark, sf_dir):
        from columnar_database_project_spark.operators.relational import (
            q_stats_correlation,
        )

        df = q_stats_correlation(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # all six corr aggregates computed in ONE pass over the scan:
        # map-side partial moments, a 1-row reduce, zero joins
        assert "partial_corr" in plan
        assert "Join" not in plan
        assert count_shuffles(df) <= 1, count_shuffles(df)

    def test_zipf_regression_after_topn_cut(self, spark, sf_dir):
        from columnar_database_project_spark.operators.text import (
            q_text_zipf_slope,
        )

        df = q_text_zipf_slope(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the term-count top-N is a TakeOrdered (never a full sort of
        # the vocabulary); rank window + regression run after the cut
        assert "TakeOrderedAndProject" in plan
        assert plan.index("Window") < plan.index("TakeOrderedAndProject")
        assert "regr_slope" in plan or "partial_regr_slope" in plan

    def test_gapfill_prunes_scan_and_bounds_shuffles(self, spark, sf_dir):
        from columnar_database_project_spark.operators.events import (
            q_events_gapfill,
        )

        df = q_events_gapfill(spark, sf_dir)
        # column pruning: the scan reads only (event_type, ts, value)
        schemas = scan_read_schemas(df)
        assert schemas and all(
            "user_id" not in s and "props" not in s for s in schemas
        ), schemas
        # hourly partial agg, bounds agg, spine-join, LOCF window:
        # every shuffle is on (type[, hour]) keys, none on raw rows
        assert count_shuffles(df) <= 4, count_shuffles(df)

    def test_containment_reuses_jaccard_inverted_index_shape(self, spark, sf_dir):
        from columnar_database_project_spark.operators.dedup import (
            q_dedup_containment,
        )

        df = q_dedup_containment(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # inverted-index equi-join on the shingle key — never a
        # cartesian/broadcast-nested-loop all-pairs comparison
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_knn_graph_single_blocking_shuffle(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            q_sim_knn_graph,
        )

        df = q_sim_knn_graph(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one hash-partition shuffle on the blocking key feeds the
        # in-group kernel; the n x n similarity matrix never appears
        # in the plan (only n x k edges leave the executor)
        assert "FlatMapGroupsInPandas" in plan
        assert count_shuffles(df) == 1, count_shuffles(df)
        assert "CartesianProduct" not in plan

    def test_centroid_outliers_broadcasts_bounded_sides(self, spark, sf_dir):
        from columnar_database_project_spark.operators.similarity import (
            q_emb_centroid_outliers,
        )

        df = q_emb_centroid_outliers(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # centroid + stats tables join as broadcasts (label-space
        # bounded); the shuffles are the label/dim and per-vector
        # partial aggregations, never a row x row join exchange
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # dist is checkpointed, so the explode+distance subtree is
        # planned ONCE; the only remaining shuffle is the per-label
        # stats aggregation over the vector-count-sized dist table
        assert count_shuffles(df) <= 2, count_shuffles(df)


class TestRrfBoundedWindow:
    def test_dense_window_input_bounded(self, spark, sf_dir):
        """The hybrid-RRF dense ranking window is GLOBAL (no
        partitionBy) — safe only because its input is the kernel's
        per-partition top-RRF_CAND. Assert the bound empirically so a
        refactor that drops the kernel cut (turning the window into a
        single-task global sort over the corpus) fails here."""
        from columnar_database_project_spark.operators.selection import (
            RRF_CAND,
            _rrf_dense_candidates,
        )

        cand = _rrf_dense_candidates(spark, sf_dir)
        n_parts = cand.rdd.getNumPartitions()
        assert cand.count() <= RRF_CAND * max(1, n_parts)

    def test_window_sits_above_kernel_cut(self, spark, sf_dir):
        """Plan shape: the ranking Window must be DOWNSTREAM of the
        MapInPandas kernel (which holds the top-RRF_CAND cut), never
        between the scan and the kernel."""
        from columnar_database_project_spark.operators.selection import (
            q_hybrid_rrf_topk,
        )

        df = q_hybrid_rrf_topk(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan
        assert plan.index("Window") < plan.index("MapInPandas")


class TestOrcPushdown:
    def test_orc_scan_gets_pushed_filters_and_pruned_schema(
        self, spark, sf_dir, tmp_path_factory
    ):
        """The ORC backend must keep the two scan properties the
        parquet path is audited for: predicate pushdown into the scan
        (Spark's native orc.filterPushdown — stripe/row-group stats do
        the pruning the MicroBlockIndex zone maps do for parquet) and
        column pruning (ReadSchema carries only the projection)."""
        from pyspark.sql import functions as F

        from columnar_database_project_spark.catalog import load_table
        from columnar_database_project_spark.sources.microblock import (
            MicroBlockWriter,
        )

        d = str(tmp_path_factory.mktemp("orc_pd") / "li.orc")
        MicroBlockWriter(block_rows=5000, format="orc").write(
            load_table(spark, sf_dir, "lineitem"), d
        )
        df = (
            spark.read.orc(d)
            .filter(F.col("l_quantity") > 45)
            .select("l_orderkey", "l_quantity")
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
        read_schema = plan[plan.index("ReadSchema:"):].splitlines()[0]
        assert "l_orderkey" in read_schema and "l_quantity" in read_schema
        assert "l_comment" not in read_schema  # projection pruned the scan
