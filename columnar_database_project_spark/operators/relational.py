"""Relational operator surface — reference parity plus the full Spark set.

The reference delegates all relational execution to DuckDB over a
single registered table (reference query_enginev5.py:300-305); its
*exercised* surface is projection + WHERE (BETWEEN / comparison /
IN / AND / OR, reference query_enginev5.py:99-230) + count/avg + LIMIT
(reference README.md:71-73, benchmark.py:243). We re-express each of
those natively, then extend to the full single- and multi-table SQL
surface the reference's shell would accept (GROUP BY, HAVING,
DISTINCT, joins of every flavor, windows, set ops, rollup/cube,
subqueries, CTEs, pivot) — all pure DataFrame API so Catalyst handles
pushdown, pruning, join selection, and whole-stage codegen.

Scale notes (100 TB design stance):
- Filters are expressed on base columns so they reach the Parquet scan
  (PushedFilters) — the Spark-native form of the reference's zone-map
  block pruning.
- Dimension joins (region/nation/customer/supplier) are explicitly
  ``F.broadcast`` — no shuffle of the fact table for small dims.
- Aggregations use map-side partial aggregation automatically; all
  group keys here are low-skew.
- Top-k uses ``orderBy().limit(k)`` which Spark executes as
  TakeOrderedAndProject — no full sort at scale.

Float outputs are rounded (4 decimals) in BOTH the Spark query and the
DuckDB oracle so cross-engine float summation-order noise never flips
the value hash.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table


# --------------------------------------------------------------------------
# Predicate surface (reference §2.2, query_enginev5.py:99-230)
# --------------------------------------------------------------------------

def q_filter_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 BETWEEN — transliteration of the reference's canonical
    benchmark query ``select * where column1 between 18 and 24``
    (reference benchmark.py:243)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(18, 24)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


def q_filter_comparisons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P7-P10 =, >, >=, <, <= combined with P1 AND."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") > 30)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_tax") < 0.07)
            & (F.col("l_linestatus") == "F")
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
    )


def q_filter_or_neq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 OR + P6 != (reference never prunes on != — Spark does when
    min==max; semantics identical, strictly better pruning)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag") != "N") | (F.col("l_quantity") < 3)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


def q_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 IN (literal list) — pushed to Parquet natively."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber").isin(1, 3, 5)).filter(
        F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_linenumber", "l_returnflag")


def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested (A AND B) OR (C AND D) — the three-valued may-match tree
    the reference walks (query_enginev5.py:108-119); Catalyst folds it."""
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (F.col("l_quantity").between(5, 10) & (F.col("l_returnflag") == "R"))
        | ((F.col("l_discount") > 0.08) & F.col("l_linenumber").isin(2, 4))
    )
    return li.filter(cond).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_discount"
    )


def q_filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL / IS NOT NULL + null-safe equality. The reference captures
    null_count but never prunes on it (microblock_index.py:141-147);
    Spark pushes IsNull/IsNotNull to Parquet."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "v", F.when(F.col("value") > 150, F.col("value")).otherwise(F.lit(None))
        )
        .filter(F.col("v").isNotNull() & F.col("event_type").isNotNull())
        .select("event_id", F.round("v", 4).alias("v"))
    )


# --------------------------------------------------------------------------
# Aggregation surface
# --------------------------------------------------------------------------

def q_agg_count_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global count(*) + avg — the reference's documented aggregates
    (reference README.md:71-73)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity").between(18, 24)).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.min("l_discount"), 4).alias("min_disc"),
        F.round(F.max("l_tax"), 4).alias("max_tax"),
    )


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape — the flagship groupBy/agg. Map-side partial agg
    + 6-group output: shuffle is trivially small at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(charge), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — pure scan+filter+agg; every predicate reaches
    the Parquet scan (PushedFilters), zero shuffle beyond final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))
    )


def q_groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (reachable-but-unexercised in the reference;
    SURVEY §2.3)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
        .filter(F.col("n_items") > 50)
    )


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — shuffle on the distinct keys only (column-pruned scan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — Catalyst expands to a two-stage agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — hierarchical subtotals."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE — all grouping-set combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("sum_price"))
    )


def q_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN bucketing + conditional aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .otherwise("large")
    )
    return (
        li.withColumn("qty_bucket", bucket)
        .groupBy("qty_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(
                F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_extendedprice")).otherwise(0.0)),
                4,
            ).alias("returned_price"),
        )
    )


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus → columns (oracle expresses it as conditional
    aggregation — same semantics)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


# --------------------------------------------------------------------------
# Sort / limit
# --------------------------------------------------------------------------

# Engage the driver-side top-k threshold pre-filter only past this
# input size: the fixed cost (one row-group footer+column read, a few
# ms, plus the pushed-filter plan delta) measured as a net LOSS below
# ~1 MB inputs (sf0.01: 0.064→0.100 s) and a win from ~10 MB up
# (sf0.1 +7%, sf2.5 +11%, r13 A/B; the term attribution came from a
# retired probe, git a8cd591).
_TOPK_PREFILTER_MIN_BYTES = 8 * 1024 * 1024


def _topk_price_floor(sf_dir: str, k: int = 10) -> float | None:
    """Driver-side lower bound for the global k-th largest
    l_extendedprice: the k-th largest within ANY >=k-row subset of the
    data. Read one parquet row group's price column via pyarrow (the
    r11 literalized-dims pattern — a bounded driver read producing a
    plan PARAMETER, never a result).

    Exactness proof: every row of the true top-k under
    (price DESC, okey, lineno) has price >= the k-th largest price of
    the subset — otherwise the >=k subset rows with price >= thr would
    all sort strictly before it (price is the primary key of the
    ordering), contradicting membership. So filtering price >= thr
    before TakeOrderedAndProject preserves the exact result while the
    heap and its row-at-a-time ColumnarToRow materialization see ~k
    rows instead of every row — the scan stays fully vectorized and
    the predicate reaches the parquet reader as a pushed literal.
    Returns None (plain plan) for ORC-only dirs, directory datasets,
    sub-threshold inputs, or any read problem."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    try:
        if (
            not os.path.isfile(path)
            or os.path.getsize(path) < _TOPK_PREFILTER_MIN_BYTES
        ):
            return None
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        if pf.num_row_groups < 1:
            return None
        col = pf.read_row_group(0, columns=["l_extendedprice"]).column(0)
        arr = col.drop_null().to_numpy()
        if len(arr) < k:
            return None
        import numpy as np

        return float(np.partition(arr, -k)[-k])
    except Exception:  # pragma: no cover - defensive (corrupt footer…)
        return None


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k — executes as TakeOrderedAndProject (no
    global sort materialization). Unique (orderkey, linenumber)
    tiebreaker keeps the result deterministic for the oracle.

    r13: TakeOrderedAndProject is the one operator in this path that
    runs row-at-a-time (per-row heap over a ColumnarToRow feed) — at
    sf2.5 it was ~0.2 s of the 0.25 s wall while the equivalent
    vectorized scan term is ~0.03 s (a retired probe, git a8cd591). A
    driver-side price floor (provably exact, see _topk_price_floor)
    turns it into a pushed vectorized filter + a ~10-row heap."""
    li = load_table(spark, sf_dir, "lineitem")
    thr = _topk_price_floor(sf_dir)
    if thr is not None:
        li = li.filter(F.col("l_extendedprice") >= F.lit(thr))
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (used internally by reference v2's row-group scan,
    query_enginev2.py:173)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 3).select("l_orderkey", "l_linenumber")
    b = li.filter(F.col("l_quantity") > 48).select("l_orderkey", "l_linenumber")
    return a.unionAll(b)


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT + EXCEPT over nation keys of customers vs suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = cust.intersect(supp).withColumn("side", F.lit("both"))
    cust_only = cust.subtract(supp).withColumn("side", F.lit("cust_only"))
    return both.unionByName(cust_only)


# --------------------------------------------------------------------------
# Joins (unreachable in the reference beyond self-joins — SURVEY §2.3;
# first-class here)
# --------------------------------------------------------------------------

def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dims: revenue per nation. nation is fixed-size (25 rows
    at every SF) → explicit broadcast; customer scales with SF, so its
    join strategy is left to the size-gated planner/AQE (broadcast at
    small SF, shuffle at a scale where it no longer fits)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, group, top-10. Customer scales with
    SF → no forced broadcast (AQE size-gates the strategy at runtime).

    Both non-fact joins are LEFT SEMI: the output is only
    (l_orderkey, revenue) — lineitem-side columns — and o_orderkey /
    c_custkey are unique keys, so the customer and orders sides are
    pure filters. orders semi-reduces through the segment-filtered
    customer first (the textbook dims-reduce-facts-first Q3 plan,
    ~5× fewer qualifying orders at sf2.5), then lineitem semi-joins
    the surviving o_orderkey column ALONE — the fact-join build side
    carries one bigint instead of the orders row, and Spark needs no
    duplicate handling on the probe.

    This replaced r7's size-keyed inner-join order switch: the semi
    form beats BOTH prior branches at every measured point (best-of-3
    warmed, parity-checked — PLANS.md §Round-7):

        variant        sf0.01    sf0.1    sf0.5    sf2.5
        prior best     0.557 s  0.650 s  1.147 s  1.288 s
        semi-reduce    0.485 s  0.541 s  0.935 s  1.161 s

    One plan for all regimes — no size branch to maintain."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    keys = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_semi"
    ).select("o_orderkey")
    return (
        li.join(keys, li.l_orderkey == keys.o_orderkey, "left_semi")
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


_REGION_NATION_CACHE: dict = {}


def _region_nation_keys(
    sf_dir: str, region_name: str
) -> tuple[list[int], dict[int, str]]:
    """Nation keys + names for one region, read driver-side with
    pyarrow (freshness-cached). nation/region are FIXED-cardinality
    (25/5 rows at every SF): inlining them as literals removes two
    broadcast-build stage barriers from every consumer — the q5 floor
    decomposition (r11, a retired probe, git a8cd591) measured each
    such barrier at ~0.2 s on a
    15M-row query whose entire data term is 0.3 s. Same pattern as
    similarity._query_vectors: a fixed-size plan PARAMETER, not a
    scanned table."""
    from columnar_database_project_spark.catalog import file_freshness

    def dim_path(name: str) -> str:
        # Probe parquet then orc, as load_table does: an ORC-only
        # table dir is a supported layout (load_table's .orc branch,
        # round-7 ORC twins) and must not raise here (ADVICE r11).
        for ext in ("parquet", "orc"):
            p = os.path.join(sf_dir, f"{name}.{ext}")
            if os.path.exists(p):
                return os.path.realpath(p)
        return os.path.realpath(os.path.join(sf_dir, f"{name}.parquet"))

    def read_cols(path: str, columns: list[str]) -> dict:
        if path.endswith(".orc"):
            import pyarrow.dataset as ds

            return (
                ds.dataset(path, format="orc")
                .to_table(columns=columns)
                .to_pydict()
            )
        import pyarrow.parquet as pq

        return pq.read_table(path, columns=columns).to_pydict()

    npath = dim_path("nation")
    rpath = dim_path("region")
    key = (
        npath,
        rpath,
        region_name,
        file_freshness(npath),
        file_freshness(rpath),
    )
    hit = _REGION_NATION_CACHE.get(key)
    if hit is not None:
        return hit
    region = read_cols(rpath, ["r_regionkey", "r_name"])
    rkeys = {
        k
        for k, n in zip(region["r_regionkey"], region["r_name"])
        if n == region_name
    }
    nation = read_cols(npath, ["n_nationkey", "n_name", "n_regionkey"])
    keys = [
        int(k)
        for k, r in zip(nation["n_nationkey"], nation["n_regionkey"])
        if r in rkeys
    ]
    names = {
        int(k): n
        for k, n, r in zip(
            nation["n_nationkey"], nation["n_name"], nation["n_regionkey"]
        )
        if r in rkeys
    }
    if len(_REGION_NATION_CACHE) > 16:
        _REGION_NATION_CACHE.clear()
    _REGION_NATION_CACHE[key] = (keys, names)
    return keys, names


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join through region→nation→(customer,
    supplier)→orders→lineitem with the local-supplier condition.

    Hybrid plan (r9 final, one plan for all regimes — the q3 r7
    resolution repeated): classic fact-chain join order
    (li→orders→customer→supplier, fewest dependent stage barriers)
    with every join side pre-projected to key columns and the ASIA
    filter pushed into customer/supplier via broadcast (semi) joins
    against the 25-row-bounded nation frame — map-side, no extra
    stage. The r9-interim semi-reduce shape (orders pre-joined to a
    slim custkey→nationkey build) won at sf2.5 over the pre-r9
    full-width shape (1.38 vs 1.61 s) but its ~8 dependent AQE stages
    pay job-launch latency that dominates at latency scale (0.93 vs
    0.46 s @ sf0.1, dragging the headline gate to 2.0×). A/B of all
    three (a probe of the retired harness, git a8cd591, best-of-5
    warmed, parity-checked): hybrid 0.505 s @ sf0.1 / 0.927 s @ sf2.5
    — at or under both predecessors at BOTH scales, and without the
    pre-r9 shape's cold-cache instability (full-width rows through two
    exchanges: 8.3 s first takes at sf2.5). Only the fixed-cardinality
    nation frame is hint-broadcast; customer/supplier/orders stay
    size-gated (AQE broadcasts them at small scale, keyed shuffle at
    100 TB)."""
    # Literalized fixed dims (r11): region⋈nation collapses to 5
    # nation keys + a 5-entry key→name map, read driver-side (pyarrow,
    # freshness-cached). The ASIA predicate becomes an `isin` PUSHED
    # INTO the customer/supplier/leg scans and the n_name lookup a
    # map literal — two broadcast-build stage barriers (~0.2 s each at
    # sf2.5, vs a 0.3 s total data term) disappear from every regime.
    keys, names = _region_nation_keys(sf_dir, "ASIA")
    name_map = F.create_map(
        *[F.lit(x) for k in sorted(keys) for x in (k, names[k])]
    )
    supp_slim = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .filter(F.col("s_nationkey").isin(keys))
        .withColumn("n_name", name_map[F.col("s_nationkey")])
    )
    cust_slim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .filter(F.col("c_nationkey").isin(keys))
    )
    orders_slim = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    return (
        li.join(orders_slim, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_slim, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp_slim,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum("rev"), 4).alias("revenue"))
    )


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS): customers having at least one urgent order."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI (NOT EXISTS): customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 4).alias("spend"),
        )
    )


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — per-nation customer vs supplier presence with
    null-preserving sides (a nation can carry customers, suppliers,
    both, or neither side's rows after the segment filters). Both
    inputs are pre-aggregated to one row per key before the join, so
    the full-outer shuffle carries nation-cardinality rows only."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000.0)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return cust.join(supp, "nationkey", "full_outer").select(
        "nationkey", "n_customers", "n_suppliers"
    )


def q_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join — the one multi-relation shape the reference could
    actually express (single registered table, SURVEY §2.3): pairs of
    lineitems of the same order with different suppliers (counted)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .groupBy(F.col("a.l_orderkey").alias("l_orderkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per partition — top-2 orders per customer. At scale
    this is a single shuffle on o_custkey; no driver involvement."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"), "rn")
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum + lag delta per customer over order time."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 4).alias(
            "running_spend"
        ),
        F.round(
            F.col("o_totalprice") - F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)),
            4,
        ).alias("delta_prev"),
    )


def q_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global revenue via an
    unpartitioned window over a pre-aggregated (tiny) frame."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    return per_nation.select(
        "c_nationkey",
        F.round("rev", 4).alias("rev"),
        F.round(F.col("rev") / F.sum("rev").over(W.partitionBy()), 6).alias("rev_share"),
    )


# --------------------------------------------------------------------------
# Scalar functions, subqueries, CTE
# --------------------------------------------------------------------------

def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: LIKE, upper/lower, substring, length, concat,
    trim, replace — all JVM-side codegen'd."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").like("%ge%"))
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            F.length("p_name").alias("name_len"),
            F.substring("p_type", 1, 5).alias("type_head"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
            F.regexp_replace(F.col("p_name"), "[aeiou]", "").alias("consonants"),
        )
    )


def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface: abs/ceil/floor/sqrt/ln/pow/mod rounded for
    cross-engine stability."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor(F.col("l_extendedprice") / 100.0).alias("price_h"),
        F.round(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1.0), 4).alias("price_ln"),
        F.round(F.pow(F.col("l_discount") + 1.0, 2), 4).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("ok_mod7"),
    )


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: year/month/day extraction, truncation, group."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price (scalar subquery shape —
    expressed as a cross-join against the 1-row aggregate, which is
    exactly what Catalyst rewrites a scalar subquery into)."""
    orders = load_table(spark, sf_dir, "orders")
    avg_df = orders.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("avg_price") * 1.5)
        .select("o_orderkey", F.round("o_totalprice", 4).alias("o_totalprice"))
    )


def q_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery shape (semi-join): lineitems of urgent orders."""
    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    return li.join(
        urgent, li.l_orderkey == urgent.o_orderkey, "left_semi"
    ).groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))


def q_cte_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE shape (TPC-H Q15-like): revenue per supplier CTE, then max."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    )
    max_rev = revenue.agg(F.max("total_rev").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .select("l_suppkey", F.round("total_rev", 4).alias("total_rev"))
    )


def q_sampled_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sampling: a stable md5-based 10% sample of
    orders, aggregated. Unlike TABLESAMPLE (engine-specific RNG), the
    hash-mod filter selects the SAME rows on every engine — the
    reproducible-sampling pattern for 100 TB pipeline debugging."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("long") % 10
    return (
        orders.filter(bucket == 0)
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts, in the
    driver-checkable form (VERDICT r7 #4): the raw HLL estimate is not
    cross-engine reproducible (Spark HLL++ vs DuckDB's sketch differ
    by design), so the query returns the DETERMINISTIC projection of
    it — the exact distinct counts plus the estimate's relative-error
    band (``floor(|approx-exact| * 20 / exact)``, 0 ⇔ within 5%). The
    bands are stable (HLL++ is deterministic for fixed data/rsd and
    lands well inside 5% at rsd=0.01), so the oracle pins BOTH the
    exact counts (hash) and the sketch's accuracy contract (band = 0)
    every round, not just in a pytest. At 100 TB the sketch is the
    operator and the exact side is this gate query's harness; the 1%
    tolerance pytest (tests/test_round5.py) keeps the tighter bound."""
    li = load_table(spark, sf_dir, "lineitem")

    def band(approx: str, exact: str):
        return F.floor(
            F.abs(F.col(approx) - F.col(exact)) * 20 / F.col(exact)
        ).cast("long")

    return (
        li.agg(
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("a_parts"),
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("a_orders"),
        )
        .select(
            "exact_parts",
            "exact_orders",
            band("a_parts", "exact_parts").alias("parts_err_band"),
            band("a_orders", "exact_orders").alias("orders_err_band"),
        )
    )


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the Greenwald-Khanna sketch, in the
    driver-checkable form (VERDICT r7 #4): the GK summary value is not
    cross-engine reproducible (DuckDB uses t-digest), so the query
    returns the exact interpolated percentiles (Spark ``percentile``
    ≡ DuckDB ``quantile_cont``, hash-checked) plus the sketch's
    relative-error band per statistic (``floor(|approx-exact| * 20 /
    exact)``, 0 ⇔ within 5% — generous vs the sketch's actual
    accuracy at 10k buckets; the 1% pytest keeps the tight bound).
    At 100 TB the sketch is the operator (mergeable per-partition
    summaries, one tiny final merge) and the exact side is the gate
    harness."""
    li = load_table(spark, sf_dir, "lineitem")
    fr = F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))

    def band(approx, exact):
        return F.floor(F.abs(approx - exact) * 20 / exact).cast("long")

    agg = li.agg(
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000).alias(
            "a_price"
        ),
        F.percentile_approx("l_quantity", 0.5, 10000).alias("a_qty"),
        F.percentile("l_extendedprice", fr).alias("e_price"),
        F.percentile("l_quantity", F.lit(0.5)).alias("e_qty"),
    )
    cols = [
        F.round(F.element_at("e_price", i + 1), 4).alias(f"price_p{p}")
        for i, p in enumerate((50, 95, 99))
    ] + [F.round("e_qty", 4).alias("qty_median")]
    bands = [
        band(
            F.element_at("a_price", i + 1), F.element_at("e_price", i + 1)
        ).alias(f"band_p{p}")
        for i, p in enumerate((50, 95, 99))
    ] + [band(F.col("a_qty"), F.col("e_qty")).alias("band_qty")]
    return agg.select(*cols, *bands)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer than rollup/cube): totals by
    returnflag and separately by linestatus in one pass — the native
    DataFrame groupingSets API (Spark 4)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide per-flag sums back to long (metric, value)
    rows — the inverse of pivot, via the native unpivot operator."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 4).alias("qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("price"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price"],
        variableColumnName="metric",
        valueColumnName="val",
    )


def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation + array functions: per nation the sorted list
    of supplier names, its size, and first element — arrays rendered
    to strings so the oracle hash is layout-independent."""
    supp = load_table(spark, sf_dir, "supplier")
    arr = F.array_sort(F.collect_list("s_name"))
    return (
        supp.groupBy("s_nationkey")
        .agg(
            F.array_join(arr, "|").alias("suppliers"),
            F.size(arr).alias("n_suppliers"),
            F.element_at(arr, 1).alias("first_supplier"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS expressed as a left-semi join
    with a non-equi residual (l_shipdate > o_orderdate). The semi join
    shuffles both sides on orderkey once and never materializes the
    lineitem payload — at 100 TB the probe side is key+date columns
    only (column pruning reaches the scan)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram via LEFT OUTER
    join (customers with zero orders count at c_count=0). Two
    aggregations: the first shuffles on custkey (same key as the join,
    so AQE coalesces into one exchange), the second is over the tiny
    histogram domain."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


Q18_MIN_QTY = 300.0


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-quantity orders (HAVING sum(l_quantity)
    ≥ 300) joined back to orders + customer. The heavy aggregate runs
    first and its output is tiny → both enrichment joins broadcast the
    aggregated side, so the fact tables never co-shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") >= Q18_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "total_qty")
    )


def q_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per group: Pearson correlation, sample
    covariance, sample stddev/variance — all single-pass partial-agg
    (map-side moments, one reduce), so they scale like a plain sum.
    Rounded because cross-engine summation order differs at ~1e-12."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "covar_qty_disc"
        ),
        F.round(F.stddev_samp("l_quantity"), 6).alias("stddev_qty"),
        F.round(F.var_samp("l_discount"), 8).alias("var_disc"),
    )


PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_stats_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile — the statistics pass a catalog
    runs before cost-based planning, and the data-quality audit a
    pipeline runs on every new drop: per numeric column of lineitem,
    row/null/distinct counts, min/max, mean. ONE single-pass
    aggregation over the scan computes every column's moments
    simultaneously (map-side partials; no shuffle of data rows, one
    1×N reduce), then the wide row is unpivoted to the classic
    (column, metric...) catalog shape — stack() is driver-free and
    the unpivot input is ONE row."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.round(F.min(c).cast("double"), 6).alias(f"{c}__min"),
            F.round(F.max(c).cast("double"), 6).alias(f"{c}__max"),
            F.round(F.avg(c), 6).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct, {c}__min, {c}__max, {c}__mean"
        for c in PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
        "(column, n_rows, n_nulls, n_distinct, min_v, max_v, mean_v)"
    )


CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
CORR_PAIRS = tuple(
    (a, b) for i, a in enumerate(CORR_COLS) for b in CORR_COLS[i + 1 :]
)


def q_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns — the feature-redundancy scan an ANALYZE pass or a
    feature-selection step runs before training. Like
    [[stats_table_profile]], ONE single-pass aggregation computes
    every pair's ``corr`` simultaneously (map-side partial moments,
    1-row reduce, no data-row shuffle); the wide row is then
    unpivoted with ``stack()`` into the (col_x, col_y, r) matrix
    shape. Column-count-squared aggregates, row-count-independent
    memory — the 100 TB shape."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"{a}__{b}") for a, b in CORR_PAIRS
    ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(f"'{a}', '{b}', {a}__{b}" for a, b in CORR_PAIRS)
    return wide.selectExpr(
        f"stack({len(CORR_PAIRS)}, {stack_args}) AS (col_x, col_y, pearson_r)"
    )


Q7_NATIONS = ("NATION_1", "NATION_2")


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair, by
    (supplier nation, customer nation, ship year), both directions.
    Supplier/customer/nation are broadcast dims; the lineitem⇄orders
    fact join shuffles once on orderkey; the pair predicate prunes
    before the aggregate."""
    n1, n2 = Q7_NATIONS
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(n1, n2)
    )
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


Q22_BIG_ORDER = 300_000.0


def q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers (balance above the
    positive-balance average — scalar subquery) with no high-value
    order (NOT EXISTS — anti join; every testdata customer has SOME
    order, so the exists-predicate carries a price condition to keep
    the anti join non-degenerate), grouped by a derived country code.
    The 1-row average broadcasts; the anti join's build side is the
    filtered custkey projection of orders."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > Q22_BIG_ORDER)
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 5).cast("int").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share for one ship month —
    conditional aggregation over a broadcast part join; the month
    filter reaches the lineitem scan, part never shuffles."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a disjunction of (brand, size,
    quantity) brackets. The OR-of-ANDs splits per side: the part-only
    conjuncts prune the broadcast build side and the lineitem-only
    bounds (quantity ∈ [1,40] across brackets) are pushed to the fact
    scan; the residual disjunction evaluates post-join in codegen."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    b1 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    b2 = (
        (F.col("p_brand") == "Brand#17")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 40)
    )
    return (
        li.filter(F.col("l_quantity").between(1, 40))
        .join(part, li.l_partkey == part.p_partkey)
        .filter(b1 | b2)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer in
    one quarter, top 20. The returnflag + date filters prune BOTH fact
    scans before the orderkey shuffle join; customer joins on the
    post-aggregation side at customer-key granularity and nation
    broadcasts. TakeOrderedAndProject caps the result."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    return (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal"), 4).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q12_LATE_DAYS = 60


def q12_late_lines_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: testdata has no l_shipmode /
    l_commitdate, so the lateness predicate is ship-lag > 60 days and
    the group key is o_orderpriority): per priority, late vs total
    line counts and the mean ship lag. Conditional aggregation after
    one orderkey-shuffle join; the CASE evaluates in codegen, so the
    late/total split costs one pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.when(lag > Q12_LATE_DAYS, 1).otherwise(0)
            ).alias("late_lines"),
            F.count(F.lit(1)).alias("total_lines"),
            F.round(F.avg(lag), 4).alias("avg_ship_lag_days"),
        )
    )


def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: no partsupp table in testdata, so
    lineitem is the part⇄supplier bridge): distinct-supplier counts
    per (brand, type) for parts outside an excluded brand/size set.
    The part-side predicates prune the build side before the join;
    count(DISTINCT) runs as the standard two-stage expand+agg on the
    (brand, type, suppkey) key — no driver involvement."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q17_BRAND = "Brand#7"


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue from orders of less
    than 20% of a part's mean order quantity — the correlated scalar
    subquery (avg per partkey) becomes a pre-aggregation on the SAME
    key as the main join, so Catalyst plans one shuffle that serves
    both the aggregate and the join; the brand filter prunes the part
    side before anything moves."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == Q17_BRAND
    ).select("p_partkey")
    cut = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(cut, li.l_partkey == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly")
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp.ps_supplycost in testdata,
    so cost is proxied at 60% of p_retailprice): profit by supplier
    nation and ship year for a part-name family. Part (filtered) and
    nation broadcast under AQE size gating; lineitem joins supplier on
    suppkey after the part prune so the fact side shrinks first."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


Q2_REGION = "EUROPE"


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp, so per-(part, supplier)
    unit cost is min(l_extendedprice / l_quantity) observed in
    lineitem): for LARGE parts, the European supplier(s) achieving the
    per-part minimum cost. The correlated MIN subquery becomes a
    groupBy on the SAME key as the re-join, so Catalyst reuses one
    shuffle; supplier⋈nation⋈region is a broadcast chain (dims only).
    min() is a selection, not arithmetic, so the float equality join
    against the oracle is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q2_REGION
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "LARGE"
    ).select("p_partkey", "p_name")
    qualified = (
        cost.join(supp, cost.l_suppkey == supp.s_suppkey)
        .join(part, cost.l_partkey == part.p_partkey)
    )
    # window-min over the part key instead of a groupBy + self-join:
    # one exchange on l_partkey serves the min AND the filter, and
    # min() is a selection so the float equality is exact either way
    best_w = W.partitionBy("l_partkey")
    return (
        qualified.withColumn("best_cost", F.min("unit_cost").over(best_w))
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("p_name").alias("part_name"),
            "s_name",
            "n_name",
            F.round("s_acctbal", 4).alias("s_acctbal"),
            F.round("unit_cost", 4).alias("unit_cost"),
        )
    )


Q8_MARKET_REGION = "AMERICA"
Q8_SHARE_NATION = "NATION_21"


def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of revenue in a
    region's market, by order year. Customer side restricts the market
    (nation⋈region broadcast chain), supplier side labels each line's
    origin nation; the share is a conditional-sum / sum over one
    groupBy(year) — a single fact shuffle after both dim broadcasts."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q8_MARKET_REGION
    )
    mkt_cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    # range form, not year()= : a predicate on the bare column reaches
    # the parquet scan (PushedFilters) and prunes row groups at 100 TB
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(mkt_cust, orders.o_custkey == mkt_cust.c_custkey)
        .join(supp_nation, li.l_suppkey == supp_nation.s_suppkey)
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == Q8_SHARE_NATION, F.col("volume")).otherwise(0.0)
                )
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
    )


Q11_MEAN_MULTIPLE = 1.5


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp, value per part is the
    summed extended price shipped by ASIA-region suppliers): parts
    whose value exceeds 1.5× the mean per-part value — TPC-H scales
    its fraction by 1/SF for the same reason; a mean-relative cut is
    scale-stable at any SF. The HAVING-vs-global-total scalar subquery
    becomes a 1-row broadcast cross join against the per-part
    aggregate — the fact table is scanned once, the threshold derives
    from the SAME aggregate, never a second scan."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    per_part = (
        li.join(asia_supp, li.l_suppkey == asia_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("part_value"))
    )
    total = per_part.agg(
        (F.avg("part_value") * Q11_MEAN_MULTIPLE).alias("threshold")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round("part_value", 4).alias("part_value"),
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over one
    quarter. The CREATE VIEW + scalar MAX of the original becomes a
    per-supplier aggregate re-joined against its own 1-row max via a
    broadcast — one fact scan, one shuffle, no window over the whole
    table. max() is a selection so the float equality is exact."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        # supplier scales with SF → no forced hint on it; after the
        # 1-row max filter the rev side is ~1 row, so AQE broadcasts
        # THAT side at any scale (DEPLOY.md broadcast policy)
        rev.join(F.broadcast(top), rev.total_revenue == F.col("max_revenue"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_revenue", 4).alias("total_revenue"),
        )
    )


Q20_MIN_QTY = 300


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: availqty has no testdata analog, so
    the threshold is on shipped widget quantity in 1996): suppliers
    who moved more than Q20_MIN_QTY units of widget-family parts. The
    nested IN-subquery chain of the original is a part-prune join
    into one fact aggregate, then a semi-join-shaped inner join back
    to supplier — the fact table never shuffles more than once."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    qty = (
        # the widget-family subset is a constant FRACTION of part, not
        # a constant size → unhinted; AQE broadcasts while small and
        # falls back to a keyed join at scale (DEPLOY.md policy)
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("widget_qty"))
        .filter(F.col("widget_qty") > Q20_MIN_QTY)
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qty.join(supp, qty.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.round("widget_qty", 4).alias("widget_qty"))
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: lateness is ship-lag > Q12_LATE_DAYS
    since there is no commit/receipt date): per supplier, the number
    of multi-supplier orders where THAT supplier was the only late
    one. The EXISTS / NOT EXISTS pair of the original collapses into
    one per-order aggregate (distinct suppliers, distinct late
    suppliers, the single late suppkey when unique) — one orderkey
    shuffle replaces two correlated self-joins of lineitem.

    The per-order counts run as a TWO-LEVEL aggregate — first
    (orderkey, suppkey) with a late flag, then orderkey — instead of
    two countDistinct()s in one aggregate: multiple distinct
    aggregates make Catalyst insert an Expand that triples every
    joined row before the shuffle — measured 1.8x slower at sf0.1 and
    strictly worse at scale (the expand multiplies shuffle volume by
    the number of distinct aggregates). The two-level plan's two
    exchanges carry (a) map-side-combined pair rows and (b) the
    already-pair-deduped table — both smaller than one shuffle of the
    3x-expanded join output."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max((lag > Q12_LATE_DAYS).cast("int")).alias("is_late"))
    )
    per_order = (
        pairs.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum("is_late").alias("n_late"),
            F.max(
                F.when(F.col("is_late") == 1, F.col("l_suppkey"))
            ).alias("late_suppkey"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        # supplier scales with SF → unhinted (DEPLOY.md policy)
        per_order.join(supp, per_order.late_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# Runs VERBATIM on both engines — that is the point: the façade takes
# arbitrary ANSI SQL (reference front door, run_with_prefetch_loop.py)
# and must produce exactly what a reference engine would.
ENGINE_SQL = """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           ROUND(avg(o_totalprice), 4) AS avg_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
"""


def q_engine_sql_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI SQL through the ``MicroBlockEngine`` façade — the
    reference's interactive front door (SQL in, result out, access-log
    side effects) earning a hard-signal oracle row instead of being
    pytest-only. The engine registers the table dir as temp views and
    hands the string to Catalyst; the oracle runs the identical SQL."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark, table_dir=sf_dir)
    return eng.query(ENGINE_SQL)


def _demo_manifest_table(eng, name: str, df: DataFrame, tag: str):
    """A fresh ManifestStore under the temp dir holding ``df`` as
    version 1, registered on ``eng`` as ``name`` — the starting point
    of every engine_* DML registry query."""
    import shutil
    import tempfile

    from columnar_database_project_spark.storage.cow import (
        init_manifest_table,
    )
    from columnar_database_project_spark.storage.manifests import (
        ManifestStore,
    )

    root = os.path.join(tempfile.gettempdir(), f"cdps_{tag}_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    store = ManifestStore(root)
    init_manifest_table(eng.spark, store, df)
    eng.register_manifest(name, store, with_index=False)
    return store


def q_engine_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert through the engine façade (``merge_cow`` on a
    manifest table): a deterministic update batch (every 10th order
    re-priced and re-statused) plus an insert batch (every 97th order
    cloned to a new key) is merged into the orders table; the
    returned aggregate reads the COMMITTED manifest version back, so
    the oracle row checks the full read→merge→write→read cycle, not
    just the plan.

    Scale shape: key triage over the zone maps, one key-equi
    anti-join on the touched blocks + union + block-sized parquet
    write — no broadcast hints (the update batch is
    corpus-proportional in a backfill; AQE size-gates)."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    orders = load_table(spark, sf_dir, "orders")
    store = _demo_manifest_table(
        eng, "orders_merge_demo", orders, "merge_upsert"
    )
    eng.merge_cow(
        "orders_merge_demo", _merge_demo_updates(orders), "o_orderkey", store
    )
    return _status_rollup(eng.table("orders_merge_demo"))


def _merge_demo_updates(orders: DataFrame) -> DataFrame:
    """Deterministic MERGE demo batch: every 10th order re-priced and
    re-statused (update) + every 97th cloned to an offset key (insert).
    Prices use exactly-representable double arithmetic (+1000.0, /2) —
    a per-row ROUND(x * 1.1, 2) diverged between Spark (BigDecimal
    HALF_UP) and DuckDB (C round on the binary double) on exact-half
    boundaries, ~5 rows in 1500 at sf0.01."""
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
    return updates.unionByName(inserts)


def _status_rollup(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


def q_engine_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned DML chain + time travel earning a hard-signal oracle
    row: a MERGE commits one manifest version, a DELETE commits the
    next on top, then the query reads AS OF the merge's version — the
    returned aggregate must equal the merge-only state even though the
    LATEST version has rows deleted. The oracle is therefore the same
    SQL as ``engine_merge_upsert``: time travel returning the
    pre-delete state IS the correctness claim. Old versions are
    immutable file lists; reading one resolves its manifest, no log
    replay."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    orders = load_table(spark, sf_dir, "orders")
    store = _demo_manifest_table(eng, "orders_tt_demo", orders, "time_travel")
    merged = eng.merge_cow(
        "orders_tt_demo", _merge_demo_updates(orders), "o_orderkey", store
    )
    eng.delete_where_cow(
        "orders_tt_demo", "o_orderstatus = 'M'", store
    )  # drop everything the merge updated
    return _status_rollup(
        eng.time_travel_cow("orders_tt_demo", store, merged["version"])
    )


def q_engine_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE through the engine façade (``delete_where_cow``): drop
    every low-value finished order, commit the rewritten blocks, read
    the new version back and aggregate — the oracle checks SQL DELETE
    semantics (only predicate-TRUE rows go) over the written result.
    Scan + filter + write of the touched blocks, zero shuffles before
    the final 5-group aggregate."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    store = _demo_manifest_table(
        eng,
        "orders_delete_demo",
        load_table(spark, sf_dir, "orders"),
        "delete_where",
    )
    eng.delete_where_cow(
        "orders_delete_demo",
        "o_orderstatus = 'F' AND o_totalprice < 50000.0",
        store,
    )
    return (
        eng.table("orders_delete_demo")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
        )
        .orderBy("o_orderstatus")
    )


def q_engine_update_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET through the engine façade (``update_where_cow``)
    — the fourth DML verb: every open low-value order is
    re-prioritized and surcharged (+250.0, exactly representable so
    Spark and DuckDB agree bit-for-bit), the rewritten blocks are
    committed and the new version read back, and the oracle row checks
    SQL UPDATE semantics (only predicate-TRUE rows change; untouched
    columns survive byte-identical) over the full
    read→update→write→read cycle.

    Scale shape: one scan of the touched blocks + per-row CASE
    projection + block write — zero shuffles before the final rollup;
    no broadcast anywhere."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    eng = MicroBlockEngine(spark)
    store = _demo_manifest_table(
        eng,
        "orders_update_demo",
        load_table(spark, sf_dir, "orders"),
        "update_set",
    )
    eng.update_where_cow(
        "orders_update_demo",
        "o_orderstatus = 'O' AND o_totalprice < 20000.0",
        {
            "o_orderpriority": F.lit("5-SURCHARGED"),
            "o_totalprice": F.col("o_totalprice") + 250.0,
        },
        store,
    )
    return (
        eng.table("orders_update_demo")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD/NTILE over a per-customer order timeline — the
    remaining analytic-window family (rank/running/share are covered
    elsewhere). One hash shuffle on the partition key; the
    (o_orderdate, o_orderkey) sort key is unique, so every engine
    orders identically."""
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev_price = F.lag("o_totalprice").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(prev_price, 4).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 4).alias("next_price"),
        F.round(F.col("o_totalprice") - prev_price, 4).alias("delta_prev"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_argmax_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax/argmin (``max_by`` semantics) via the
    max-of-struct idiom — lexicographic struct comparison makes the
    tiebreak (custkey) explicit and deterministic, unlike bare
    ``max_by`` whose tie choice is engine-defined. Single partial-agg
    shuffle, same cost profile as a plain max."""
    cust = load_table(spark, sf_dir, "customer")
    hi = F.max(
        F.struct(F.col("c_acctbal").alias("bal"), F.col("c_custkey").alias("ck"))
    )
    lo = F.min(
        F.struct(F.col("c_acctbal").alias("bal"), F.col("c_custkey").alias("ck"))
    )
    return cust.groupBy("c_nationkey").agg(
        hi.getField("ck").alias("richest_cust"),
        F.round(hi.getField("bal"), 4).alias("max_bal"),
        lo.getField("ck").alias("poorest_cust"),
        F.round(lo.getField("bal"), 4).alias("min_bal"),
    )


def q_percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    ≡ DuckDB ``quantile_cont``, both linear interpolation). Exact
    percentile sorts within groups; at 100 TB you'd switch to
    ``approx_percentile`` (t-digest, constant memory) — kept exact
    here because the oracle must match bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    # one percentile aggregate with an array of fractions: each scalar
    # percentile agg keeps its own per-group value buffer, so asking
    # for three quantity percentiles separately tripled the aggregate
    # state and the per-group sort work (measured ~2×the wall clock).
    qty_p = F.percentile(
        "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            qty_p.alias("qty_p"),
            F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias(
                "p90_price"
            ),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("qty_p", 1), 6).alias("p25_qty"),
            F.round(F.element_at("qty_p", 2), 6).alias("p50_qty"),
            F.round(F.element_at("qty_p", 3), 6).alias("p75_qty"),
            "p90_price",
        )
    )


SALT_BUCKETS = 8


def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted shuffle join — the manual skew mechanism as a
    first-class operator (AQE's skew-join split covers sort-merge
    stragglers at runtime, but salting is the portable form that also
    works when AQE is off, on aggregations, and on engines without
    runtime re-planning).

    Mechanism: the fact side (events) gets a deterministic salt
    ``pmod(event_id, S)``; the dim side (customer) is replicated S
    times, once per salt value, via ``explode(sequence(0, S-1))`` — a
    bounded S× blow-up of the SMALL side only. Joining on
    ``(key, salt)`` spreads every hot key over S reducers instead of
    one. The ``merge`` hint pins the shuffle-join shape the mechanism
    exists for (an auto-broadcast of the dim would bypass the salt and
    hide the demonstration; at 100 TB a corpus-grown customer table
    would not qualify for broadcast anyway, and sort-merge keeps
    per-task memory bounded — no hash-build cliff).

    Salting is pure physical re-distribution: the result is
    row-identical to the plain unsalted join, which is exactly what
    the oracle runs.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cust = load_table(spark, sf_dir, "customer")
    salted_dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1))).alias("salt"),
    )
    fact = ev.select(
        "user_id",
        "value",
        F.pmod(F.col("event_id"), F.lit(SALT_BUCKETS)).cast("int").alias("salt"),
    )
    joined = fact.join(
        salted_dim.hint("merge"),
        (fact["user_id"] == salted_dim["c_custkey"])
        & (fact["salt"] == salted_dim["salt"]),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES = {
    "filter_between": q_filter_between,
    "filter_comparisons": q_filter_comparisons,
    "filter_or_neq": q_filter_or_neq,
    "filter_in": q_filter_in,
    "filter_compound": q_filter_compound,
    "filter_null_semantics": q_filter_null_semantics,
    "agg_count_avg": q_agg_count_avg,
    "q1_pricing_summary": q1_pricing_summary,
    "q6_forecast_revenue": q6_forecast_revenue,
    "groupby_having": q_groupby_having,
    "distinct": q_distinct,
    "count_distinct": q_count_distinct,
    "rollup": q_rollup,
    "cube": q_cube,
    "case_bucketing": q_case_bucketing,
    "pivot": q_pivot,
    "topk": q_topk,
    "union_all": q_union_all,
    "intersect_except": q_intersect_except,
    "join_broadcast": q_join_broadcast,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "join_semi": q_join_semi,
    "join_anti": q_join_anti,
    "join_left_outer": q_join_left_outer,
    "join_full_outer": q_join_full_outer,
    "join_skew_salted": q_join_skew_salted,
    "self_join": q_self_join,
    "window_rank": q_window_rank,
    "window_running": q_window_running,
    "window_share": q_window_share,
    "string_funcs": q_string_funcs,
    "math_funcs": q_math_funcs,
    "date_funcs": q_date_funcs,
    "scalar_subquery": q_scalar_subquery,
    "in_subquery": q_in_subquery,
    "cte_top_supplier": q_cte_top_supplier,
    "sampled_agg": q_sampled_agg,
    "approx_distinct": q_approx_distinct,
    "approx_percentile": q_approx_percentile,
    "grouping_sets": q_grouping_sets,
    "unpivot": q_unpivot,
    "array_agg": q_array_agg,
    "q4_order_priority": q4_order_priority,
    "q13_customer_distribution": q13_customer_distribution,
    "q18_large_orders": q18_large_orders,
    "stats_agg": q_stats_agg,
    "stats_table_profile": q_stats_table_profile,
    "stats_correlation": q_stats_correlation,
    "percentile_agg": q_percentile_agg,
    "argmax_by_group": q_argmax_by_group,
    "window_lag_lead": q_window_lag_lead,
    "q7_volume_shipping": q7_volume_shipping,
    "q22_global_sales": q22_global_sales,
    "q14_promo_revenue": q14_promo_revenue,
    "q19_bracket_revenue": q19_bracket_revenue,
    "engine_sql_roundtrip": q_engine_sql_roundtrip,
    "engine_merge_upsert": q_engine_merge_upsert,
    "engine_delete_where": q_engine_delete_where,
    "engine_update_set": q_engine_update_set,
    "engine_time_travel": q_engine_time_travel,
    "q10_returned_items": q10_returned_items,
    "q12_late_lines_by_priority": q12_late_lines_by_priority,
    "q16_supplier_variety": q16_supplier_variety,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q9_product_profit": q9_product_profit,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q8_national_market_share": q8_national_market_share,
    "q11_important_parts": q11_important_parts,
    "q15_top_supplier": q15_top_supplier,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_waiting_supplier": q21_waiting_supplier,
}

ORACLES = {
    "filter_between": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem WHERE l_quantity BETWEEN 18 AND 24
    """,
    "filter_comparisons": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
        FROM lineitem
        WHERE l_quantity > 30 AND l_discount >= 0.05 AND l_tax < 0.07
          AND l_linestatus = 'F'
    """,
    "filter_or_neq": """
        SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        FROM lineitem WHERE l_returnflag != 'N' OR l_quantity < 3
    """,
    "filter_in": """
        SELECT l_orderkey, l_linenumber, l_returnflag
        FROM lineitem
        WHERE l_linenumber IN (1, 3, 5) AND l_returnflag IN ('A', 'R')
    """,
    "filter_compound": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
        FROM lineitem
        WHERE (l_quantity BETWEEN 5 AND 10 AND l_returnflag = 'R')
           OR (l_discount > 0.08 AND l_linenumber IN (2, 4))
    """,
    "filter_null_semantics": """
        SELECT event_id, ROUND(v, 4) AS v FROM (
            SELECT event_id,
                   CASE WHEN value > 150 THEN value ELSE NULL END AS v,
                   event_type
            FROM events
        ) WHERE v IS NOT NULL AND event_type IS NOT NULL
    """,
    "agg_count_avg": """
        SELECT count(*) AS cnt,
               ROUND(avg(l_quantity), 4) AS avg_qty,
               ROUND(sum(l_extendedprice), 4) AS sum_price,
               ROUND(min(l_discount), 4) AS min_disc,
               ROUND(max(l_tax), 4) AS max_tax
        FROM lineitem WHERE l_quantity BETWEEN 18 AND 24
    """,
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(sum(l_quantity), 4) AS sum_qty,
               ROUND(sum(l_extendedprice), 4) AS sum_base_price,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
               ROUND(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
               ROUND(avg(l_quantity), 4) AS avg_qty,
               ROUND(avg(l_extendedprice), 4) AS avg_price,
               ROUND(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q6_forecast_revenue": """
        SELECT ROUND(sum(l_extendedprice * l_discount), 4) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "groupby_having": """
        SELECT l_suppkey, count(*) AS n_items, ROUND(sum(l_quantity), 4) AS total_qty
        FROM lineitem GROUP BY l_suppkey HAVING count(*) > 50
    """,
    "distinct": """
        SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
    "count_distinct": """
        SELECT count(DISTINCT l_partkey) AS n_parts,
               count(DISTINCT l_suppkey) AS n_supps
        FROM lineitem
    """,
    "rollup": """
        SELECT l_returnflag, l_linestatus,
               ROUND(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube": """
        SELECT l_returnflag, l_linestatus,
               ROUND(sum(l_extendedprice), 4) AS sum_price
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "case_bucketing": """
        SELECT CASE WHEN l_quantity < 10 THEN 'small'
                    WHEN l_quantity < 30 THEN 'medium'
                    ELSE 'large' END AS qty_bucket,
               count(*) AS cnt,
               ROUND(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END), 4)
                   AS returned_price
        FROM lineitem GROUP BY 1
    """,
    "pivot": """
        SELECT l_returnflag,
               ROUND(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_open,
               ROUND(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_filled
        FROM lineitem GROUP BY l_returnflag
    """,
    "topk": """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        LIMIT 10
    """,
    "union_all": """
        SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity < 3
        UNION ALL
        SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 48
    """,
    "intersect_except": """
        SELECT nationkey, 'both' AS side FROM (
            SELECT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT s_nationkey FROM supplier
        )
        UNION ALL
        SELECT nationkey, 'cust_only' AS side FROM (
            SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey FROM supplier
        )
    """,
    "join_broadcast": """
        SELECT n_name, count(*) AS n_orders, ROUND(sum(o_totalprice), 4) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "q3_shipping_priority": """
        SELECT l_orderkey,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        GROUP BY l_orderkey
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "q5_local_supplier_volume": """
        SELECT n_name,
               ROUND(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    "join_semi": """
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
    """,
    "join_anti": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "join_full_outer": """
        WITH c AS (
            SELECT c_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_customers
            FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey
        ), s AS (
            SELECT s_nationkey AS nationkey, CAST(count(*) AS BIGINT) AS n_suppliers
            FROM supplier WHERE s_acctbal > 5000.0 GROUP BY s_nationkey
        )
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               n_customers, n_suppliers
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
    """,
    "join_skew_salted": """
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_purchases,
               ROUND(sum(value), 2) AS revenue
        FROM events JOIN customer ON user_id = c_custkey
        WHERE event_type = 'purchase'
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "join_left_outer": """
        SELECT c_custkey, count(o_orderkey) AS n_orders,
               ROUND(coalesce(sum(o_totalprice), 0.0), 4) AS spend
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    """,
    "self_join": """
        SELECT a.l_orderkey AS l_orderkey, count(*) AS n_pairs
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey
         AND a.l_linenumber < b.l_linenumber
         AND a.l_suppkey != b.l_suppkey
        GROUP BY a.l_orderkey
    """,
    "window_rank": """
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey
                   ) AS rn
            FROM orders
        ) WHERE rn <= 2
    """,
    "window_running": """
        SELECT o_custkey, o_orderkey,
               ROUND(sum(o_totalprice) OVER w, 4) AS running_spend,
               ROUND(o_totalprice - coalesce(lag(o_totalprice) OVER w, 0.0), 4)
                   AS delta_prev
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    """,
    "window_share": """
        WITH per_nation AS (
            SELECT c_nationkey, sum(o_totalprice) AS rev
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey
        )
        SELECT c_nationkey, ROUND(rev, 4) AS rev,
               ROUND(rev / sum(rev) OVER (), 6) AS rev_share
        FROM per_nation
    """,
    "string_funcs": """
        SELECT p_partkey,
               upper(p_brand) AS brand_u,
               length(p_name) AS name_len,
               substring(p_type, 1, 5) AS type_head,
               concat_ws('|', p_brand, p_type) AS brand_type,
               regexp_replace(p_name, '[aeiou]', '', 'g') AS consonants
        FROM part WHERE p_name LIKE '%ge%'
    """,
    "math_funcs": """
        SELECT l_orderkey, l_linenumber,
               CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
               CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS price_h,
               ROUND(sqrt(l_quantity), 4) AS qty_sqrt,
               ROUND(ln(l_extendedprice + 1.0), 4) AS price_ln,
               ROUND(pow(l_discount + 1.0, 2), 4) AS disc_sq,
               l_orderkey % 7 AS ok_mod7
        FROM lineitem WHERE l_orderkey <= 1000
    """,
    "date_funcs": """
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(month(o_orderdate) AS INT) AS mo,
               count(*) AS n_orders,
               ROUND(avg(o_totalprice), 4) AS avg_price
        FROM orders GROUP BY 1, 2
    """,
    "scalar_subquery": """
        SELECT o_orderkey, ROUND(o_totalprice, 4) AS o_totalprice
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
    """,
    "in_subquery": """
        SELECT l_returnflag, count(*) AS cnt
        FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY l_returnflag
    """,
    "grouping_sets": """
        SELECT l_returnflag, l_linestatus, ROUND(sum(l_quantity), 4) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
    "unpivot": """
        WITH wide AS (
            SELECT l_returnflag,
                   ROUND(sum(l_quantity), 4) AS qty,
                   ROUND(sum(l_extendedprice), 4) AS price
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, 'qty' AS metric, qty AS val FROM wide
        UNION ALL
        SELECT l_returnflag, 'price' AS metric, price AS val FROM wide
    """,
    "array_agg": """
        SELECT s_nationkey,
               array_to_string(list_sort(list(s_name)), '|') AS suppliers,
               CAST(len(list(s_name)) AS INT) AS n_suppliers,
               list_sort(list(s_name))[1] AS first_supplier
        FROM supplier GROUP BY s_nationkey
    """,
    "sampled_agg": """
        SELECT count(*) AS n_sampled, ROUND(avg(o_totalprice), 4) AS avg_price
        FROM orders
        WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
    """,
    "cte_top_supplier": """
        WITH revenue AS (
            SELECT l_suppkey,
                   sum(l_extendedprice * (1 - l_discount)) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT l_suppkey, ROUND(total_rev, 4) AS total_rev
        FROM revenue
        WHERE total_rev = (SELECT max(total_rev) FROM revenue)
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    "q13_customer_distribution": """
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        ) GROUP BY c_count
    """,
    "q18_large_orders": f"""
        WITH big AS (
            SELECT l_orderkey, ROUND(sum(l_quantity), 4) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING ROUND(sum(l_quantity), 4) >= {Q18_MIN_QTY}
        )
        SELECT c.c_name, o.o_orderkey, o.o_totalprice, b.total_qty
        FROM big b
        JOIN orders o ON b.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    "stats_table_profile": """
        WITH m AS (
            SELECT 'l_quantity' AS "column",
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
                   ROUND(CAST(min(l_quantity) AS DOUBLE), 6) AS min_v,
                   ROUND(CAST(max(l_quantity) AS DOUBLE), 6) AS max_v,
                   ROUND(avg(l_quantity), 6) AS mean_v
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_extendedprice) AS BIGINT),
                   ROUND(CAST(min(l_extendedprice) AS DOUBLE), 6),
                   ROUND(CAST(max(l_extendedprice) AS DOUBLE), 6),
                   ROUND(avg(l_extendedprice), 6)
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_discount) AS BIGINT),
                   ROUND(CAST(min(l_discount) AS DOUBLE), 6),
                   ROUND(CAST(max(l_discount) AS DOUBLE), 6),
                   ROUND(avg(l_discount), 6)
            FROM lineitem
            UNION ALL
            SELECT 'l_tax', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT l_tax) AS BIGINT),
                   ROUND(CAST(min(l_tax) AS DOUBLE), 6),
                   ROUND(CAST(max(l_tax) AS DOUBLE), 6),
                   ROUND(avg(l_tax), 6)
            FROM lineitem
        )
        SELECT * FROM m
    """,
    "stats_agg": """
        SELECT l_returnflag,
               ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
               ROUND(stddev_samp(l_quantity), 6) AS stddev_qty,
               ROUND(var_samp(l_discount), 8) AS var_disc
        FROM lineitem GROUP BY l_returnflag
    """,
    # The band columns pin the sketch's accuracy contract: the Spark
    # side computes floor(|approx-exact|*20/exact) (0 <=> within 5%),
    # the oracle asserts the contract holds by expecting 0 — a band
    # excursion (sketch drift/regression) is a hash FAIL, not a
    # silently-weaker rows-only row.
    "approx_distinct": """
        SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
               CAST(0 AS BIGINT) AS parts_err_band,
               CAST(0 AS BIGINT) AS orders_err_band
        FROM lineitem
    """,
    "approx_percentile": """
        SELECT ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS price_p50,
               ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95,
               ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS price_p99,
               ROUND(quantile_cont(l_quantity, 0.5), 4) AS qty_median,
               CAST(0 AS BIGINT) AS band_p50,
               CAST(0 AS BIGINT) AS band_p95,
               CAST(0 AS BIGINT) AS band_p99,
               CAST(0 AS BIGINT) AS band_qty
        FROM lineitem
    """,
    "percentile_agg": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
               ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "engine_sql_roundtrip": ENGINE_SQL,
    "engine_merge_upsert": """
        WITH upd AS (
            SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice,
                   o_orderdate, '0-MERGED' AS o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, 'N',
                   o_totalprice / 2, o_orderdate, '9-INSERTED'
            FROM orders WHERE o_orderkey % 97 = 0
        ), merged AS (
            SELECT * FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM upd u
                              WHERE u.o_orderkey = o.o_orderkey)
            UNION ALL
            SELECT * FROM upd
        )
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
               ROUND(sum(o_totalprice), 2) AS total
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "engine_time_travel": """
        WITH upd AS (
            SELECT o_orderkey, o_custkey, 'M' AS o_orderstatus,
                   o_totalprice + 1000.0 AS o_totalprice,
                   o_orderdate, '0-MERGED' AS o_orderpriority
            FROM orders WHERE o_orderkey % 10 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, 'N',
                   o_totalprice / 2, o_orderdate, '9-INSERTED'
            FROM orders WHERE o_orderkey % 97 = 0
        ), merged AS (
            SELECT * FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM upd u
                              WHERE u.o_orderkey = o.o_orderkey)
            UNION ALL
            SELECT * FROM upd
        )
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
               ROUND(sum(o_totalprice), 2) AS total
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "engine_delete_where": """
        SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
               ROUND(min(o_totalprice), 2) AS min_price
        FROM orders
        WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "engine_update_set": """
        WITH updated AS (
            SELECT CASE WHEN o_orderstatus = 'O' AND o_totalprice < 20000.0
                        THEN '5-SURCHARGED' ELSE o_orderpriority
                   END AS o_orderpriority,
                   CASE WHEN o_orderstatus = 'O' AND o_totalprice < 20000.0
                        THEN o_totalprice + 250.0 ELSE o_totalprice
                   END AS o_totalprice
            FROM orders
        )
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
               ROUND(sum(o_totalprice), 2) AS total
        FROM updated GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q14_promo_revenue": """
        SELECT ROUND(
            100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                        THEN l.l_extendedprice * (1 - l.l_discount)
                        ELSE 0 END)
            / sum(l.l_extendedprice * (1 - l.l_discount)), 4
        ) AS promo_revenue_pct
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    """,
    "q19_bracket_revenue": """
        SELECT count(*) AS n_lines,
               ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 20)
           OR (p.p_brand = 'Brand#17' AND p.p_size BETWEEN 10 AND 30
               AND l.l_quantity BETWEEN 10 AND 40)
    """,
    "q7_volume_shipping": f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS INT) AS l_year,
               ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE sn.n_name IN ('{Q7_NATIONS[0]}', '{Q7_NATIONS[1]}')
          AND cn.n_name IN ('{Q7_NATIONS[0]}', '{Q7_NATIONS[1]}')
          AND sn.n_name != cn.n_name
        GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    "q22_global_sales": """
        SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode,
               count(*) AS numcust,
               ROUND(sum(c_acctbal), 4) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0
        )
        GROUP BY c_nationkey % 5
    """,
    "window_lag_lead": """
        SELECT o_custkey, o_orderkey,
               ROUND(lag(o_totalprice) OVER w, 4) AS prev_price,
               ROUND(lead(o_totalprice) OVER w, 4) AS next_price,
               ROUND(o_totalprice - lag(o_totalprice) OVER w, 4) AS delta_prev,
               CAST(ntile(4) OVER w AS INT) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "argmax_by_group": """
        WITH m AS (
            SELECT c_nationkey,
                   max({'bal': c_acctbal, 'ck': c_custkey}) AS hi,
                   min({'bal': c_acctbal, 'ck': c_custkey}) AS lo
            FROM customer GROUP BY c_nationkey
        )
        SELECT c_nationkey,
               hi.ck AS richest_cust, ROUND(hi.bal, 4) AS max_bal,
               lo.ck AS poorest_cust, ROUND(lo.bal, 4) AS min_bal
        FROM m
    """,
    "q10_returned_items": """
        WITH rev AS (
            SELECT o.o_custkey,
                   ROUND(sum(l.l_extendedprice * (1 - l.l_discount)), 4)
                       AS revenue
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY o.o_custkey
        )
        SELECT c.c_custkey, c.c_name, rev.revenue,
               ROUND(c.c_acctbal, 4) AS acctbal, n.n_name AS nation
        FROM rev
        JOIN customer c ON rev.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        ORDER BY rev.revenue DESC, c.c_custkey
        LIMIT 20
    """,
    "q12_late_lines_by_priority": """
        SELECT o.o_orderpriority,
               CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
                             THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
               count(*) AS total_lines,
               ROUND(avg(date_diff('day', o.o_orderdate, l.l_shipdate)), 4)
                   AS avg_ship_lag_days
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    "q16_supplier_variety": """
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand != 'Brand#13' AND p.p_type != 'PROMO'
          AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    "q17_small_quantity_revenue": """
        WITH cut AS (
            SELECT l_partkey AS avg_partkey,
                   0.2 * avg(l_quantity) AS qty_cut
            FROM lineitem GROUP BY l_partkey
        )
        SELECT ROUND(sum(l.l_extendedprice) / 7.0, 4) AS avg_yearly
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = 'Brand#7'
        JOIN cut ON l.l_partkey = cut.avg_partkey
        WHERE l.l_quantity < cut.qty_cut
    """,
    "q9_product_profit": """
        SELECT n.n_name AS nation,
               CAST(year(l.l_shipdate) AS INT) AS o_year,
               ROUND(sum(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity), 4)
                   AS sum_profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE p.p_name LIKE '%widget%'
        GROUP BY n.n_name, year(l.l_shipdate)
    """,
    "q2_min_cost_supplier": """
        WITH cost AS (
            SELECT l_partkey, l_suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ), eu AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ), qualified AS (
            SELECT c.l_partkey, p.p_name, eu.s_name, eu.n_name,
                   eu.s_acctbal, c.unit_cost
            FROM cost c
            JOIN eu ON c.l_suppkey = eu.s_suppkey
            JOIN part p ON c.l_partkey = p.p_partkey
            WHERE p.p_type = 'LARGE'
        )
        SELECT q.l_partkey AS p_partkey, q.p_name AS part_name,
               q.s_name, q.n_name,
               ROUND(q.s_acctbal, 4) AS s_acctbal,
               ROUND(q.unit_cost, 4) AS unit_cost
        FROM qualified q
        JOIN (
            SELECT l_partkey, min(unit_cost) AS best_cost
            FROM qualified GROUP BY l_partkey
        ) b ON q.l_partkey = b.l_partkey AND q.unit_cost = b.best_cost
    """,
    "q8_national_market_share": """
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               ROUND(sum(CASE WHEN sn.n_name = 'NATION_21'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
                     / sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                   AS mkt_share
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        WHERE r.r_name = 'AMERICA'
          AND year(o.o_orderdate) IN (1996, 1997)
        GROUP BY year(o.o_orderdate)
    """,
    "q11_important_parts": """
        WITH per_part AS (
            SELECT l.l_partkey, sum(l.l_extendedprice) AS part_value
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
            GROUP BY l.l_partkey
        )
        SELECT l_partkey AS p_partkey, ROUND(part_value, 4) AS part_value
        FROM per_part
        WHERE part_value > (SELECT avg(part_value) * 1.5 FROM per_part)
    """,
    "q15_top_supplier": """
        WITH rev AS (
            SELECT l_suppkey,
                   sum(l_extendedprice * (1 - l_discount)) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name,
               ROUND(r.total_revenue, 4) AS total_revenue
        FROM rev r
        JOIN supplier s ON r.l_suppkey = s.s_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "q20_potential_promotion": """
        WITH qty AS (
            SELECT l.l_suppkey, sum(l.l_quantity) AS widget_qty
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_name LIKE '%widget%' AND year(l.l_shipdate) = 1996
            GROUP BY l.l_suppkey
            HAVING sum(l.l_quantity) > 300
        )
        SELECT s.s_suppkey, s.s_name, ROUND(q.widget_qty, 4) AS widget_qty
        FROM qty q JOIN supplier s ON q.l_suppkey = s.s_suppkey
    """,
    "q21_waiting_supplier": """
        WITH per_order AS (
            SELECT l.l_orderkey,
                   count(DISTINCT l.l_suppkey) AS n_supp,
                   count(DISTINCT CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 60
                                       THEN l.l_suppkey END) AS n_late,
                   max(CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) > 60
                            THEN l.l_suppkey END) AS late_suppkey
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY l.l_orderkey
        )
        SELECT s.s_suppkey, s.s_name,
               CAST(count(*) AS BIGINT) AS numwait
        FROM per_order po
        JOIN supplier s ON po.late_suppkey = s.s_suppkey
        WHERE po.n_supp > 1 AND po.n_late = 1
        GROUP BY s.s_suppkey, s.s_name
    """,
}

ORACLES["stats_correlation"] = " UNION ALL ".join(
    f"""
        SELECT '{a}' AS col_x, '{b}' AS col_y,
               ROUND(corr({a}, {b}), 6) AS pearson_r
        FROM lineitem
    """
    for a, b in CORR_PAIRS
)
