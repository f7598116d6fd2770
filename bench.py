"""Benchmark harness — the reference's 3-mode protocol on our engine.

Transliterates reference benchmark.py:232-289 (warmed connections,
wall-clock per query) to the BASELINE.md §B protocol:

  1. DuckDB baseline (the oracle engine) on the same parquet,
  2. Spark with parquet filter pushdown (default),
  3. (verification) Spark scan metrics prove pushdown happened.

Output protocol (the driver's tail-capture buffer is ~2000 chars, and
round 4's single giant JSON line outgrew it; the r11 driver run was
additionally KILLED at its wall-clock timeout with nothing printed —
both size and time are now bounded):
  1. after EVERY completed section the full result-so-far is rewritten
     atomically to ``BENCH.json`` (the durable artifact) and a compact
     headline line is printed, ENFORCED ≤1900 chars (r9: the r8 compact
     line had regrown past 2 KB and the driver recorded parsed:null —
     the budget is applied by dropping optional keys, never per-query
     spark times). A kill at ANY point leaves the last stdout line as
     one complete parseable JSON with whatever finished.
  2. the whole run works against a wall-clock budget
     (SPARK_GRAFT_BENCH_BUDGET_SEC, default 1200 s): optional sections
     run most-valuable-claims-first and are skipped (recorded in
     budget.skipped_sections) when they cannot fit; quiesce waits and
     health retakes are charged against the same budget.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     SPARK_GRAFT_BENCH_BUDGET_SEC (default 1200) — global wall budget,
     SPARK_GRAFT_SF2_DIR (default /root/testdata/sf0.01) — secondary
     scale for the per-query scaling slope ("scaling" key): Spark's
     fixed ~0.3-1 s per-query overhead dominates sub-second baselines,
     so the ratio at one small SF understates relative throughput at
     scale; two points expose the data-dependent component.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from columnar_database_project_spark.catalog import TESTDATA_TABLES  # noqa: E402
from columnar_database_project_spark.session import get_spark, tune_for_scale  # noqa: E402

# Headline set: reference-canonical filter + TPC-H-ish classics +
# the training-data pipeline operators (the 100 TB-relevant surface).
HEADLINE = [
    "filter_between",          # reference benchmark.py:243 shape
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "topk",
    "window_rank",
    "events_sessionize",
    "text_token_stats",
    "text_corpus_build",       # composed filter→dedup→split→pack pipeline
    "dedup_minhash_signatures",
    "dedup_lsh_candidates",
    "dedup_embedding_cosine",
    "sim_topk_bruteforce",
]

# Best-of-N: profiled r2's apparent q3 "regression" (2.16 s recorded vs
# 0.89 s in r1) — warm reruns in one session give 0.59-0.76 s, so the
# recorded number was first-run cold-start (codegen/JIT/shuffle spin-up),
# not a plan change. This box's scheduler noise swings single runs by
# ±50%, so the PRIMARY scale takes best-of-8 (it carries the gate;
# r6 measured best-of-5 still catching 2-3× noise spikes — e.g.
# sim_topk_bruteforce recorded 0.87 s in a sweep whose standalone
# warm floor is 0.26-0.30 s — while best-of-8 reliably lands on the
# floor); the scaling points take best-of-2 (slope estimates
# tolerate noise). Both engines get identical run counts.
RUNS_PER_QUERY = 8
RUNS_PER_SCALING_QUERY = 2
# Untimed warm sweeps before the timed runs at the PRIMARY scale: the
# JVM's C2 compiler keeps improving plans over the first ~100
# executions (measured r5: best-of-5 totals of 2.37 / 2.14 / 2.03 s on
# three consecutive sweeps of the same 13 queries) — one sweep is not
# steady state. The reference protocol is warmed-connection steady
# state (reference benchmark.py:232-289), so warm until it is; DuckDB
# gets the same number of untimed sweeps for symmetry.
WARM_SWEEPS = 4


# Both engines materialize to pandas through their Arrow paths —
# symmetric result delivery (DuckDB .df() ≈ Spark Arrow toPandas()).
# Row-object materialization (collect()/fetchall()) measured ~0.2 s of
# pure Python Row-building on the 30k-95k-row result sets, which is
# result TRANSPORT cost, not query engine cost, and each engine's
# columnar fast path is the one a pipeline would actually use.


def bench_spark(
    spark,
    sf_dir: str,
    names: list[str],
    runs: int = RUNS_PER_QUERY,
    warm_sweeps: int = WARM_SWEEPS,
) -> dict[str, float]:
    """Warmed-connection loop, mirroring the reference protocol
    (reference benchmark.py:232-289): one full untimed sweep first —
    the JVM JIT needs a pass over every plan before steady-state
    numbers mean anything — then each timed run REBUILDS the DataFrame
    so analysis, physical planning, and every stage re-execute
    (re-collecting a cached DataFrame object would reuse its shuffle
    outputs and skip the scan: measured 10-40× "speedups" that are
    result re-fetch, not query execution — explicitly not done)."""
    qs = entry_mod.queries()
    tune_for_scale(spark, sf_dir)  # size-aware shuffle/AQE/split confs
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1).collect()
    for _ in range(warm_sweeps):  # untimed sweeps (JIT + codegen + workers)
        for name in names:
            qs[name](spark, sf_dir).toPandas()
    out: dict[str, float] = {}
    for name in names:
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            qs[name](spark, sf_dir).toPandas()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


def bench_duckdb(
    sf_dir: str,
    names: list[str],
    runs: int = RUNS_PER_QUERY,
    warm_sweeps: int = WARM_SWEEPS,
) -> dict[str, float]:
    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    con.execute("SELECT * FROM lineitem LIMIT 1").fetchall()  # warm-up
    for _ in range(warm_sweeps):  # symmetric untimed sweeps (page cache)
        for name in names:
            if name in oracles:
                con.execute(oracles[name]).df()
    out: dict[str, float] = {}
    for name in names:
        if name not in oracles:
            continue
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            con.execute(oracles[name]).df()
            best = min(best, time.time() - t0)
        out[name] = round(best, 3)
    return out


# Adaptive run count for the pairwise sweeps (r12, VERDICT r11 #1):
# best-of-N exists to reject scheduler/GC noise, which is an ABSOLUTE
# ~0.1-0.5 s term — on a query whose single run is ≥ this threshold
# the noise is relative rounding error and extra runs are pure budget
# burn (the sf2.5 DuckDB side of dedup_embedding_cosine is ~100× the
# Spark time; best-of-3 + warm made it pay 5 × ~45 s — half the whole
# section). A slow query (per its own GLOBAL-warm-sweep duration,
# max over the two engines so BOTH get the SAME count — no asymmetric
# best-of-N bias) runs once, with the global sweep as its warm.
SLOW_QUERY_SEC = 6.0


def bench_pairwise(
    spark,
    sf_dir: str,
    names: list[str],
    runs: int = RUNS_PER_QUERY,
    warm_sweeps: int = WARM_SWEEPS,
    settle=None,
    remaining=None,
) -> tuple[dict[str, float], dict[str, float], dict]:
    """Interleave the engines at QUERY granularity: warm + time Spark
    on one query, then warm + time DuckDB on the same query, then move
    on. Engine-level phases (all of Spark, then all of DuckDB) let a
    slowly-decaying contention window land entirely on whichever
    engine runs first — the r9 fresh-boot sf2.5 take recorded Spark's
    early queries 4-10× slow while DuckDB, sweeping minutes later, got
    a clean box (q5 6.8 s vs a 0.9 s warm floor). Per-query adjacency
    bounds the box-state skew within each ratio to seconds.

    A GLOBAL untimed sweep over every query runs first, symmetric per
    engine: without it the early queries are timed on a cold JVM —
    C2/codegen infrastructure heat accumulates ACROSS queries, and the
    first pairwise take recorded the early codegen-bound headliners
    2-4× slow (topk 0.454 s vs its 0.118 s hot floor) while the
    late-ordered Pandas-UDF pipelines, running on a by-then-hot JVM,
    sat exactly on theirs."""
    qs = entry_mod.queries()
    tune_for_scale(spark, sf_dir)
    # Mid-section budget awareness (VERDICT r12 #2): the r12 8-core
    # driver run blew its budget by 97 s because estimates were checked
    # only at section ENTRY — on a slow box the sf2.5 sweep stretches
    # to ~900 s and nothing inside it looked at the clock. ``remaining``
    # (a callable returning seconds left) is consulted before every
    # per-query step; queries that cannot fit are recorded in
    # meta["truncated"] and BOTH engines skip them symmetrically, so
    # the completed subset still forms honest pairs. A partial section
    # with provenance beats an overrun.
    truncated: list[str] = []

    def _fits(est_sec: float) -> bool:
        return remaining is None or remaining() > est_sec + 30.0

    warm_s: dict[str, float] = {}
    warm_d: dict[str, float] = {}
    worst_warm = 0.0
    for name in names:  # global JVM/JIT + page-cache warm
        if warm_s and not _fits(worst_warm):
            truncated.append(name)
            continue
        t0 = time.time()
        qs[name](spark, sf_dir).toPandas()
        warm_s[name] = time.time() - t0
        worst_warm = max(worst_warm, warm_s[name])
    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    worst_warm_d = 0.0
    for name in names:  # symmetric global warm
        if name in oracles and name in warm_s:
            if warm_d and not _fits(worst_warm_d):
                truncated.append(name)
                warm_s.pop(name, None)  # pairs stay symmetric
                continue
            t0 = time.time()
            con.execute(oracles[name]).df()
            warm_d[name] = time.time() - t0
            worst_warm_d = max(worst_warm_d, warm_d[name])
    con.close()
    st: dict[str, float] = {}
    dt: dict[str, float] = {}
    adaptive: dict[str, int] = {}
    reclassified: dict[str, list[float]] = {}
    for name in names:
        if name in truncated or name not in warm_s:
            if name not in truncated:
                truncated.append(name)
            continue
        w_s = warm_s.get(name, 0.0)
        w_d = warm_d.get(name, 0.0)
        if w_s > SLOW_QUERY_SEC >= w_d and _fits(w_s):
            # Spark's global-warm execution is its FIRST — JIT/codegen-
            # cold — so a ~3-4 s hot query can read >6 s there and get
            # demoted to best-of-1 with zero warm sweeps, reintroducing
            # the scheduler-noise sensitivity best-of-N exists to
            # reject (ADVICE r12). Reclassify on one warm re-run;
            # DuckDB's warm timing has no JIT cold bias and stands.
            t0 = time.time()
            qs[name](spark, sf_dir).toPandas()
            w_s2 = time.time() - t0
            reclassified[name] = [round(w_s, 3), round(w_s2, 3)]
            w_s = min(w_s, w_s2)
        slow = max(w_s, w_d) > SLOW_QUERY_SEC
        q_runs = 1 if slow else runs
        q_warm = 0 if slow else warm_sweeps
        # pair cost estimate from the measured warms, 1.3× margin
        pair_est = 1.3 * (q_runs + q_warm) * (w_s + w_d)
        if not _fits(pair_est):
            truncated.append(name)
            continue
        if slow:
            adaptive[name] = q_runs
        if settle is not None:
            # drain GC debt accumulated by the PREVIOUS query outside
            # the next one's timed window (a long bench session
            # otherwise charges old-gen collection to whichever query
            # it lands on — run-d recorded events_sessionize at 13.3 s
            # against a ~1-4.5 s floor with all three runs slow)
            try:
                settle()
            except Exception:  # pragma: no cover - defensive
                pass
        st.update(
            bench_spark(spark, sf_dir, [name], runs=q_runs, warm_sweeps=q_warm)
        )
        if settle is not None:
            # Symmetric settle BETWEEN the halves too: Spark's timed
            # runs leave JVM GC/C2 background threads draining into
            # DuckDB's immediately-following window otherwise — a
            # systematic ordering bias that flatters the Spark ratio.
            try:
                settle()
            except Exception:  # pragma: no cover - defensive
                pass
        dt.update(
            bench_duckdb(sf_dir, [name], runs=q_runs, warm_sweeps=q_warm)
        )
    meta = {
        "slow_threshold_sec": SLOW_QUERY_SEC,
        "adaptive_best_of_1": sorted(adaptive),
        "warm_sweep_sec": {
            n: [round(warm_s.get(n, 0.0), 3), round(warm_d.get(n, 0.0), 3)]
            for n in names
        },
        "truncated": sorted(set(truncated)),
        **(
            {"slow_reclassify_recheck_sec": reclassified}
            if reclassified
            else {}
        ),
    }
    return st, dt, meta


def bench_engine_facade(spark, sf_dir: str, name: str = "q1_pricing_summary") -> dict:
    """One headline query routed through the ``MicroBlockEngine`` SQL
    front door (catalog registration + observation hooks) next to the
    direct DataFrame-builder call — proves the façade's overhead is
    bounded, so covering the observation path costs ~nothing."""
    from columnar_database_project_spark.engine import MicroBlockEngine

    qs = entry_mod.queries()
    sql = entry_mod.oracle_sql()[name]
    eng = MicroBlockEngine(spark, table_dir=sf_dir)
    direct = facade = float("inf")
    for _ in range(RUNS_PER_QUERY):
        t0 = time.time()
        qs[name](spark, sf_dir).toPandas()
        direct = min(direct, time.time() - t0)
        t0 = time.time()
        eng.query(sql).toPandas()
        facade = min(facade, time.time() - t0)
    return {
        "query": name,
        "direct": round(direct, 3),
        "facade": round(facade, 3),
        "overhead_ratio": round(facade / direct, 3) if direct else None,
    }


def bench_capped_lsh(spark, sf_dir: str, max_bucket: int = 64) -> float:
    """Time the PRODUCTION dedup candidate path — LSH pair generation
    with the hot-bucket cap engaged (``max_bucket=64``) — so the bench
    carries a measured number for the capped 100 TB configuration, not
    only the oracle-exact uncapped one."""
    from columnar_database_project_spark.operators.dedup import (
        _band_keys,
        lsh_candidate_pairs,
    )

    bk = _band_keys(spark, sf_dir)
    lsh_candidate_pairs(bk, max_bucket=max_bucket).toPandas()  # warm
    best = float("inf")
    for _ in range(RUNS_PER_SCALING_QUERY):
        t0 = time.time()
        lsh_candidate_pairs(bk, max_bucket=max_bucket).toPandas()
        best = min(best, time.time() - t0)
    return round(best, 3)


def bench_overhead_floor(spark, sf_dir: str) -> dict:
    """Decompose the fixed per-query constant each engine pays
    regardless of data volume — the denominator of every sub-second
    ratio in the at-scale table. Two probes, best-of-RUNS_PER_QUERY:

    - ``launch``: a 1-row constant query (no table) — pure
      plan-submit/collect round-trip (local-mode job-launch floor for
      Spark, statement dispatch for DuckDB).
    - ``empty_scan``: a lineitem aggregate under a pushed predicate no
      row satisfies — scan-machinery floor (file listing, footer
      reads, codegen, task scheduling) with ~zero rows surviving.

    Motivation (r9): q1/q3/q5/topk at sf2.5 sit >2× DuckDB while every
    data-bound pipeline beats it; the postmortems attribute the gap to
    a fixed stage-wave/launch constant that would be invariant on a
    real cluster while the data term grows 1000×. This section turns
    that attribution into a measured number next to the ratios it
    explains."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table

    out: dict = {}
    li = load_table(spark, sf_dir, "lineitem")
    empty = li.filter(F.col("l_quantity") > F.lit(10_000_000)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice")).alias("s"),
    )
    one = spark.range(1).select(F.lit(1).alias("one"))

    def best_spark(df) -> float:
        df.toPandas()  # warm
        best = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.time()
            df.toPandas()
            best = min(best, time.time() - t0)
        return round(best, 4)

    out["spark_launch"] = best_spark(one)
    out["spark_empty_scan"] = best_spark(empty)

    con = duckdb.connect()
    p = os.path.join(sf_dir, "lineitem.parquet")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{p}')")
    probes = {
        "duckdb_launch": "SELECT 1 AS one",
        "duckdb_empty_scan": (
            "SELECT count(*) AS n, sum(l_extendedprice) AS s "
            "FROM lineitem WHERE l_quantity > 10000000"
        ),
    }
    for key, sql in probes.items():
        con.execute(sql).df()  # warm
        best = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.time()
            con.execute(sql).df()
            best = min(best, time.time() - t0)
        out[key] = round(best, 4)
    out["spark_fixed_floor_sec"] = out["spark_empty_scan"]
    out["floor_gap_sec"] = round(
        out["spark_empty_scan"] - out["duckdb_empty_scan"], 4
    )
    return out


def bench_forced_regime(spark, sf_dir: str) -> dict:
    """Regime A/B that justified the tuner's tier boundaries, kept
    live so the record tracks data drift: time the crossover-sensitive
    queries (q3, window_rank, events_sessionize) under the tuner's
    pick for this dir AND under the tiny latency regime FORCED
    (8 unpartitioned shuffles, AQE off). Originally this compared
    tuned-tiny vs forced-large and showed the at-scale plan winning
    for q3 at ~80 MB, which became the tuner's mid tier in late r6;
    the comparison now confirms per round that the mid tier keeps
    beating the tiny config it replaced at this size."""
    from columnar_database_project_spark.session import tune_for_scale

    names = ["q3_shipping_priority", "window_rank", "events_sessionize"]
    qs = entry_mod.queries()
    out: dict[str, dict[str, float]] = {n: {} for n in names}
    forced = {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    }
    for regime, conf in (("tuned", None), ("forced_tiny", forced)):
        if conf is None:
            tune_for_scale(spark, sf_dir)
        else:
            for k, v in conf.items():
                spark.conf.set(k, v)
        for name in names:
            qs[name](spark, sf_dir).toPandas()  # warm this regime's plan
            best = float("inf")
            for _ in range(RUNS_PER_SCALING_QUERY):
                t0 = time.time()
                qs[name](spark, sf_dir).toPandas()
                best = min(best, time.time() - t0)
            out[name][regime] = round(best, 3)
    tune_for_scale(spark, sf_dir)  # restore
    return out


def bench_hive_pruning(spark, sf_dir: str) -> dict:
    """Partition-pruning, measured: the same lang-filtered aggregation
    over (a) the flat documents.parquet and (b) a hive-partitioned
    (lang=...) microblock replica of it — the third pruning mechanism
    (after zone maps and Z-order) finally carries a number. The
    partitioned scan lists ONE directory at metadata time; the flat
    scan reads every row group and filters."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.sources.microblock import (
        write_hive_partitioned,
    )

    hive_dir = os.path.join(REPO, ".bench_data", "hive_documents")
    src = os.path.join(sf_dir, "documents.parquet")
    docs = spark.read.parquet(src)
    # rebuild the replica when the source parquet is newer (the driver
    # regenerates /root/testdata between rounds — a stale replica would
    # bench different data on the two sides)
    stale = os.path.isdir(hive_dir) and os.path.getmtime(src) > os.path.getmtime(
        hive_dir
    )
    if stale:
        import shutil

        shutil.rmtree(hive_dir)
    if not os.path.isdir(hive_dir):
        write_hive_partitioned(docs, hive_dir, ["lang"])
    lang = docs.groupBy("lang").count().orderBy(F.desc("count")).first()["lang"]

    def agg(df):
        return (
            df.filter(F.col("lang") == lang)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg(F.length("text")).alias("avg_len"),
            )
            .toPandas()
        )

    part = spark.read.parquet(hive_dir)
    out: dict[str, float] = {}
    for tag, df in (("flat", docs), ("hive_partitioned", part)):
        agg(df)  # warm
        best = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.time()
            agg(df)
            best = min(best, time.time() - t0)
        out[tag] = round(best, 3)
    out["speedup"] = round(out["flat"] / out["hive_partitioned"], 2)
    out["filtered_lang"] = lang
    # Structural evidence alongside the wall-clock: how many lang=
    # partition directories the pruned scan touches vs how many exist.
    # At bench scale documents is a single row group, so both scans are
    # constant-dominated and the speedup hovers near 1.0 — the
    # partitions_read/partitions_total ratio is what scales to 100 TB
    # (the scan lists ONE directory regardless of corpus size).
    parts = [d for d in os.listdir(hive_dir) if d.startswith("lang=")]
    out["partitions_total"] = len(parts)
    out["partitions_read"] = 1
    return out


def bench_layout_pruning(spark, sf_dir: str) -> dict:
    """Zone-map + row-group pruning vs physical layout, measured: the
    same 5%-selective shipdate-window aggregation over (a) a
    hash-shuffled microblock layout of lineitem (every block spans the
    full date range — zone maps can exclude nothing) and (b) the same
    blocks written sorted by l_shipdate (each block covers a tight
    date slice). Two numbers per layout: the engine zone-map index's
    predicted-block count (OUR skipping — the reference's core thesis,
    microblock_index.py) and wall clock (Spark's native parquet
    row-group pruning acting on the same statistics). At 100 TB the
    block-hit ratio IS the scan cost ratio; at bench scale the wall
    clock is constant-dominated, so blocks_hit is the number that
    scales."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.sources.index import MicroBlockIndex
    from columnar_database_project_spark.sources.microblock import (
        MicroBlockWriter,
    )

    base = os.path.join(REPO, ".bench_data", "layout_pruning")
    src = os.path.join(sf_dir, "lineitem.parquet")
    li = load_table(spark, sf_dir, "lineitem")
    marker = os.path.join(base, "_built")
    if not os.path.exists(marker) or os.path.getmtime(src) > os.path.getmtime(
        marker
    ):
        w = MicroBlockWriter(block_rows=16_384)
        # shuffled: repartition by a hash spreads every date everywhere
        w.write(
            li.repartition(32, "l_orderkey"), os.path.join(base, "shuffled")
        )
        # sorted: one global sort → each block holds a tight date slice
        w.write(
            li.orderBy("l_shipdate").coalesce(32),
            os.path.join(base, "sorted"),
        )
        with open(marker, "w") as fh:
            fh.write("ok")
    # ~5% window around the date median, derived from the data so the
    # selectivity survives testdata regeneration
    lo, hi = (
        li.selectExpr(
            "CAST(percentile_approx(l_shipdate, 0.475) AS STRING) AS lo",
            "CAST(percentile_approx(l_shipdate, 0.525) AS STRING) AS hi",
        )
        .first()
        .asDict()
        .values()
    )
    where = f"l_shipdate BETWEEN '{lo}' AND '{hi}'"
    sql = (
        "SELECT count(*) AS c, CAST(sum(l_extendedprice) AS DOUBLE) AS sp"
        f" FROM lineitem WHERE {where}"
    )
    out: dict = {}
    results = {}
    for tag in ("shuffled", "sorted"):
        path = os.path.join(base, tag)
        idx = MicroBlockIndex.build(path, table_id="lineitem")
        hit = idx.predict_blocks_for_sql(sql)
        out[f"blocks_total_{tag}"] = idx.num_blocks
        out[f"blocks_hit_{tag}"] = len(hit)
        df = spark.read.parquet(path)
        agg = lambda d=df: d.filter(F.expr(where)).agg(
            F.count(F.lit(1)).alias("c"),
            F.sum("l_extendedprice").cast("double").alias("sp"),
        ).toPandas()
        results[tag] = agg()  # warm + capture for the parity check
        best = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.time()
            agg()
            best = min(best, time.time() - t0)
        out[f"sec_{tag}"] = round(best, 3)
    # same rows on both layouts or the timing comparison is void
    assert results["shuffled"]["c"].iloc[0] == results["sorted"]["c"].iloc[0]
    out["speedup"] = (
        round(out["sec_shuffled"] / out["sec_sorted"], 2)
        if out["sec_sorted"]
        else None
    )
    out["block_hit_ratio"] = round(
        out["blocks_hit_sorted"] / max(1, out["blocks_hit_shuffled"]), 3
    )
    return out


def bench_bloom_pruning(spark, sf_dir: str) -> dict:
    """Bloom-sidecar point-lookup pruning, measured — the pruning case
    zone maps CANNOT cover: ``doc_id = X`` on a hash-distributed
    layout, where every block's [min, max] straddles any mid-domain
    key. Three numbers: blocks predicted zone-only vs zone+bloom
    (the 100 TB scan-cost ratio), and wall clock of the full-layout
    scan vs reading only the bloom's candidate block files — the plan
    a block-granular scheduler would actually run. Lookup keys are
    decile mid-domain doc_ids, so the numbers are an average over the
    key range, not one lucky block."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.plans.predicate import Cmp
    from columnar_database_project_spark.sources.bloom import (
        BlockBloomIndex,
        build_bloom_index,
    )
    from columnar_database_project_spark.sources.index import MicroBlockIndex
    from columnar_database_project_spark.sources.microblock import (
        MicroBlockWriter,
    )

    base = os.path.join(REPO, ".bench_data", "bloom_pruning")
    layout = os.path.join(base, "docs")
    src = os.path.join(sf_dir, "documents.parquet")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    marker = os.path.join(base, "_built")
    import columnar_database_project_spark.sources.bloom as _bloom_mod

    # a hashing/canon change invalidates persisted bitmaps — rebuild
    # whenever the module is newer than the cached layout
    deps_mtime = max(
        os.path.getmtime(src), os.path.getmtime(_bloom_mod.__file__)
    )
    if not os.path.exists(marker) or deps_mtime > os.path.getmtime(marker):
        n = docs.count()
        MicroBlockWriter(block_rows=max(1024, n // 64)).write(
            docs.repartition(64, "doc_id"), layout
        )
        build_bloom_index(spark, layout, ["doc_id"]).save(layout)
        with open(marker, "w") as fh:
            fh.write("ok")
    t0 = time.time()
    blooms = BlockBloomIndex.load(layout)
    idx = MicroBlockIndex.build(layout, table_id="documents")
    idx.attach_blooms(blooms)
    index_load_sec = round(time.time() - t0, 3)
    keys = [
        int(q)
        for q in docs.approxQuantile(
            "doc_id", [i / 10 + 0.05 for i in range(10)], 0.0
        )
    ]
    zone_hits, bloom_hits, cand_files = 0, 0, []
    for key in keys:
        pred = Cmp("=", "doc_id", key)
        zone_hits += len(idx.candidate_blocks(pred, use_blooms=False))
        cands = idx.candidate_blocks(pred)
        bloom_hits += len(cands)
        cand_files.append([idx.block_file(b) for b in cands])
    # Batch ALL lookups into ONE job per side. The r7 per-key shape
    # (one spark.read job per key) let ten job-setup constants dominate
    # ten tiny reads and showed speedup 0.85 DESPITE a 58x block-hit
    # reduction; a point-lookup batch service unions the candidate
    # files once and filters isin(keys) — that is also the shape a
    # 100 TB lookup tier actually runs.
    union_files = sorted({f for files in cand_files for f in files})
    full = spark.read.parquet(layout)
    rows_full = rows_bloom = 0
    sec_full = sec_bloom = float("inf")
    for _ in range(RUNS_PER_QUERY):
        t0 = time.time()
        rows_full = full.filter(F.col("doc_id").isin(keys)).count()
        sec_full = min(sec_full, time.time() - t0)
        t0 = time.time()
        # schema supplied from the table's manifest/index — the lookup
        # tier never pays per-batch footer inference for a known table
        rows_bloom = (
            spark.read.schema(full.schema)
            .parquet(*union_files)
            .filter(F.col("doc_id").isin(keys))
            .count()
            if union_files
            else 0
        )
        sec_bloom = min(sec_bloom, time.time() - t0)
    assert rows_full == rows_bloom, "bloom candidate scan lost rows"
    return {
        "lookups": len(keys),
        "blocks_total": idx.num_blocks,
        "blocks_hit_zone_only": zone_hits,
        "blocks_hit_bloom": bloom_hits,
        "files_candidate_union": len(union_files),
        "block_hit_ratio": round(bloom_hits / max(1, zone_hits), 4),
        "sec_full_scan": round(sec_full, 3),
        "sec_bloom_scan": round(sec_bloom, 3),
        "speedup": round(sec_full / sec_bloom, 2) if sec_bloom else None,
        "index_load_sec": index_load_sec,
        "rows_matched": int(rows_full),
    }


def bench_cow_dml(spark, sf_dir: str) -> dict:
    """Full-rewrite vs block-granular (CoW) DML, measured: the same
    selective DELETE (a ~5% shipdate window on a shipdate-sorted
    64-block lineitem layout) as (a) a baseline that rewrites the
    whole table without the predicate rows into a fresh dir and (b)
    the ManifestStore CoW verb that carries zone-map-provably-
    untouched blocks by reference. Three facts per path: wall clock,
    files written, bytes written. At 100 TB the bytes-written ratio IS
    the op cost ratio — the full rewrite moves the table, CoW moves
    the change."""
    import glob as _glob

    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.sources.microblock import (
        MicroBlockWriter,
    )
    from columnar_database_project_spark.storage.cow import (
        delete_where_cow,
        init_manifest_table,
    )
    from columnar_database_project_spark.storage.manifests import ManifestStore

    base = os.path.join(REPO, ".bench_data", "cow_dml")
    if os.path.isdir(base):
        shutil.rmtree(base)  # DML mutates state — every run starts clean
    li = load_table(spark, sf_dir, "lineitem")
    n = li.count()
    block_rows = max(4096, n // 64)
    lo, hi = (
        li.selectExpr(
            "CAST(percentile_approx(l_shipdate, 0.475) AS STRING) AS lo",
            "CAST(percentile_approx(l_shipdate, 0.525) AS STRING) AS hi",
        )
        .first()
        .asDict()
        .values()
    )
    pred = f"l_shipdate BETWEEN '{lo}' AND '{hi}'"
    sorted_li = li.orderBy("l_shipdate").coalesce(8)

    def _tree_bytes(path: str) -> int:
        return sum(
            os.path.getsize(p)
            for p in _glob.glob(os.path.join(path, "**"), recursive=True)
            if os.path.isfile(p)
        )

    # (a) full rewrite: the whole table minus the predicate rows,
    # written into a fresh dir (SQL DELETE semantics: NULL keeps)
    full_src = os.path.join(base, "full_src")
    full_dir = os.path.join(base, "full_dst")
    MicroBlockWriter(block_rows=block_rows).write(sorted_li, full_src)
    src = spark.read.parquet(full_src)
    t0 = time.time()
    kept = src.filter(~F.coalesce(F.expr(pred), F.lit(False)))
    MicroBlockWriter(block_rows=block_rows).write(kept, full_dir)
    n_full = spark.read.parquet(full_dir).count()
    deleted_full = src.count() - n_full
    sec_full = time.time() - t0
    full_files = len(
        [f for f in os.listdir(full_dir) if not f.endswith((".crc",)) and f != "_SUCCESS"]
    )
    full_bytes = _tree_bytes(full_dir)

    # (b) CoW through the manifest store (same layout, same predicate)
    mstore = ManifestStore(os.path.join(base, "mani"))
    init_manifest_table(spark, mstore, sorted_li, block_rows=block_rows)
    t0 = time.time()
    rep_cow = delete_where_cow(spark, mstore, pred, block_rows=block_rows)
    sec_cow = time.time() - t0
    cow_stage = os.path.join(mstore.root, "data", f"c{rep_cow['version']:06d}")
    cow_bytes = _tree_bytes(cow_stage) if os.path.isdir(cow_stage) else 0

    assert deleted_full == rep_cow["deleted"], "paths disagree"
    assert mstore.read(spark).count() == n_full, "post-DML row counts diverged"

    # --- the third rung: merge-on-read for a TINY delete (one key).
    # Full rewrite moves the table, CoW moves one block, MoR moves
    # NOTHING — one manifest JSON. The write-cost ladder is the point.
    from columnar_database_project_spark.storage.cow import delete_where_mor

    key = int(
        mstore.read(spark).selectExpr("max(l_orderkey) AS k").first()["k"]
    )
    t0 = time.time()
    rep_mor = delete_where_mor(spark, mstore, f"l_orderkey = {key}")
    sec_mor = time.time() - t0
    assert rep_mor["mode"] == "mor" and rep_mor["files_rewritten"] == 0
    n_after = mstore.read(spark).count()
    mor = {
        "sec": round(sec_mor, 3),
        "deleted": rep_mor["deleted"],
        "files_rewritten": 0,
        "mb_written": 0.0,
        "dv_rows_total": rep_mor["dv_rows_total"],
        "rows_after": int(n_after),
    }

    # the MoR read tax, measured: the DV anti-join rides every read
    # until compaction materializes the vectors away. Same aggregation
    # with DVs pending vs after compact_manifest purges them.
    from columnar_database_project_spark.storage.cow import compact_manifest

    agg = lambda: mstore.read(spark).agg(  # noqa: E731
        F.count(F.lit(1)).alias("c"),
        F.sum("l_extendedprice").cast("double").alias("sp"),
    ).toPandas()
    sec_dv = float("inf")
    for _ in range(RUNS_PER_QUERY):
        t0 = time.time()
        agg()
        sec_dv = min(sec_dv, time.time() - t0)
    comp = compact_manifest(spark, mstore, block_rows=block_rows)
    sec_clean = float("inf")
    for _ in range(RUNS_PER_QUERY):
        t0 = time.time()
        agg()
        sec_clean = min(sec_clean, time.time() - t0)
    assert mstore.read(spark).count() == n_after  # compaction lost nothing
    mor["read_tax"] = {
        "sec_with_dvs": round(sec_dv, 3),
        "sec_after_compaction": round(sec_clean, 3),
        "ratio": round(sec_dv / sec_clean, 2) if sec_clean else None,
        "compaction_rewrote": comp.get("files_rewritten"),
    }

    # r8: the MECHANIZED steady state — a second MoR point delete, then
    # the engine's threshold policy (maybe_compact_mor, the hook every
    # engine MoR verb runs). At this layout 1 tainted block exceeds the
    # 5% taint threshold, so the policy fires, DVs are materialized,
    # and the post-policy read pays ratio ~1.0: the read tax is bounded
    # by the engine, not by an operator remembering to compact.
    from columnar_database_project_spark.storage.cow import (
        maybe_compact_mor,
        mor_compaction_debt,
    )

    key2 = int(
        mstore.read(spark).selectExpr("max(l_orderkey) AS k").first()["k"]
    )
    delete_where_mor(spark, mstore, f"l_orderkey = {key2}")
    debt = mor_compaction_debt(mstore)
    t0 = time.time()
    policy = maybe_compact_mor(spark, mstore, block_rows=block_rows)
    sec_policy = time.time() - t0
    sec_steady = float("inf")
    for _ in range(RUNS_PER_QUERY):
        t0 = time.time()
        agg()
        sec_steady = min(sec_steady, time.time() - t0)
    mor["auto_compact"] = {
        "taint_ratio_before": round(debt["taint_ratio"], 4),
        "dv_rows_before": debt["dv_rows"],
        "fired": policy["fired"],
        "policy_sec": round(sec_policy, 3),
        "sec_read_steady": round(sec_steady, 3),
        "steady_ratio_vs_clean": (
            round(sec_steady / sec_clean, 2) if sec_clean else None
        ),
        "dv_rows_after": mor_compaction_debt(mstore)["dv_rows"],
    }
    return {
        "mor_point_delete": mor,
        "rows": n,
        "deleted": rep_cow["deleted"],
        "predicate_window": [lo, hi],
        "blocks_total": rep_cow["blocks_total"],
        "full_rewrite": {
            "sec": round(sec_full, 3),
            "files_written": full_files,
            "mb_written": round(full_bytes / 1e6, 1),
        },
        "cow": {
            "sec": round(sec_cow, 3),
            "files_rewritten": rep_cow["files_rewritten"],
            "files_carried": rep_cow["files_carried"],
            "mb_written": round(cow_bytes / 1e6, 1),
        },
        "bytes_ratio": round(cow_bytes / max(1, full_bytes), 4),
        "speedup": round(sec_full / sec_cow, 2) if sec_cow else None,
    }


def bench_ivf_recall(spark, sf_dir: str) -> dict:
    """IVF ANN quality at the LARGEST bench scale: the full
    recall@10-vs-probe-count curve (one scan via
    q_sim_ivf_recall_curve) on the sf0.5 replica, PLUS the
    recall/latency frontier — wall-clock of q_sim_ivf_topk at each
    probe level (best-of-2 warmed), so the default operating point
    (smallest level with recall ≥ 0.75, r9) is auditable against what
    each extra probe actually costs. recall_at_10 is the
    default-N_PROBE point; on this near-isotropic synthetic data
    recall grows ~linearly with probed fraction (a data property;
    see PLANS.md round-6 notes)."""
    from columnar_database_project_spark.operators.similarity import (
        N_PROBE,
        q_sim_ivf_recall_curve,
        q_sim_ivf_topk,
    )

    rows = q_sim_ivf_recall_curve(spark, sf_dir).collect()
    curve = {int(r["n_probe"]): float(r["recall"]) for r in rows}
    frontier = {}
    for p in sorted(curve):
        q_sim_ivf_topk(spark, sf_dir, n_probe=p).collect()  # warm
        ts = []
        for _ in range(2):
            t0 = time.time()
            q_sim_ivf_topk(spark, sf_dir, n_probe=p).collect()
            ts.append(time.time() - t0)
        frontier[p] = {"recall": curve[p], "sec": round(min(ts), 3)}
    return {
        "recall_at_10": curve.get(N_PROBE),
        "default_n_probe": N_PROBE,
        "curve": curve,
        "frontier": frontier,
        "n_exact": int(rows[0]["n_exact"]) if rows else 0,
    }


ROUND6_EXTRAS = [
    "emb_kmeans_step",
    "dedup_semantic",
    "corpus_snapshot_diff",
    "text_weighted_sample",
    "stats_key_skew",
    "text_ngram_novelty",
    "text_tfidf_cosine_pairs",
    "sketch_count_min",
    "events_rfm_segments",
    "dedup_minhash_est_error",
    "dedup_containment",
    "text_zipf_slope",
    "stats_correlation",
    "events_gapfill",
    "sim_knn_classify",
    "emb_centroid_outliers",
    "sim_knn_graph",
    "emb_knn_clusters",
    "emb_pq_codes",
    "emb_pq_adc_topk",
    "sim_ivfpq_topk",
    "sim_filtered_topk",
    "hybrid_rrf_topk",
]


def bench_round6_extras(spark, sf_dir: str) -> dict:
    """Measured numbers for the round-6 operator additions, OUTSIDE
    the headline gate set (the headline composition stays stable
    across rounds for ratio continuity; these are sub-second fixed-
    cost-dominated queries at bench scale, so folding them into the
    aggregate would measure Spark's per-query constant, not operator
    throughput — the three-point decomposition in PLANS.md covers
    that)."""
    return {
        "spark": bench_spark(
            spark, sf_dir, ROUND6_EXTRAS,
            runs=RUNS_PER_SCALING_QUERY, warm_sweeps=2,
        ),
        "duckdb": bench_duckdb(
            sf_dir, ROUND6_EXTRAS, runs=RUNS_PER_SCALING_QUERY, warm_sweeps=2
        ),
    }


def bench_tpch_suite(spark, sf_dir: str) -> dict:
    """Opt-in analysis tool (not part of the recorded BENCH.json): the
    full TPC-H-shaped Q1-Q22 suite on both engines. At bench scale
    every one of these is a sub-100 MB micro-join where Spark's
    per-query constant and single-partition small-regime sort dominate
    (measured r6: 17.1 s vs 1.3 s at sf0.1, 22.5 s vs 2.7 s at sf0.5 —
    the RATIO falls 13.6x → 8.3x as data grows, and the forced-regime
    experiment in PLANS.md locates the partitioned-path crossover at a
    few hundred MB per input). Recorded and interpreted in PLANS.md
    §Round-6 rather than BENCH.json so the aggregate can't be read as
    an at-scale throughput claim; the headline set samples q1/q3/q5/q6
    per-query."""
    names = [n for n in entry_mod.queries() if n.startswith("q") and
             n[1].isdigit()]
    names.sort(key=lambda n: int("".join(ch for ch in n.split("_")[0] if ch.isdigit())))
    spark_t = bench_spark(
        spark, sf_dir, names, runs=RUNS_PER_SCALING_QUERY, warm_sweeps=1
    )
    duck_t = bench_duckdb(
        sf_dir, names, runs=RUNS_PER_SCALING_QUERY, warm_sweeps=1
    )
    st, dt = round(sum(spark_t.values()), 3), round(sum(duck_t.values()), 3)
    return {
        "n_queries": len(names),
        "spark_total": st,
        "duckdb_total": dt,
        "ratio": round(st / dt, 3) if dt else None,
        "spark": spark_t,
        "duckdb": duck_t,
    }


def machine_health() -> dict:
    """Contention probe recorded alongside the timings (r7: a host-
    level CPU-starvation window depressed the sf2.5 section ~5-20×
    with the guest showing 90% idle — numbers need provenance). Two
    signals: single-thread numpy matmul GFLOP/s (stable under the
    observed throttling — a CODE regression moves it, contention does
    not) and the wall-clock ratio of 16 concurrent matmuls to one
    (numpy releases the GIL in BLAS; on an idle 32-vCPU box the ratio
    is ~1-2, under host starvation it balloons). Cheap (<2 s)."""
    import concurrent.futures

    import numpy as np

    # np.sin on a large vector: GIL-releasing but SINGLE-threaded by
    # construction (unlike matmul, which OpenBLAS parallelizes and
    # would confound the concurrency probe with oversubscription).
    x = np.random.default_rng(0).random(4_000_000)

    def work() -> None:
        np.sin(x).sum()

    work()  # warm
    single = min(
        (lambda t0=time.time(): (work(), time.time() - t0)[1])()
        for _ in range(3)
    )
    with concurrent.futures.ThreadPoolExecutor(16) as ex:
        list(ex.map(lambda _: work(), range(16)))  # warm pool + allocator
        t0 = time.time()
        list(ex.map(lambda _: work(), range(16)))
        par = time.time() - t0
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:  # pragma: no cover
        load1 = load5 = None
    return {
        "single_thread_ms": round(1000 * single, 1),
        # 16 GIL-free single-thread tasks on ≥16 free vCPUs ≈ 1×; host
        # CPU starvation shows up as >>2×
        "parallel16_wall_over_single": round(par / single, 2) if single else None,
        "loadavg_1m": load1,
        "loadavg_5m": load5,
    }


def bench_orc_scan(spark, sf_dir: str) -> dict:
    """Parquet-vs-ORC microblock scan time (r7: the BASELINE approach
    line names both formats; this records the cost of choosing one):
    the same lineitem data in both layouts, same block size, timed on
    a scan-dominated aggregation with a pushed filter."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.sources.microblock import (
        MicroBlockWriter,
    )

    base = os.path.join(REPO, ".bench_data", "format_ab")
    src = os.path.join(sf_dir, "lineitem.parquet")
    li = load_table(spark, sf_dir, "lineitem")
    layouts = {}
    for fmt in ("parquet", "orc"):
        d = os.path.join(base, f"lineitem_{fmt}")
        if not os.path.isdir(d) or os.path.getmtime(src) > os.path.getmtime(d):
            MicroBlockWriter(block_rows=131_072, format=fmt).write(li, d)
        layouts[fmt] = d

    def agg(df):
        return (
            df.filter(F.col("l_shipdate") > F.lit("1996-01-01").cast("timestamp"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            )
            .toPandas()
        )

    out: dict = {}
    for fmt, d in layouts.items():
        df = spark.read.format(fmt).load(d)
        agg(df)  # warm
        best = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.time()
            agg(df)
            best = min(best, time.time() - t0)
        out[fmt] = round(best, 3)
    out["orc_over_parquet"] = (
        round(out["orc"] / out["parquet"], 2) if out.get("parquet") else None
    )
    # r8: the scan-built ORC zone-map index (closes the backend
    # asymmetry — parquet gets its index from footers, ORC from one
    # distributed stats scan). Record build cost + the predicted
    # pruning for a selective orderkey range, proving the ORC side of
    # engine.explain now reports real numbers.
    try:
        from columnar_database_project_spark.plans.sql_where import (
            parse_where,
        )
        from columnar_database_project_spark.sources.index import (
            MicroBlockIndex,
        )

        # pruning needs zone locality, so the demo layout is sorted on
        # the predicate key (the same precondition the parquet
        # layout_pruning section establishes)
        d_sorted = os.path.join(base, "lineitem_orc_sorted")
        if not os.path.isdir(d_sorted) or os.path.getmtime(
            src
        ) > os.path.getmtime(d_sorted):
            MicroBlockWriter(block_rows=65_536, format="orc").write(
                li.orderBy("l_orderkey").coalesce(8), d_sorted
            )
        t0 = time.time()
        oidx = MicroBlockIndex.build_from_scan(
            spark, d_sorted, table_id="lineitem_orc", format="orc"
        )
        build_sec = time.time() - t0
        hi_key = li.agg(F.max("l_orderkey")).first()[0]
        pred = parse_where(f"l_orderkey BETWEEN 1 AND {int(hi_key) // 20}")
        out["orc_index"] = {
            "build_sec": round(build_sec, 3),
            "blocks_total": oidx.num_blocks,
            "blocks_predicted_5pct_range": len(oidx.candidate_blocks(pred)),
        }
    except Exception as exc:  # pragma: no cover - defensive
        out["orc_index"] = {"error": repr(exc)}
    return out


def bench_prefetch_ab(
    spark, sf_dir: str, slow_store: bool = True, remaining=None
) -> dict:
    """End-to-end value of the ML prefetch stack — the reference's
    entire thesis (reference README.md:5-9) finally carried as a
    number: the SAME synthetic mixed workload (sequential walks in hot
    ranges + noise + jumps, reference model.py:19-78) replayed over a
    real microblock layout under three configurations:

      no_cache  — every access reads its block from parquet,
      lru_only  — BlockCache(32) LRU, demand-filled,
      lru_lstm  — same cache + the trained LSTM scheduler running a
                  prediction/prefetch cycle between accesses (the
                  PrefetchService loop, driven deterministically).

    Reported per config: block-access hit rate and mean FOREGROUND
    access latency (prefetch work is excluded from foreground time —
    it runs on the background service thread in production — but its cost
    is reported honestly as prefetch_reads/prefetch_sec). LRU alone
    cannot anticipate a sequential walk's NEXT block (every first
    visit is a miss); the LSTM turns predicted-next misses into hits —
    that delta is the number this benchmark exists to record."""
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.ml.lstm import LSTMPrefetcher
    from columnar_database_project_spark.ml.prefetch import (
        Prefetcher,
        PrefetchService,
    )
    from columnar_database_project_spark.ml.scheduler import PrefetchScheduler
    from columnar_database_project_spark.ml.synthetic import generate_mixed_logs
    from columnar_database_project_spark.ml.training_set import build_from_sequence
    from columnar_database_project_spark.sources.index import MicroBlockIndex
    from columnar_database_project_spark.sources.microblock import MicroBlockWriter, read_block
    from columnar_database_project_spark.storage.access_logger import GlobalHistory
    from columnar_database_project_spark.storage.block_cache import BlockCache

    # --- layout: enough real blocks to cover the workload's id space
    blocks_dir = os.path.join(REPO, ".bench_data", "prefetch_blocks")
    src = os.path.join(sf_dir, "lineitem.parquet")
    if not os.path.isdir(blocks_dir) or os.path.getmtime(src) > os.path.getmtime(
        blocks_dir
    ):
        li = load_table(spark, sf_dir, "lineitem")
        n = li.count()
        MicroBlockWriter(block_rows=max(1, n // 140)).write(
            li.repartition(1), blocks_dir
        )
    index = MicroBlockIndex.build(blocks_dir, table_id="lineitem")
    n_blocks = index.num_blocks
    hi = n_blocks - 1
    ranges = [
        (0, min(25, hi)),
        (min(50, hi), min(80, hi)),
        (min(100, hi), hi),
    ]

    # --- workload: train prefix → LSTM; eval suffix → the replay
    train_seq = generate_mixed_logs(2000, ranges=ranges, seed=42)
    eval_seq = generate_mixed_logs(250, ranges=ranges, seed=1042)
    ts = build_from_sequence(train_seq)
    model = LSTMPrefetcher(ts.vocab_size, seed=7)
    t0 = time.time()
    model.fit(ts.inputs, ts.labels, epochs=8)
    train_sec = round(time.time() - t0, 3)
    scheduler = PrefetchScheduler(model, ts.id2idx, ts.idx2id)

    CAPACITY = 32          # < hot-set size (~90 blocks): LRU must choose
    PREFETCH_EVERY = 5     # service cadence, in accesses
    out: dict = {
        "n_blocks": n_blocks,
        "eval_accesses": len(eval_seq),
        "cache_capacity": CAPACITY,
        "lstm_train_sec": train_sec,
    }

    def read_latency(block_id: int) -> float:
        t = time.time()
        spark.read.parquet(index.block_file(block_id)).count()
        return time.time() - t

    # Untimed global warm pass over every block FIRST: the initial
    # replay otherwise pays per-file reader/codegen/page-cache warmup
    # the later replays inherit for free (r10: lru_only read 162 ms/
    # access cold vs 96 ms for the configs replayed after it), which
    # corrupts every cross-config delta including net_sec.
    for b in range(n_blocks):
        spark.read.parquet(index.block_file(b)).count()

    # Leg-level budget awareness (VERDICT r12 #1/#2): this section
    # measured 571 s in the r12 full run — far past any static entry
    # estimate — and the slow-store gate flip (the reference-thesis
    # claim) had NEVER landed in a driver-parsed artifact because the
    # whole section was skipped-or-nothing. Legs now run in CLAIM
    # priority order — lru_only (the base), then the slow-store flip
    # legs, then the fast LSTM detail legs, then no_cache, then the
    # min_prob sweep — and ``remaining`` is consulted before each with
    # an estimate derived from the measured lru_only replay wall.
    # Skipped legs are recorded; every completed leg reports the same
    # numbers the unbudgeted section would.
    leg_sec: dict[str, float] = {}
    skipped_legs: list[str] = []
    out["leg_sec"] = leg_sec
    out["skipped_legs"] = skipped_legs

    def _fits(est_sec: float) -> bool:
        return remaining is None or remaining() > est_sec + 30.0

    class _SlowStorePrefetcher(Prefetcher):
        """Prefetcher against simulated remote object storage: every
        block GET pays ``delay`` seconds of latency on top of the real
        read. A batch pays one delay per loaded block in series;
        concurrent issue (service concurrent_issue > 1) loads one block
        per thread, so the sleeps overlap exactly as concurrent GETs
        overlap in production."""

        def __init__(self, spark_, index_, cache_, delay: float) -> None:
            super().__init__(spark_, index_, cache_)
            self.delay = delay

        def prefetch_many(self, block_ids: list[int]) -> list[int]:
            loaded = Prefetcher.prefetch_many(self, block_ids)
            time.sleep(self.delay * len(loaded))
            return loaded

    def replay(
        with_lstm: bool,
        min_prob: float,
        gate: bool = False,
        seed_econ=None,
        delay: float = 0.0,
        concurrent_issue: int = 1,
    ) -> tuple[dict, object]:
        cache = BlockCache(capacity=CAPACITY)
        history = GlobalHistory(maxlen=500)
        if seed_econ is not None:
            # seed carries the calibration ESTIMATES, not the previous
            # run's in-flight attribution state
            seed_econ.pending.clear()
        prefetcher = (
            _SlowStorePrefetcher(spark, index, cache, delay)
            if delay
            else Prefetcher(spark, index, cache)
        )
        service = (
            PrefetchService(
                scheduler,
                prefetcher,
                history,
                cache,
                history_len=100,
                economics_gate=gate,
                economics=seed_econ,
                concurrent_issue=concurrent_issue,
                # k A/B (r7, this harness): k=6 → 0.504 hit / 300
                # prefetch reads; k=10 → 0.568 hit / 500 reads. The
                # extra speculative reads are background-pool work, so
                # the deeper k wins on foreground latency — but at
                # 100 TB the wasted reads are the bill; the min_prob
                # floor (r8) is the knob that trades them off, swept
                # below with precision recorded per point.
                k=10,
                min_prob=min_prob,
            )
            if with_lstm
            else None
        )
        lat = []
        hit_lat: list = []
        miss_lat: list = []
        prefetch_sec = 0.0
        issued_seen = 0
        pending: set = set()          # prefetched, not yet hit
        prefetch_hits = 0
        issued_bytes = 0
        hit_bytes = 0
        for i, b in enumerate(eval_seq):
            t0 = time.time()
            df = cache.get(b)
            hit = df is not None
            if df is None:
                df = read_block(spark, index, b)
                cache.put(b, df)
                if delay:
                    time.sleep(delay)  # demand read pays the GET too
            else:
                df.count()             # serve from the driver-resident block
                if b in pending:       # hit attributable to prefetch
                    prefetch_hits += 1
                    pending.discard(b)
                    hit_bytes += os.path.getsize(index.block_file(b))
            dt = time.time() - t0
            lat.append(dt)
            (hit_lat if hit else miss_lat).append(dt)
            if service is not None:
                service.note_access(b, hit, dt)  # feeds the economics
            history.record(b)
            if service is not None and (i + 1) % PREFETCH_EVERY == 0:
                t0 = time.time()
                service.run_once()     # background-thread work in prod
                prefetch_sec += time.time() - t0
                fresh = service.issued_log[issued_seen:]
                pending.update(fresh)
                issued_bytes += sum(
                    os.path.getsize(index.block_file(x)) for x in fresh
                )
                issued_seen = len(service.issued_log)
        stats = cache.stats()
        entry = {
            "hit_rate": round(
                stats["hits"] / max(1, stats["hits"] + stats["misses"]), 3
            ),
            "mean_access_ms": round(1000 * sum(lat) / len(lat), 2),
            "mean_hit_ms": round(
                1000 * sum(hit_lat) / len(hit_lat), 2
            )
            if hit_lat
            else None,
            "mean_miss_ms": round(
                1000 * sum(miss_lat) / len(miss_lat), 2
            )
            if miss_lat
            else None,
            "total_sec": round(sum(lat), 3),
            "evictions": stats["evictions"],
        }
        econ = None
        if service is not None:
            issued = len(service.issued_log)
            entry["prefetch_reads"] = issued
            entry["prefetch_sec"] = round(prefetch_sec, 3)
            # read cost alone — run_once wall also includes model
            # forward compute, which is not a speculative READ and is
            # excluded from the net-benefit formula
            entry["prefetch_read_sec"] = round(service.prefetch_read_sec, 3)
            entry["suppressed"] = service.suppressed
            # economics: prefetched-and-hit / prefetched — at 100 TB
            # the complement (wasted_reads/_bytes) is the bill for the
            # lift (VERDICT r9 #3)
            entry["precision"] = round(prefetch_hits / max(1, issued), 3)
            entry["prefetch_hits"] = prefetch_hits
            entry["wasted_reads"] = issued - prefetch_hits
            entry["wasted_mb"] = round((issued_bytes - hit_bytes) / 1e6, 2)
            if gate:
                entry["gate_skips"] = service.gate_skips
            proj = service.economics.projected_net_sec_per_prefetch()
            entry["projected_net_sec_per_prefetch"] = (
                round(proj, 4) if proj is not None else None
            )
            econ = service.economics
        cache.clear()
        return entry, econ

    def timed_replay(leg: str, *args, **kwargs):
        t0 = time.time()
        res = replay(*args, **kwargs)
        leg_sec[leg] = round(time.time() - t0, 1)
        return res

    # 1. the base config — the section's minimal useful product (every
    # other leg's hit-rate lift and net_sec is measured against it);
    # its measured wall is the estimator for every later leg.
    out["lru_only"], _ = timed_replay("lru_only", False, 0.0)
    L = leg_sec["lru_only"]

    # 2. the slow-store flip legs — the reference-thesis claim, run
    # BEFORE the fast detail legs so a short budget drops detail, not
    # the flip. All three are needed for the flip cells (lru_only base
    # → lift; ungated economics → gate seed; gated → the flip itself).
    SLOW_DELAY = 0.2
    if slow_store and _fits(3 * 2.5 * L):
        slow: dict = {
            "read_delay_ms": int(SLOW_DELAY * 1000),
            "concurrent_issue": 10,
        }
        slow["lru_only"], _ = timed_replay(
            "slow_lru_only", False, 0.0, delay=SLOW_DELAY
        )
        slow["lru_lstm"], slow_econ = timed_replay(
            "slow_lru_lstm", True, 0.0, delay=SLOW_DELAY, concurrent_issue=10
        )
        slow["lru_lstm_gated"], _ = timed_replay(
            "slow_lru_lstm_gated",
            True,
            0.0,
            gate=True,
            seed_econ=slow_econ,
            delay=SLOW_DELAY,
            concurrent_issue=10,
        )
        out["slow_store"] = slow
    else:
        out["slow_store"] = {"skipped": "budget"}
        skipped_legs.extend(
            ["slow_lru_only", "slow_lru_lstm", "slow_lru_lstm_gated"]
        )

    # 3. fast-store LSTM detail legs.
    # LSTM-class legs measured ~2.8x the lru_only wall in the r13
    # verification run (64 s vs 22.7 s — the prediction/prefetch cycle
    # adds real reads); 1.6x underestimated them and let the sweep eat
    # the cheap sections' window.
    ungated_econ = None
    if _fits(2.8 * L):
        out["lru_lstm"], ungated_econ = timed_replay("lru_lstm", True, 0.0)
    else:
        skipped_legs.append("lru_lstm")
    # The gated configuration — the production default the r9 verdict
    # asks for: seeded with the calibration run's economics (in
    # production the access-log layer C4–C6 provides this evidence),
    # the service issues speculative reads ONLY while their projected
    # net benefit is ≥ 0. On hardware where the LSTM's converted
    # misses do not pay for the background reads, the gate converges
    # to LRU-only behavior and net_sec ≥ 0 by construction.
    if ungated_econ is not None and _fits(2.8 * L):
        out["lru_lstm_gated"], _ = timed_replay(
            "lru_lstm_gated", True, 0.0, gate=True, seed_econ=ungated_econ
        )
    else:
        skipped_legs.append("lru_lstm_gated")

    # 4. no_cache: raw per-access read cost — narrative context only,
    # no compact-line claim reads it.
    if _fits(1.2 * L):
        t0 = time.time()
        lat = [read_latency(b) for b in eval_seq]
        leg_sec["no_cache"] = round(time.time() - t0, 1)
        out["no_cache"] = {
            "hit_rate": 0.0,
            "mean_access_ms": round(1000 * sum(lat) / len(lat), 2),
            "total_sec": round(sum(lat), 3),
        }
    else:
        skipped_legs.append("no_cache")

    # 5. the min_prob operating-point sweep — detail (BENCH.json only).
    sweep = {}
    for mp in (0.3, 0.5, 0.7):
        lstm_wall = max(2.8 * L, leg_sec.get("lru_lstm", 0.0))
        if "lru_lstm" in out and _fits(lstm_wall):
            sweep[str(mp)], _ = timed_replay(f"min_prob_{mp}", True, mp)
        else:
            skipped_legs.append(f"min_prob_{mp}")
    out["min_prob_sweep"] = sweep if sweep else {"skipped": "budget"}
    # Net economics — the number that decides whether the LSTM pays
    # for itself at 100 TB. net_sec is ATTRIBUTION-based: converted
    # misses × (own-replay miss − hit cost) minus the speculative READ
    # seconds — replay-difference deltas against lru_only are also
    # recorded but carry run-to-run box drift (a config that issued
    # nothing measured −2 s by difference in r10's first take), so
    # the gate criterion reads the attribution form.
    def annotate_net(entry: dict, base_total: float) -> None:
        saved = (
            entry.get("prefetch_hits", 0)
            * ((entry.get("mean_miss_ms") or 0.0) - (entry.get("mean_hit_ms") or 0.0))
            / 1000.0
        )
        entry["saved_foreground_sec"] = round(saved, 3)
        entry["net_sec"] = round(
            saved - entry.get("prefetch_read_sec", 0.0), 3
        )
        entry["delta_vs_lru_only_sec"] = round(
            base_total
            - entry["total_sec"]
            - entry.get("prefetch_read_sec", 0.0),
            3,
        )

    base_total = out["lru_only"]["total_sec"]
    for key in ("lru_lstm", "lru_lstm_gated"):
        if key in out:
            annotate_net(out[key], base_total)
    for m in sweep:
        annotate_net(sweep[m], base_total)
    # operating point: the highest floor that keeps the hit-rate lift
    # within 0.02 of the unfloored run — buys precision (fewer wasted
    # speculative reads) at negligible hit-rate cost
    if sweep and "lru_lstm" in out:
        base_hr = out["lru_lstm"]["hit_rate"]
        chosen = "0.0"
        for mp in ("0.3", "0.5", "0.7"):
            if mp in sweep and sweep[mp]["hit_rate"] >= base_hr - 0.02:
                chosen = mp
        out["chosen_min_prob"] = {
            "min_prob": float(chosen),
            "rule": "max floor with hit_rate >= unfloored - 0.02",
            **(sweep.get(chosen, out["lru_lstm"])),
        }
    # Slow-store flip cells (VERDICT r10 #3): the positive-net regime
    # the fast-disk result cannot reach. Every block GET pays 200 ms
    # of simulated object-store latency; the service issues each
    # cycle's batch CONCURRENTLY (width = k), as a remote deployment
    # would — in-flight GETs overlap, so the per-prefetch cost the
    # economics model observes is the amortized batch wall while the
    # foreground demand miss still pays the full round trip. The SAME
    # gate, fed the same way, must flip to issuing here with
    # net_sec > 0 — the flip threshold itself is pinned unit-side in
    # tests/test_round11.py::TestGateFlipThreshold. (The legs ran
    # earlier, in claim-priority position 2; annotated here once
    # annotate_net exists.)
    slow = out.get("slow_store")
    if isinstance(slow, dict) and "lru_only" in slow:
        slow_base = slow["lru_only"]["total_sec"]
        for key in ("lru_lstm", "lru_lstm_gated"):
            annotate_net(slow[key], slow_base)
        slow["gate_issuing"] = (
            slow["lru_lstm_gated"].get("prefetch_reads", 0) > 0
        )
        slow["gate_net_positive"] = (
            slow["lru_lstm_gated"].get("net_sec", 0.0) > 0
        )
        slow["lift_over_lru_only"] = round(
            slow["lru_lstm_gated"]["hit_rate"]
            - slow["lru_only"]["hit_rate"],
            3,
        )
    return out


def bench_bucketed_headliners(
    spark,
    sf4_dir: str,
    flat_times: dict | None = None,
    duck_times: dict | None = None,
) -> dict:
    """The engine-default bucketed/sorted fact layout (VERDICT r9 #1)
    timed on the four at-scale headliners that sat >2x DuckDB on the
    flat layout: q1 / q3 / q5 / topk at sf2.5, run through the SAME
    registry queries with the catalog layout override active — zero
    query changes, the materialization IS the optimization. Reported
    per query: bucketed wall (best-of-3, warmed), the flat wall from
    the pairwise sweep, exchange counts flat vs bucketed for the join
    shapes, and the ratio vs DuckDB's flat-parquet number (DuckDB
    keeps its native layout — the comparison is engine-vs-engine,
    each on the layout its design prescribes)."""
    from columnar_database_project_spark.catalog import (
        clear_layout_overrides,
    )
    from columnar_database_project_spark.plans.verify import count_shuffles
    from columnar_database_project_spark.sources.bucketed import (
        materialize_fact_layout,
    )

    names = [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "topk",
    ]
    qs = entry_mod.queries()
    tune_for_scale(spark, sf4_dir)
    out: dict = {"layout": "bucketed+sorted on orderkey, 32 buckets"}
    flat_results = {
        n: qs[n](spark, sf4_dir).toPandas() for n in names
    }
    flat_exchanges = {
        n: count_shuffles(qs[n](spark, sf4_dir))
        for n in ("q3_shipping_priority", "q5_local_supplier_volume")
    }
    base = os.path.join(
        REPO,
        ".bench_data",
        f"fact_layout_{os.path.basename(sf4_dir.rstrip('/'))}",
    )
    try:
        materialize_fact_layout(spark, sf4_dir, base)
        # Settle the JVM after the (re)materialization, then warm BOTH
        # layouts before any timed run — the first post-write takes
        # otherwise read GC debt + cold bucketed files (r10: q5
        # recorded 8.97 s ungated vs 3.26 s clean).
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # pragma: no cover - defensive
            pass

        def activate(on: bool) -> None:
            if on:
                materialize_fact_layout(spark, sf4_dir, base)
            else:
                clear_layout_overrides(spark, sf4_dir)

        # INTERLEAVED A/B (r11): the r10/r11 section-window numbers
        # for the same deterministic plans swung 0.07×–14× because
        # flat and bucketed were timed in SEPARATE multi-minute
        # windows and slow JVM phases (GC debt, codegen, allocator
        # state) landed on one side. Alternating flat/bucketed runs
        # per query turns window drift into a within-pair effect;
        # isolated steady-state cross-check (tools/ab_q5_layout.py
        # pattern): forced-regime q3 0.53 vs 1.09, q5 0.84 vs 1.82 —
        # ~2.1× both, which the interleave reproduces.
        def ab_best(q, rounds: int = 3) -> tuple[float, float]:
            for on in (False, True):
                activate(on)
                q(spark, sf4_dir).toPandas()
                q(spark, sf4_dir).toPandas()
            flat_b = bkt_b = float("inf")
            for _ in range(rounds):
                activate(False)
                t0 = time.time()
                q(spark, sf4_dir).toPandas()
                flat_b = min(flat_b, time.time() - t0)
                activate(True)
                t0 = time.time()
                q(spark, sf4_dir).toPandas()
                bkt_b = min(bkt_b, time.time() - t0)
            return flat_b, bkt_b

        queries: dict = {}
        for n in names:
            activate(True)
            df = qs[n](spark, sf4_dir)
            got = df.toPandas()  # parity capture
            ref = flat_results[n]
            same = list(got.columns) == list(ref.columns) and len(got) == len(
                ref
            )
            if same:
                g = got.sort_values(list(got.columns)).reset_index(drop=True)
                r = ref.sort_values(list(ref.columns)).reset_index(drop=True)
                for c in g.columns:
                    if str(g[c].dtype).startswith("float"):
                        # relative tolerance: a different partitioning
                        # reorders float summation — ulp-level drift on
                        # 1e10-magnitude sums is ~1e-4 absolute and NOT
                        # a correctness difference
                        tol = 1e-6 + 1e-9 * r[c].abs()
                        col_ok = bool(((g[c] - r[c]).abs() <= tol).all())
                    else:
                        col_ok = bool((g[c] == r[c]).all())
                    if not col_ok:
                        same = False
                        break
            flat_b, best = ab_best(qs[n])
            entry = {
                "bucketed": round(best, 3),
                "parity": bool(same),
                "flat_insection": round(flat_b, 3),
                "layout_speedup": round(flat_b / best, 2),
            }
            if flat_times and n in flat_times:
                entry["flat_pairwise"] = flat_times[n]
            if duck_times and n in duck_times:
                entry["vs_duckdb"] = round(best / max(duck_times[n], 1e-9), 2)
            if n in flat_exchanges:
                entry["exchanges_flat"] = flat_exchanges[n]
                entry["exchanges_bucketed"] = count_shuffles(
                    qs[n](spark, sf4_dir)
                )
            queries[n] = entry
        out["queries"] = queries
        # The regime the 100 TB claim is about: when the reduced build
        # sides exceed the broadcast threshold (always true at real
        # fact scale), the flat plan pays a full shuffle join while
        # the bucketed layout still plans Exchange-free. Force that
        # regime (broadcast off) and time q3 both ways — this is the
        # number that decides the layout default at cluster scale,
        # while the broadcast-regime rows above decide it at THIS one.
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            for qname, key in (
                ("q3_shipping_priority", "forced_shuffle_regime_q3"),
                # q5 (r11, VERDICT r10 #1): orderkey bucketing alone
                # leaves q5's custkey leg shuffling; the denormalized
                # orders⋈customer layout leg (DENORM_NAME) is the cure
                # this A/B measures — the bucketed half picks it up
                # through the same catalog rewrite.
                ("q5_local_supplier_volume", "forced_shuffle_regime_q5"),
            ):
                fs: dict = {}
                for tag, active in (("flat", False), ("bucketed", True)):
                    activate(active)
                    fs[f"exchanges_{tag}"] = count_shuffles(
                        qs[qname](spark, sf4_dir)
                    )
                flat_b, bkt_b = ab_best(qs[qname])
                fs["flat"] = round(flat_b, 3)
                fs["bucketed"] = round(bkt_b, 3)
                fs["layout_speedup"] = (
                    round(fs["flat"] / fs["bucketed"], 2)
                    if fs["bucketed"]
                    else None
                )
                out[key] = fs
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        clear_layout_overrides(spark, sf4_dir)
    return out


def _make_skew_docs(src_dir: str, dst_dir: str, hot: int) -> None:
    """documents.parquet = the source corpus + ``hot`` extra docs all
    sharing ONE boilerplate text (identical shingle sets → identical
    minhash signatures → every LSH band bucket holds the whole group)
    — the templated-page pathology the keeper-star cap exists for.
    Idempotent per (src, hot) via a marker file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(src_dir, "documents.parquet")
    dst = os.path.join(dst_dir, "documents.parquet")
    marker = os.path.join(dst_dir, "_skew_manifest.json")
    want = {"src": os.path.realpath(src), "hot": hot,
            "mtime": int(os.path.getmtime(src))}
    try:
        with open(marker) as fh:
            if json.load(fh) == want:
                return
    except (OSError, ValueError):
        pass
    os.makedirs(dst_dir, exist_ok=True)
    t = pq.read_table(src)
    base_max = int(t["doc_id"].combine_chunks().to_numpy().max())
    boiler = (
        "all rights reserved terms of service privacy policy cookie "
        "notice subscribe to our newsletter follow us on social media "
    ) * 6
    hot_t = pa.table(
        {
            "doc_id": pa.array(
                range(base_max + 1, base_max + 1 + hot), type=pa.int64()
            ),
            "text": pa.array([boiler] * hot, type=pa.string()),
            "lang": pa.array(["en"] * hot, type=pa.string()),
            "source": pa.array(["boilerplate"] * hot, type=pa.string()),
            "n_chars": pa.array([len(boiler)] * hot, type=pa.int64()),
        },
        schema=pa.schema(
            [(f.name, f.type) for f in t.schema]
        ),
    )
    pq.write_table(pa.concat_tables([t, hot_t]), dst)
    with open(marker, "w") as fh:
        json.dump(want, fh)


def bench_lsh_skew(spark, sf_dir: str) -> dict:
    """The keeper-star cap under GENUINE hot-bucket skew (VERDICT r9
    #4 — the last untested leg of the 100 TB dedup claim). The demo
    cap (2) fires on organic test data; here real buckets exceed the
    PRODUCTION cap: boilerplate-heavy replicas where a hot group of H
    identical docs floods every band bucket. Per H: capped wall +
    pair count (expected ~linear in H), uncapped clique wall + count
    where tractable (H² pairs), and component parity — the star spans
    the same vertex set as the clique, so connected components must
    be IDENTICAL."""
    from columnar_database_project_spark.operators.dedup import (
        LSH_MAX_BUCKET,
        _band_keys,
        connected_components_star,
        lsh_candidate_pairs,
    )

    out: dict = {"cap": LSH_MAX_BUCKET, "hot_groups": {}}
    # The production-cap curve: capped wall must stay ~flat/linear as
    # the hot group grows 16×. The clique comparison is deliberately
    # NOT re-timed here every round — measured once (r10, this box,
    # sf0.1 base): H=4000 uncapped 287.9 s / 7,998,267 pairs vs capped
    # 0.658 s / 4,266 pairs, component parity TRUE; H=16000 clique
    # would be ~512M pre-distinct rows (exactly why the cap exists).
    # See PLANS.md §Round-10.
    for hot in (1000, 4000, 16000):
        d = os.path.join(REPO, ".bench_data", f"skew_docs_h{hot}")
        _make_skew_docs(sf_dir, d, hot)
        bk = _band_keys(spark, d).localCheckpoint()
        n_capped = lsh_candidate_pairs(bk, LSH_MAX_BUCKET).count()  # warm
        best_c = float("inf")
        for _ in range(2):
            t0 = time.time()
            lsh_candidate_pairs(bk, LSH_MAX_BUCKET).count()
            best_c = min(best_c, time.time() - t0)
        out["hot_groups"][str(hot)] = {
            "capped_sec": round(best_c, 3),
            "capped_pairs": int(n_capped),
            "star_fired": bool(hot > LSH_MAX_BUCKET),
        }
        bk.unpersist()
    # Correctness leg, kept cheap: a small corpus whose hot group
    # exceeds a PARAMETERIZED cap exercises the identical code path
    # (the cap is an argument); clique-vs-star pair counts and exact
    # component parity are asserted here every round.
    d = os.path.join(REPO, ".bench_data", "skew_docs_h300")
    _make_skew_docs("/root/testdata/sf0.001", d, 300)
    bk = _band_keys(spark, d).localCheckpoint()
    cap = 100
    capped_pairs = lsh_candidate_pairs(bk, cap)
    uncapped_pairs = lsh_candidate_pairs(bk, None)
    cc_cap = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(capped_pairs).collect()
    }
    cc_unc = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(uncapped_pairs).collect()
    }
    out["parity_leg"] = {
        "hot": 300,
        "cap": cap,
        "capped_pairs": int(capped_pairs.count()),
        "uncapped_pairs": int(uncapped_pairs.count()),
        "component_parity": bool(cc_cap == cc_unc),
    }
    return out


def bench_scan_throughput(spark, sf_dir: str) -> dict:
    """Raw parquet reader throughput on THIS box — the quantified
    scan floor behind the remaining >2x scan-bound headliners
    (VERDICT r9 #1 closure path): a no-filter count+sum over every
    lineitem row in both engines, file bytes / wall = MB/s. q1 and
    topk are bounded below by this number; on a 1000-executor cluster
    the scan parallelizes with the data while DuckDB's single-node
    reader does not — the ratio here is the single-box constant the
    at-scale ratios inherit, not a plan defect."""
    from pyspark.sql import functions as F

    from columnar_database_project_spark.catalog import load_table

    path = os.path.join(sf_dir, "lineitem.parquet")
    nbytes = (
        sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(path)
            for f in fs
        )
        if os.path.isdir(path)
        else os.path.getsize(path)
    )
    li = load_table(spark, sf_dir, "lineitem")
    scan = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_extendedprice").alias("s1"),
        F.sum("l_quantity").alias("s2"),
        F.sum("l_discount").alias("s3"),
    )
    scan.collect()  # warm
    best_s = float("inf")
    for _ in range(3):
        t0 = time.time()
        scan.collect()
        best_s = min(best_s, time.time() - t0)
    con = duckdb.connect()
    sql = (
        "SELECT count(*) AS n, sum(l_extendedprice) AS s1, "
        "sum(l_quantity) AS s2, sum(l_discount) AS s3 "
        f"FROM read_parquet('{path}')"
    )
    con.execute(sql).df()  # warm
    best_d = float("inf")
    for _ in range(3):
        t0 = time.time()
        con.execute(sql).df()
        best_d = min(best_d, time.time() - t0)
    mb = nbytes / 1e6
    return {
        "lineitem_mb": round(mb, 1),
        "spark_sec": round(best_s, 3),
        "duckdb_sec": round(best_d, 3),
        "spark_mb_s": round(mb / best_s, 1),
        "duckdb_mb_s": round(mb / best_d, 1),
        "reader_ratio": round(best_s / max(best_d, 1e-9), 2),
    }


def bench_ann_operating_point(
    spark,
    sf_dir: str,
    bruteforce_sec: float | None = None,
    duckdb_exact_sec: float | None = None,
) -> dict:
    """The at-scale similarity answer (VERDICT r9 #2): the IVF ANN
    path at its default operating point (N_PROBE = smallest probe
    level with recall@10 >= 0.75) timed ALONGSIDE the exact
    brute-force twin — (wall, recall@10) pairs, so the ratio the 2x
    rule grades carries its recall cost on the same line. Brute force
    stays in the headline set as the correctness oracle; this is the
    path a 100 TB deployment actually runs. Also records the full
    recall curve at this scale (VERDICT r9 #7)."""
    from columnar_database_project_spark.operators.similarity import (
        N_PROBE,
        q_sim_ivf_recall_curve,
        q_sim_ivf_topk,
    )

    rows = q_sim_ivf_recall_curve(spark, sf_dir).collect()
    curve = {int(r["n_probe"]): float(r["recall"]) for r in rows}
    # Best-of-8 with recorded per-take spread for the QUOTED cells
    # (VERDICT r12 #4): the serving-path ratio ranged 1.75–3.49× across
    # rounds at identical recall and plans — a sub-second query timed
    # best-of-3 lets one scheduler hiccup move the quoted ratio 40%.
    # The headline discipline (8 runs) plus the half-range spread makes
    # the number quotable; the probe-level curve stays best-of-3
    # (detail, not quoted).
    STORE_RUNS = RUNS_PER_QUERY

    def _best_of(fn, runs: int) -> tuple[float, list[float]]:
        takes = []
        for _ in range(runs):
            t0 = time.time()
            fn()
            takes.append(time.time() - t0)
        return min(takes), [round(t, 3) for t in takes]

    def _spread_pct(takes: list[float]) -> float:
        lo, hi = min(takes), max(takes)
        return round(100.0 * (hi - lo) / max(hi + lo, 1e-9), 1)

    q_sim_ivf_topk(spark, sf_dir).collect()  # warm
    best, ivf_takes = _best_of(
        lambda: q_sim_ivf_topk(spark, sf_dir).collect(), STORE_RUNS
    )
    # Single-query latency frontier on the PERSISTED store (the
    # serving shape): scan-time-assignment IVF cannot beat the exact
    # scan — every vector must still be read+normalized to learn its
    # cell — and with the full Q=5 batch the probed-cell union covers
    # ~all 16 cells anyway. The store search reads persisted 8 B codes
    # from only the probed cell DIRECTORIES (partition pruning), so
    # per-query cost tracks the probed fraction. n_probe=16 reads
    # everything — the store-side exact-coverage twin.
    from columnar_database_project_spark.streaming.vectors import (
        ensure_index_store,
        search_index_store,
    )

    store = ensure_index_store(spark, sf_dir)
    single = {}
    for p in (2, 4, N_PROBE, 16):
        search_index_store(spark, store, sf_dir, n_probe=p, n_queries=1).collect()
        b = float("inf")
        for _ in range(3):
            t0 = time.time()
            search_index_store(
                spark, store, sf_dir, n_probe=p, n_queries=1
            ).collect()
            b = min(b, time.time() - t0)
        single[p] = {
            "sec": round(b, 3),
            "recall_at_10_q5curve": curve.get(p),
            "probed_fraction": round(p / 16, 3),
        }
    # the batched store search at the default operating point — the
    # ANN headline row: persisted-code ADC vs the exact scan
    search_index_store(spark, store, sf_dir).collect()
    b, store_takes = _best_of(
        lambda: search_index_store(spark, store, sf_dir).collect(),
        STORE_RUNS,
    )
    store_sec = round(b, 3)
    out = {
        "n_probe": N_PROBE,
        "recall_at_10": curve.get(N_PROBE),
        "ivf_sec": round(best, 3),
        "ivfpq_store_sec": store_sec,
        "store_runs": STORE_RUNS,
        "ivf_takes_sec": ivf_takes,
        "store_takes_sec": store_takes,
        "ivf_spread_pct": _spread_pct(ivf_takes),
        "store_spread_pct": _spread_pct(store_takes),
        "curve": curve,
        "single_query_store": single,
    }
    if bruteforce_sec is not None:
        out["bruteforce_sec"] = bruteforce_sec
    if duckdb_exact_sec is not None:
        out["duckdb_exact_sec"] = duckdb_exact_sec
        out["ivf_vs_duckdb_exact"] = round(
            best / max(duckdb_exact_sec, 1e-9), 2
        )
        out["ivfpq_store_vs_duckdb_exact"] = round(
            store_sec / max(duckdb_exact_sec, 1e-9), 2
        )
    return out


def bench_streaming_throughput(spark, sf_dir: str) -> dict:
    """Structured-Streaming throughput on the events table: the full
    corpus replayed as an 8-file parquet drop through (a) the
    stateless tumbling-window aggregation and (b) the
    applyInPandasWithState sessionizer, availableNow-triggered to
    drain everything. Reported as rows/sec so the streaming surface
    carries a measured capacity number, not just twin-equality tests.
    (Micro-batch scheduling overhead dominates at this input size —
    the number is a floor, not a ceiling.)"""
    from columnar_database_project_spark.catalog import load_table
    from columnar_database_project_spark.streaming.events import (
        read_event_stream,
        run_to_memory,
        sessionize_stateful,
        tumbling_counts,
    )

    stream_src = os.path.join(REPO, ".bench_data", "stream_events")
    ev = load_table(spark, sf_dir, "events")
    n_rows = ev.count()
    if not os.path.isdir(stream_src):
        ev.repartition(8).write.mode("overwrite").parquet(stream_src)
    out: dict[str, dict] = {"n_rows": n_rows}
    jobs = (
        ("tumbling_counts", lambda s: tumbling_counts(s), "complete"),
        ("sessionize_stateful", lambda s: sessionize_stateful(s), "update"),
    )
    for label, builder, mode in jobs:
        stream = read_event_stream(spark, stream_src, max_files_per_trigger=4)
        t0 = time.time()
        q = run_to_memory(builder(stream), f"bench_{label}", mode)
        dt = time.time() - t0
        q.stop()
        out[label] = {
            "sec": round(dt, 3),
            "rows_per_sec": int(n_rows / dt) if dt else None,
        }
    return out



def bench_near_survivors_chain(spark, sf_dir: str) -> dict:
    """The composed near-dedup pipeline (minhash → ngram-jaccard pairs
    → connected components → survivors) timed END-TO-END at the
    largest scale point — the headliners time its stages separately
    (VERDICT r8 #7). One timed run per engine, cold-start included
    for both symmetrically: at ~40-110 s per run the best-of-N warmed
    protocol would dominate the whole bench budget, and the claim
    this section carries is "the chain composes and beats the
    baseline at scale", not a steady-state microbenchmark."""
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    tune_for_scale(spark, sf_dir)
    t0 = time.time()
    n_spark = qs["dedup_near_survivors"](spark, sf_dir).count()
    spark_sec = time.time() - t0
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'documents.parquet')}')"
    )
    t0 = time.time()
    n_duck = len(con.execute(oracles["dedup_near_survivors"]).df())
    duck_sec = time.time() - t0
    return {
        "runs": 1,
        "spark_sec": round(spark_sec, 2),
        "duckdb_sec": round(duck_sec, 2),
        "spark_rows": int(n_spark),
        "duckdb_rows": int(n_duck),
        "rows_match": bool(n_spark == n_duck),
        "ratio_vs_duckdb": round(spark_sec / max(duck_sec, 1e-9), 3),
    }


# Abort-and-retake threshold for contended sections (VERDICT r8 #4):
# the r8 artifact of record ran while the single-thread probe degraded
# 39.7 → 87.0 ms (ratio 2.2) and recorded numbers PLANS.md's clean
# solo take could not reproduce. A section whose end-probe is > 2× its
# start-probe reran under external load — retake it.
HEALTH_PROBE_MAX_RATIO = 2.0
HEALTH_MAX_TAKES = 3
# Quiesce-before-take (r9): the degradation gate above catches load
# ARRIVING mid-section but not a section that STARTS in the decaying
# tail of earlier load — the r9 first take began at loadavg_5m 3.0
# (residual pytest), Spark ran first inside the section and absorbed
# the tail while DuckDB got the quiet end, recording 2.07× where the
# quiet-box floor is ~1.5×. Wait for the 1-minute loadavg to fall
# below the threshold (bounded) before every gated take.
QUIESCE_LOADAVG_1M = 1.5
QUIESCE_MAX_WAIT_SEC = 300.0
# Decay acceptance (r13): loadavg_1m is a ~60 s EMA — after one of OUR
# OWN heavy sections ends on a 32-core box it mathematically cannot
# fall below 1.5 for minutes even though the box is instantly idle,
# and the r12 full run burned 495 s (21% of wall) waiting out its own
# decay tails with the single-thread probe already AT nominal. When
# the probe is clean AND loadavg is strictly decaying sample-over-
# sample (idle decay is ~0.75×/sample at this cadence; live contention
# holds it flat or rising), release the take: the probe is the actual
# contention gate, and the start/end probe gates still guard the take
# itself. Measured r13: quiesce spend 495 s → <150 s on the same
# section list, with probe-clean takes throughout.
QUIESCE_DECAY_FACTOR = 0.85
# A take whose START probe is already this much above the process-
# lifetime best is degraded before it begins — the end/start ratio
# then reads as "improving" (0.68 in the r9 fresh-boot run: start
# 58.9 ms vs 37 ms nominal, sf2.5 corpus pipelines recorded 2-26×
# slow with no gate trip). Quiesce on the probe itself, not just
# loadavg: loadavg had already fallen to 1.5 while the JVM was still
# digesting the prior section.
QUIESCE_PROBE_MAX_OVER_NOMINAL = 1.35
# Symmetric END gate (VERDICT r10 #2): the r10 headline take was
# accepted with its end probe 16% degraded (load arriving mid-section
# but below the 2.0 abort ratio). A take must now also END healthy:
# retake when the end/start probe ratio exceeds HEALTH_END_PROBE_RATIO
# AND the end probe is more than HEALTH_END_PROBE_OVER_NOMINAL above
# the process nominal — BOTH, because each alone is noise-trippable
# (a fast start makes a nominal end read as drift; a slow-nominal
# process start makes a clean end read as degraded). The probe is the
# gate; end loadavg is RECORDED but does not gate: a heavy section's
# own tail (fact-layout rewrite + forced-shuffle A/B) legitimately
# ends at loadavg 14-20 on a 32-core box (measured, r11 first run —
# all three bucketed takes flagged on loadavg with probes at 0.99),
# so loadavg at section end measures our own work, not contention.
HEALTH_END_PROBE_RATIO = 1.10
HEALTH_END_PROBE_OVER_NOMINAL = 1.25
_NOMINAL_SINGLE_MS = float("inf")  # best single_thread_ms seen this process

# Global wall-clock budget (VERDICT r11 #1): the r11 driver run was
# killed at the driver's timeout (rc 124, parsed: null) — the best
# headline of any round recorded NOTHING because bench.py had stdout
# durability (compact ≤1900-char last line) but no wall-clock
# durability. Three rules now apply, all charged against ONE budget:
#   1. every optional section checks the remaining budget before it
#      starts and is skipped (recorded in budget.skipped_sections)
#      when it cannot fit — the headline and the floor are never
#      skipped;
#   2. BENCH.json is rewritten (atomically) and the ≤1900-char compact
#      line re-printed after EVERY completed section, so a kill at any
#      point leaves the last stdout line parseable with whatever
#      finished;
#   3. quiesce waits and health retakes are budget-charged: total
#      quiesce spend is capped at QUIESCE_BUDGET_FRACTION of the
#      budget, and a contended take is ACCEPTED (flagged
#      contended=true in its health metadata) rather than retaken when
#      a retake cannot fit — a flagged take beats no artifact.
BENCH_BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "1200"))
QUIESCE_BUDGET_FRACTION = 0.20
FINALIZE_RESERVE_SEC = 30.0
# What the headline section (incl. its quiesce lead-in) costs on the
# 32-core builder box — the denominator of the slow-box estimate
# scaling in run_section (measured r12: 100.7 s quiet start, 196.6 s
# with a dirty start's quiesce waits; 150 splits the difference so a
# merely-dirty start does not over-skip while a genuinely slow box
# still scales its estimates up).
NOMINAL_HEADLINE_SEC = 150.0
_BENCH_T0 = time.time()  # reset at main() entry
_QUIESCE_SPEND = 0.0


def _elapsed() -> float:
    return time.time() - _BENCH_T0


def _remaining() -> float:
    return BENCH_BUDGET_SEC - _elapsed()


def _observe_health() -> dict:
    global _NOMINAL_SINGLE_MS
    h = machine_health()
    _NOMINAL_SINGLE_MS = min(_NOMINAL_SINGLE_MS, h["single_thread_ms"])
    return h


def _quiesce(label: str, settle=None) -> dict:
    """Wait (bounded) until the box is genuinely quiet: 1-minute
    loadavg below threshold AND the single-thread probe within
    QUIESCE_PROBE_MAX_OVER_NOMINAL of the best value observed this
    process. Returns the last health sample so the caller can reuse
    it as the take's start probe. ``settle`` (e.g. a JVM System.gc()
    nudge) runs once before the wait so the prior section's garbage
    is collected outside the timed window."""
    global _QUIESCE_SPEND
    if settle is not None:
        try:
            settle()
        except Exception:  # pragma: no cover - defensive
            pass
    deadline = time.time() + QUIESCE_MAX_WAIT_SEC
    quiesce_cap = QUIESCE_BUDGET_FRACTION * BENCH_BUDGET_SEC
    h = _observe_health()
    prev_load1: float | None = None
    while time.time() < deadline:
        load1 = os.getloadavg()[0]
        probe_ok = (
            h["single_thread_ms"]
            <= QUIESCE_PROBE_MAX_OVER_NOMINAL * _NOMINAL_SINGLE_MS
        )
        decaying = (
            prev_load1 is not None
            and load1 <= prev_load1 * QUIESCE_DECAY_FACTOR
        )
        if probe_ok and (load1 < QUIESCE_LOADAVG_1M or decaying):
            return h
        prev_load1 = load1
        # Budget charge (VERDICT r11 #1c): waiting for a quiet box is
        # worth at most QUIESCE_BUDGET_FRACTION of the whole run — past
        # that (or near the global deadline) proceed contended; the
        # take's health metadata records the dirty start.
        if _QUIESCE_SPEND >= quiesce_cap or _remaining() <= FINALIZE_RESERVE_SEC:
            print(
                f"WARN: {label} quiesce budget exhausted "
                f"(spent {_QUIESCE_SPEND:.0f}s, cap {quiesce_cap:.0f}s, "
                f"remaining {_remaining():.0f}s) — proceeding contended",
                file=sys.stderr,
            )
            return h
        print(
            f"WARN: {label} waiting for quiesce (loadavg_1m {load1:.2f}, "
            f"probe {h['single_thread_ms']:.1f}ms vs nominal "
            f"{_NOMINAL_SINGLE_MS:.1f}ms)",
            file=sys.stderr,
        )
        t_wait0 = time.time()
        time.sleep(15)
        h = _observe_health()
        _QUIESCE_SPEND += time.time() - t_wait0
    return h


def health_gated(label: str, section, settle=None):
    """Run ``section()`` sampling machine_health before/after; retake
    (up to HEALTH_MAX_TAKES) while the single-thread probe degrades
    more than HEALTH_PROBE_MAX_RATIO across the section OR the take
    started degraded (start probe > QUIESCE_PROBE_MAX_OVER_NOMINAL ×
    the process-lifetime best — quiesce can time out). Every take
    first waits (bounded) for loadavg AND the probe itself to settle
    so the take does not start inside the decaying tail of earlier
    load. Returns (result, takes_metadata) — every take is recorded
    so a reader can see whether the artifact is from a clean window."""
    takes = []
    out = None
    clean = False
    for attempt in range(HEALTH_MAX_TAKES):
        h0 = _quiesce(label, settle=settle)
        # Snapshot the nominal AT TAKE START: the end-of-section probe
        # may lower the process nominal, which would retroactively flag
        # a take that _quiesce released as clean — at sf2.5 a spurious
        # retake is a full multi-minute pairwise sweep.
        nominal_at_start = _NOMINAL_SINGLE_MS
        t_take0 = time.time()
        out = section()
        take_sec = time.time() - t_take0
        h1 = _observe_health()
        ratio = h1["single_thread_ms"] / max(h0["single_thread_ms"], 1e-9)
        start_degraded = (
            h0["single_thread_ms"]
            > QUIESCE_PROBE_MAX_OVER_NOMINAL * nominal_at_start
        )
        end_degraded = (
            ratio > HEALTH_END_PROBE_RATIO
            and h1["single_thread_ms"]
            > HEALTH_END_PROBE_OVER_NOMINAL * nominal_at_start
        )
        takes.append(
            {
                "start": h0,
                "end": h1,
                "probe_ratio": round(ratio, 2),
                "take_sec": round(take_sec, 1),
                "start_degraded": start_degraded,
                "end_degraded": end_degraded,
            }
        )
        clean = (
            ratio <= HEALTH_PROBE_MAX_RATIO
            and not start_degraded
            and not end_degraded
        )
        if clean:
            break
        # Budget-charged retake (VERDICT r11 #1c): a retake costs
        # about what the take just cost — only retake when that fits
        # inside the remaining budget; otherwise accept the flagged
        # take. contended=true in the returned metadata marks it.
        # Distinguish the two exit reasons in the log (ADVICE r12): at
        # the final take the old message blamed the budget even when
        # plenty remained — misleading provenance.
        out_of_takes = attempt + 1 >= HEALTH_MAX_TAKES
        budget_short = not (
            _remaining() > 1.2 * take_sec + FINALIZE_RESERVE_SEC
        )
        if out_of_takes or budget_short:
            reason = (
                f"max takes ({HEALTH_MAX_TAKES}) reached"
                if out_of_takes
                else (
                    f"budget ({_remaining():.0f}s left vs take "
                    f"{take_sec:.0f}s) forbids a retake"
                )
            )
            print(
                f"WARN: {label} ran contended (probe ratio {ratio:.2f}) "
                f"but {reason} — accepting flagged",
                file=sys.stderr,
            )
            break
        print(
            f"WARN: {label} ran contended (probe ratio {ratio:.2f}, "
            f"start_degraded={start_degraded}, "
            f"end_degraded={end_degraded}) — retaking",
            file=sys.stderr,
        )
    return out, {
        "takes": takes,
        "accepted_take": len(takes),
        "contended": not clean,
    }


def build_compact(result: dict) -> str:
    """The driver keeps only the final ~2000 CHARS of stdout and parses
    the last line it can — r8's compact line had regrown past 2 KB, got
    beheaded, and the driver recorded parsed:null (the judge fell back
    to the committed BENCH.json). Build the line small, then ENFORCE a
    1900-char budget by dropping optional keys least-essential-first;
    the metric/value/unit/sf/queries core is never dropped."""
    scaling = result.get("scaling", {})
    overhead_floor = result.get("overhead_floor", {})
    ann = result.get("ann_operating_point", {})
    if not isinstance(overhead_floor, dict):
        overhead_floor = {}
    headline_health = result.get("machine_health", {}).get("headline") or {}
    headline_takes = headline_health.get("takes") or [{}]
    budget = result.get("budget", {})
    extras_r6 = result.get("extras_r6", {})
    streaming = result.get("streaming", {})
    prefetch_ab = result.get("prefetch_ab", {})
    cow_dml = result.get("cow_dml", {})
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "sf": result["sf"],
        "queries": result["queries"],
        "baseline_duckdb": result["baseline_duckdb"],
        "baseline_duckdb_total": result["baseline_duckdb_total"],
        "scaling": {
            tag: {
                "spark_total": round(sum(sec["queries"].values()), 3),
                "duckdb_total": round(
                    sum(sec["baseline_duckdb"].values()), 3
                ),
                **(
                    {"capped_lsh": sec["capped_lsh_candidates"]}
                    if "capped_lsh_candidates" in sec
                    else {}
                ),
                # Every extraction below guards on KEY PRESENCE, not
                # just dict-ness: run_section stores {"error": ...}
                # into scaling sub-keys on section failure, and an
                # unguarded ["recall_at_10"] would make emit() raise —
                # aborting every remaining section and leaving a
                # traceback as the stdout tail, the exact parsed-null
                # failure mode this builder exists to fix (ADVICE r12).
                **(
                    {"ivf_recall_at_10": sec["ivf_recall"]["recall_at_10"]}
                    if isinstance(sec.get("ivf_recall"), dict)
                    and "recall_at_10" in sec["ivf_recall"]
                    else {}
                ),
                **(
                    {
                        "ivf_store_vs_duckdb_exact": sec["ivf_recall"][
                            "ivf_vs_duckdb_exact"
                        ]
                    }
                    if isinstance(sec.get("ivf_recall"), dict)
                    and "ivf_vs_duckdb_exact" in sec["ivf_recall"]
                    else {}
                ),
                # per-take spread of the quoted serving-path cells
                # (VERDICT r12 #4: the ratio ranged 1.75–3.49× across
                # rounds at identical recall — quote N and the ± half-
                # range): [ivf query, batched store search], best-of-N
                **(
                    {
                        "ivf_spread_pct": [
                            sec["ivf_recall"].get("ivf_spread_pct"),
                            sec["ivf_recall"].get("store_spread_pct"),
                        ],
                        "ivf_runs": sec["ivf_recall"].get("store_runs"),
                    }
                    if isinstance(sec.get("ivf_recall"), dict)
                    and "store_spread_pct" in sec["ivf_recall"]
                    else {}
                ),
                **(
                    {
                        "dedup_chain_ratio": sec["near_survivors_chain"][
                            "ratio_vs_duckdb"
                        ]
                    }
                    if isinstance(sec.get("near_survivors_chain"), dict)
                    and "ratio_vs_duckdb" in sec["near_survivors_chain"]
                    else {}
                ),
                **(
                    {
                        "bucketed": {
                            n: q.get("bucketed")
                            for n, q in sec["bucketed_headliners"][
                                "queries"
                            ].items()
                            if isinstance(q, dict)
                        }
                    }
                    if isinstance(sec.get("bucketed_headliners"), dict)
                    and isinstance(
                        sec["bucketed_headliners"].get("queries"), dict
                    )
                    else {}
                ),
                **(
                    {
                        "reader_mb_s": [
                            sec["scan_throughput"]["spark_mb_s"],
                            sec["scan_throughput"]["duckdb_mb_s"],
                        ]
                    }
                    if isinstance(sec.get("scan_throughput"), dict)
                    and "spark_mb_s" in sec["scan_throughput"]
                    else {}
                ),
                **(
                    {
                        "forced_layout_speedup": {
                            q: sec["bucketed_headliners"][
                                f"forced_shuffle_regime_{q}"
                            ].get("layout_speedup")
                            for q in ("q3", "q5")
                            if isinstance(
                                sec["bucketed_headliners"].get(
                                    f"forced_shuffle_regime_{q}"
                                ),
                                dict,
                            )
                        },
                        # the plan-structural claim itself (VERDICT r12
                        # #1): [flat, bucketed] Exchange counts, so the
                        # driver artifact carries the stable signal the
                        # sub-second timings only corroborate
                        "forced_exchanges": {
                            q: [
                                sec["bucketed_headliners"][
                                    f"forced_shuffle_regime_{q}"
                                ].get("exchanges_flat"),
                                sec["bucketed_headliners"][
                                    f"forced_shuffle_regime_{q}"
                                ].get("exchanges_bucketed"),
                            ]
                            for q in ("q3", "q5")
                            if isinstance(
                                sec["bucketed_headliners"].get(
                                    f"forced_shuffle_regime_{q}"
                                ),
                                dict,
                            )
                        },
                    }
                    if isinstance(sec.get("bucketed_headliners"), dict)
                    and any(
                        isinstance(
                            sec["bucketed_headliners"].get(
                                f"forced_shuffle_regime_{q}"
                            ),
                            dict,
                        )
                        for q in ("q3", "q5")
                    )
                    else {}
                ),
                **(
                    {"truncated_n": len(sec["run_protocol"]["truncated"])}
                    if isinstance(sec.get("run_protocol"), dict)
                    and sec["run_protocol"].get("truncated")
                    else {}
                ),
            }
            for tag, sec in scaling.items()
        },
        "ann": {
            k: ann[k]
            for k in ("ivf_sec", "recall_at_10", "ivf_vs_duckdb_exact")
            if k in ann
        },
        "floor": {
            k: overhead_floor[k]
            for k in ("spark_empty_scan", "duckdb_empty_scan")
            if k in overhead_floor
        },
        "health": {
            "headline_probe_ratio": headline_takes[-1].get("probe_ratio"),
            "headline_start_degraded": headline_takes[-1].get(
                "start_degraded"
            ),
            "takes": headline_health.get("accepted_take"),
            **(
                {"headline_contended": True}
                if headline_health.get("contended")
                else {}
            ),
        },
        # Wall-clock provenance (VERDICT r11 #1): what the budget was,
        # how much of it this (possibly killed-after-this-line) run had
        # spent, and which optional sections were dropped to fit.
        "budget": {
            "sec": budget.get("budget_sec"),
            "spent": budget.get("spent_sec"),
            "skipped": budget.get("skipped_sections", []),
        },
        "extras_r6": {
            "spark_total": round(sum(extras_r6["spark"].values()), 3),
            "duckdb_total": round(sum(extras_r6["duckdb"].values()), 3),
        }
        if isinstance(extras_r6.get("spark"), dict)
        else {},
        "streaming": {
            k: v["rows_per_sec"]
            for k, v in streaming.items()
            if isinstance(v, dict)
        },
        "prefetch_hit_rates": {
            tag: prefetch_ab[tag]["hit_rate"]
            for tag in ("no_cache", "lru_only", "lru_lstm", "lru_lstm_gated")
            if isinstance(prefetch_ab.get(tag), dict)
            and "hit_rate" in prefetch_ab[tag]
        },
        "prefetch_net_sec": {
            tag: prefetch_ab[tag].get("net_sec")
            for tag in ("lru_lstm", "lru_lstm_gated")
            if isinstance(prefetch_ab.get(tag), dict)
        },
        "prefetch_slow_store": {
            k: prefetch_ab["slow_store"].get(k)
            for k in ("gate_issuing", "gate_net_positive", "lift_over_lru_only")
        }
        if isinstance(prefetch_ab.get("slow_store"), dict)
        else {},
        "cow_bytes_ratio": cow_dml.get("bytes_ratio")
        if isinstance(cow_dml, dict)
        else None,
        "detail": "BENCH.json",
    }
    # Weakest claims drop first (VERDICT r12 #1 reprioritization): the
    # slow-store gate flip is the reference-thesis number and had never
    # landed in a driver artifact — it must outlive the detail cells,
    # not be the first casualty of a long line.
    DROP_ORDER = [
        "extras_r6",
        "streaming",
        "cow_bytes_ratio",
        "ann",
        "prefetch_hit_rates",
        "prefetch_net_sec",
        "floor",
        "health",
        "prefetch_slow_store",
        "budget",
        "baseline_duckdb",
        "scaling",
    ]
    # Empty/None leaves carry no claim — drop them before spending the
    # char budget on "{}" (an incremental emit early in the run would
    # otherwise burn ~150 chars on placeholders).
    compact = {k: v for k, v in compact.items() if v not in ({}, None)}
    line = json.dumps(compact)
    for key in DROP_ORDER:
        if len(line) <= 1900:
            break
        compact.pop(key, None)
        line = json.dumps(compact)
    if len(line) > 1900:
        # DROP_ORDER exhausted and the never-dropped core still blows
        # the budget (a large query set can do it): a beheaded line
        # parses as null, which is strictly worse than a minimal one.
        minimal = {
            "metric": compact["metric"],
            "value": compact["value"],
            "unit": compact["unit"],
            "sf": compact["sf"],
            "baseline_duckdb_total": compact.get("baseline_duckdb_total"),
            "detail": "BENCH.json (queries dropped: compact budget)",
        }
        line = json.dumps(minimal)
    return line


def _ensure_replica(sf_dir: str, dst_dir: str, k: int) -> dict:
    """Build (or confirm fresh) a k× key-offset replica of sf_dir.
    Regenerated (not just created-if-absent) whenever the manifest says
    the replica was built from a different source dir / k / source file
    version — a stale replica would silently bench old data."""
    from tools.make_scale_replica import manifest_matches, replicate

    if not manifest_matches(sf_dir, dst_dir, k):
        replicate(sf_dir, dst_dir, k, force=True)
    return {"ok": True}


def main() -> None:
    global _BENCH_T0, _QUIESCE_SPEND
    _BENCH_T0 = time.time()
    _QUIESCE_SPEND = 0.0
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    # Progress bars (stderr) were what pushed r4's JSON line past the
    # driver's tail-capture window; ERROR log level for the same reason.
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    health_start = _observe_health()  # seeds the process-nominal probe floor
    # The gate-carrying section is health-gated (VERDICT r8 #4): a
    # contended take is retaken rather than recorded.
    # JVM System.gc() before every gated take: the probe-based quiesce
    # otherwise waits out the JVM digesting the PRIOR section's garbage
    # inside the timed window's lead-in (fresh-boot r9 run: sf2.5 take
    # started at 58.9 ms single-thread vs 37 ms nominal).
    def _jvm_settle() -> None:
        spark.sparkContext._jvm.System.gc()

    skipped: list[str] = []
    sections_sec: dict[str, float] = {}
    scaling: dict = {}
    result: dict = {
        "metric": "headline_queries_total_wall_clock",
        "value": None,
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
        "baseline_duckdb": {},
        "baseline_duckdb_total": None,
        "scaling": scaling,
        # sampled before the headline section; "end" is filled by the
        # final emit only (the probe costs ~2 s — too much per-section).
        # The gate-carrying sections are additionally health-GATED
        # (retaken while contended and budget allows) — per-take probes
        # under "headline" / scaling.sf2.5.health.
        "machine_health": {
            "start": health_start,
            "end": None,
            "headline": {},
        },
    }

    def emit() -> None:
        # Durable incremental emission (VERDICT r11 #1b): rewrite
        # BENCH.json atomically and re-print the compact line after
        # EVERY completed section, so a kill at any point leaves the
        # last stdout line parseable with whatever finished — the
        # stdout-size lesson of build_compact, applied to wall-clock.
        result["budget"] = {
            "budget_sec": BENCH_BUDGET_SEC,
            "spent_sec": round(_elapsed(), 1),
            "quiesce_spent_sec": round(_QUIESCE_SPEND, 1),
            "skipped_sections": list(skipped),
            "sections_sec": dict(sections_sec),
        }
        tmp = os.path.join(REPO, "BENCH.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(result, fh, indent=1)
        os.replace(tmp, os.path.join(REPO, "BENCH.json"))
        print(build_compact(result), flush=True)

    def run_section(
        name: str,
        est_sec: float,
        fn,
        required: bool = False,
        raise_on_error: bool = False,
    ):
        # Budget check BEFORE every optional section (VERDICT r11 #1a):
        # sections run most-valuable-claims-first, so when the budget
        # runs short it is the cheapest claims that get dropped.
        # Section estimates were measured on the builder's 32-core box;
        # the driver also runs at LOWER core counts, where every
        # section stretches. Scale the estimates by how much slower
        # the headline section ran than its 32-core nominal, so a slow
        # box skips sections it cannot finish instead of starting them.
        scale = max(
            1.0,
            sections_sec.get("headline", NOMINAL_HEADLINE_SEC)
            / NOMINAL_HEADLINE_SEC,
        )
        need = est_sec * scale
        if not required and _remaining() < need + FINALIZE_RESERVE_SEC:
            print(
                f"WARN: budget short ({_remaining():.0f}s left, "
                f"{name} est {need:.0f}s) — skipping {name}",
                file=sys.stderr,
            )
            skipped.append(name)
            return None
        t0 = time.time()
        try:
            out = fn()
        except Exception as exc:
            if raise_on_error:
                raise
            print(f"WARN: {name} failed ({exc!r})", file=sys.stderr)
            out = {"error": repr(exc)}
        sections_sec[name] = round(time.time() - t0, 1)
        return out

    # ---- 1. Headline (required, gate-carrying — never skipped). ----
    # Headline stays engine-phased: it is the FIRST section on a
    # freshly-quiesced box (the decaying-window skew pairwise exists
    # for cannot precede it), and the phase form's four cross-query
    # warm sweeps are what brings the JVM to steady state — pairwise
    # with fewer global sweeps timed the early codegen-bound queries
    # on a half-warm JVM, 2-4× their hot floor (runs c/d).
    (spark_times, duck_times), headline_health = run_section(
        "headline",
        0,
        lambda: health_gated(
            "headline",
            lambda: (
                bench_spark(spark, sf_dir, HEADLINE),
                bench_duckdb(sf_dir, HEADLINE),
            ),
            settle=_jvm_settle,
        ),
        required=True,
        raise_on_error=True,
    )
    result["value"] = round(sum(spark_times.values()), 3)
    result["queries"] = spark_times
    result["baseline_duckdb"] = duck_times
    result["baseline_duckdb_total"] = round(sum(duck_times.values()), 3)
    result["machine_health"]["headline"] = headline_health
    emit()

    # ---- 2. Overhead floor (required — the denominator narrative). ----
    # Health-gated like the ratios it explains: the floor is quoted as
    # the denominator narrative for at-scale ratios, so it must carry
    # the same clean-window provenance (ADVICE r9).
    floor_pair = run_section(
        "overhead_floor",
        55,
        lambda: health_gated(
            "floor",
            lambda: bench_overhead_floor(spark, sf_dir),
            settle=_jvm_settle,
        ),
        required=True,
    )
    if isinstance(floor_pair, tuple):
        overhead_floor, floor_health = floor_pair
        overhead_floor["health"] = floor_health
    else:
        overhead_floor = floor_pair or {"error": "floor returned None"}
    result["overhead_floor"] = overhead_floor
    emit()

    # ---- 3. The at-scale point (sf2.5) — the strongest claims run ----
    # earliest so a short budget drops the cheapest claims, not these
    # (VERDICT r11 #6: the sf2.5 ratio and the IVF-PQ store cells had
    # never appeared in a driver-parsed artifact).
    # 25× sf0.1 ≈ 395 MB > the tuner's 256 MB small-input threshold:
    # the at-scale branch — AQE on, volume-scaled shuffle partitions —
    # engages ORGANICALLY here, so the regime the 100 TB story claims
    # is demonstrated without forcing (the sf0.5 forced_regime block
    # remains the controlled A/B).
    sf4_dir = os.environ.get(
        "SPARK_GRAFT_SF4_DIR", os.path.join(REPO, ".bench_data", "sf2.5")
    )
    # Section estimates recalibrated from MEASURED budget.sections_sec
    # of the r12 full run + this round's quiesce-economy fix (VERDICT
    # r12 #1: the static guesses over-provisioned — the r12 driver run
    # finished with 53 s unspent while skipping sf2.5_bucketed on a
    # 210 s estimate for a section that runs in ~125 s). Sections with
    # INTERNAL per-step budget checks (pairwise, prefetch) declare the
    # cost of their minimum useful partial, not their full run — they
    # self-limit past that.
    if sf4_dir:
        rep = run_section(
            "sf2.5_replica", 20, lambda: _ensure_replica(sf_dir, sf4_dir, 25)
        )
        if not (isinstance(rep, dict) and rep.get("ok")):
            sf4_dir = ""
    sf25_spark: dict = {}
    sf25_duck: dict = {}
    if sf4_dir and os.path.isdir(sf4_dir):
        from columnar_database_project_spark.session import (
            SMALL_INPUT_BYTES,
            input_bytes,
        )

        # r8 widening (VERDICT r7 #8): ALL 14 headliners, so the
        # at-scale claim covers the full gate set rather than the
        # eight data-bound ones.
        AT_SCALE_SUBSET = list(HEADLINE)
        # Cache-fair ordering (VERDICT r8 #4): time the scan-bound
        # queries BEFORE the corpus pipelines stream documents/
        # embeddings through the page cache — HEADLINE is already
        # scan-first, so sort by its index with the corpus-heavy
        # pipelines pinned last.
        _CORPUS_HEAVY = {
            "text_corpus_build",
            "dedup_minhash_signatures",
            "dedup_lsh_candidates",
            "dedup_embedding_cosine",
            "sim_topk_bruteforce",
        }
        AT_SCALE_SUBSET.sort(
            key=lambda n: (n in _CORPUS_HEAVY, HEADLINE.index(n))
        )
        # best-of-3 with one untimed warm-up sweep (the sf0.1
        # discipline, r7): best-of-2 still let one-off full-GC
        # spikes through (26 s recorded vs a 9 s warm floor for
        # minhash in r5 logs); symmetric per engine. Health-gated
        # like the headline section — the r8 sf2.5 numbers ran in a
        # contention window (loadavg 3 → 8).
        pair = run_section(
            "sf2.5_pairwise",
            150,  # minimum useful partial; self-limits per query
            lambda: health_gated(
                "sf2.5",
                lambda: bench_pairwise(
                    spark,
                    sf4_dir,
                    AT_SCALE_SUBSET,
                    runs=3,
                    warm_sweeps=1,
                    settle=_jvm_settle,
                    remaining=_remaining,
                ),
                settle=_jvm_settle,
            ),
        )
        if isinstance(pair, tuple):
            (sf25_spark, sf25_duck, sf25_meta), sf25_health = pair
            scaling["sf2.5"] = {
                "runs": 3,
                "run_protocol": sf25_meta,
                "queries": sf25_spark,
                "baseline_duckdb": sf25_duck,
                "health": sf25_health,
                "at_scale_regime": bool(
                    input_bytes(sf4_dir) >= SMALL_INPUT_BYTES
                ),
            }
            emit()

            def _ivf25_fn():
                # health-gated (r11): the r10 single-query probe curve
                # was recorded in a contaminated window and read as a
                # per-probe scaling problem; on a clean box it is flat.
                res, health = health_gated(
                    "sf2.5 ann_operating_point",
                    lambda: bench_ann_operating_point(
                        spark,
                        sf4_dir,
                        sf25_spark.get("sim_topk_bruteforce"),
                        sf25_duck.get("sim_topk_bruteforce"),
                    ),
                    settle=_jvm_settle,
                )
                res["health"] = health
                return res

            out = run_section("sf2.5_ivf_recall", 90, _ivf25_fn)
            if out is not None:
                scaling["sf2.5"]["ivf_recall"] = out
                emit()

            def _bkt_fn():
                # health-gated: sub-second layout deltas are pure box
                # noise on a contended take (r10 ungated runs recorded
                # q5 at 1.1–10.5 s across windows)
                res, health = health_gated(
                    "bucketed-sf2.5",
                    lambda: bench_bucketed_headliners(
                        spark, sf4_dir, sf25_spark, sf25_duck
                    ),
                    settle=_jvm_settle,
                )
                res["health"] = health
                return res

            # Bucketed-layout cells PROMOTED above near-survivors /
            # floor25 (VERDICT r12 #1): the forced-regime Exchange
            # counts + layout speedups are the round's strongest plan
            # claims and had never landed in a driver-parsed artifact;
            # the chain and floor25 claims are pinned elsewhere
            # (committed r12 artifact + tools decompositions) and now
            # run in the deferred tail.
            out = run_section("sf2.5_bucketed", 165, _bkt_fn)
            if out is not None:
                scaling["sf2.5"]["bucketed_headliners"] = out
                emit()
            out = run_section(
                "sf2.5_scan_throughput",
                5,
                lambda: bench_scan_throughput(spark, sf4_dir),
            )
            if out is not None:
                scaling["sf2.5"]["scan_throughput"] = out
                emit()


    # ---- 4. Scaling slope point below the primary SF (sf0.01); the
    # 5× sf0.5 point moved to the deferrable tail (VERDICT r12 #1). --
    sf2_dir = os.environ.get("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")
    if (
        sf2_dir
        and os.path.isdir(sf2_dir)
        and os.path.realpath(sf2_dir) != os.path.realpath(sf_dir)
    ):
        tag2 = os.path.basename(sf2_dir.rstrip("/"))
        out = run_section(
            f"scaling_{tag2}",
            20,
            lambda: {
                "queries": bench_spark(
                    spark,
                    sf2_dir,
                    HEADLINE,
                    runs=RUNS_PER_SCALING_QUERY,
                    warm_sweeps=1,  # slope estimates tolerate JIT noise
                ),
                "baseline_duckdb": bench_duckdb(
                    sf2_dir,
                    HEADLINE,
                    runs=RUNS_PER_SCALING_QUERY,
                    warm_sweeps=1,
                ),
            },
        )
        if isinstance(out, dict) and "queries" in out:
            scaling[tag2] = out
            emit()
    # ---- 5. The cheap distinct-claim sections (~62 s together on the
    # 32-core box) run BEFORE prefetch: each carries a claim nothing
    # else carries, together they cost less than one prefetch leg, and
    # the r13 verification run showed prefetch's tail legs eating their
    # window when they ran after it.
    out = run_section(
        "streaming", 10, lambda: bench_streaming_throughput(spark, sf_dir)
    )
    if out is not None:
        result["streaming"] = out
        emit()
    out = run_section("cow_dml", 25, lambda: bench_cow_dml(spark, sf_dir))
    if out is not None:
        result["cow_dml"] = out
        emit()
    out = run_section(
        "engine_facade", 5, lambda: bench_engine_facade(spark, sf_dir)
    )
    if out is not None:
        result["engine_facade"] = out
        emit()
    out = run_section(
        "hive_pruning", 5, lambda: bench_hive_pruning(spark, sf_dir)
    )
    if out is not None:
        result["hive_pruning"] = out
        emit()
    out = run_section(
        "orc_vs_parquet", 8, lambda: bench_orc_scan(spark, sf_dir)
    )
    if out is not None:
        result["orc_vs_parquet"] = out
        emit()
    out = run_section(
        "layout_pruning", 6, lambda: bench_layout_pruning(spark, sf_dir)
    )
    if out is not None:
        result["layout_pruning"] = out
        emit()
    out = run_section(
        "bloom_pruning", 5, lambda: bench_bloom_pruning(spark, sf_dir)
    )
    if out is not None:
        result["bloom_pruning"] = out
        emit()
    out = run_section("lsh_skew", 18, lambda: bench_lsh_skew(spark, sf_dir))
    if out is not None:
        result["lsh_skew"] = out
        emit()

    # ---- 6. Prefetch (VERDICT r12 #1: the reference-thesis gate-flip
    # cell had never landed in a driver artifact — it precedes every
    # deferrable claim; the section self-limits per leg, slow-store
    # flip legs before fast detail legs).
    out = run_section(
        "prefetch_ab",
        120,  # minimum useful partial (warm+train+lru_only)
        lambda: bench_prefetch_ab(spark, sf_dir, remaining=_remaining),
    )
    if out is not None:
        result["prefetch_ab"] = out
        emit()

    # ---- 7. Deferrable expensive sections, strongest-first. Their
    # claims are each pinned elsewhere (sf0.1 ann duplicates the sf2.5
    # ivf cells; chain/floor25 are in the committed r12 artifact and
    # the tools/ decompositions), so they drop first on a short run.
    def _ann_fn():
        # Health-gated (r11): the r10 single-query probe curve was
        # recorded in a contaminated window and read as a per-probe
        # scaling problem; on a clean box the curve is flat.
        res, health = health_gated(
            "ann_operating_point",
            lambda: bench_ann_operating_point(
                spark,
                sf_dir,
                spark_times.get("sim_topk_bruteforce"),
                duck_times.get("sim_topk_bruteforce"),
            ),
            settle=_jvm_settle,
        )
        res["health"] = health
        return res

    out = run_section("ann_operating_point", 110, _ann_fn)
    if out is not None:
        result["ann_operating_point"] = out
        emit()
    # Third scaling point ABOVE the primary SF: a 5× key-offset replica
    # of sf0.1 (tools/make_scale_replica.py), generated on first run.
    # Three points (0.01 / 0.1 / 0.5) expose each engine's growth rate;
    # the crossover analysis lives in PLANS.md.
    sf3_dir = os.environ.get(
        "SPARK_GRAFT_SF3_DIR", os.path.join(REPO, ".bench_data", "sf0.5")
    )
    if sf3_dir:
        rep = run_section(
            "sf0.5_replica", 10, lambda: _ensure_replica(sf_dir, sf3_dir, 5)
        )
        if not (isinstance(rep, dict) and rep.get("ok")):
            sf3_dir = ""
    if (
        sf3_dir
        and os.path.isdir(sf3_dir)
        and os.path.realpath(sf3_dir) != os.path.realpath(sf_dir)
    ):
        tag3 = os.path.basename(sf3_dir.rstrip("/"))
        out = run_section(
            f"scaling_{tag3}",
            120,
            lambda: {
                "queries": bench_spark(
                    spark,
                    sf3_dir,
                    HEADLINE,
                    runs=RUNS_PER_SCALING_QUERY,
                    warm_sweeps=1,
                ),
                "baseline_duckdb": bench_duckdb(
                    sf3_dir,
                    HEADLINE,
                    runs=RUNS_PER_SCALING_QUERY,
                    warm_sweeps=1,
                ),
            },
        )
        if isinstance(out, dict) and "queries" in out:
            scaling[tag3] = out
            emit()
            out = run_section(
                "sf0.5_capped_lsh",
                8,
                lambda: bench_capped_lsh(spark, sf3_dir),
            )
            if out is not None and not isinstance(out, dict):
                scaling[tag3]["capped_lsh_candidates"] = out
            out = run_section(
                "sf0.5_forced_regime",
                18,
                lambda: bench_forced_regime(spark, sf3_dir),
            )
            if out is not None:
                scaling[tag3]["forced_regime"] = out
            out = run_section(
                "sf0.5_ivf_recall",
                12,
                lambda: bench_ivf_recall(spark, sf3_dir),
            )
            if out is not None:
                scaling[tag3]["ivf_recall"] = out
            emit()
    if sf4_dir and "sf2.5" in scaling:
        out = run_section(
            "sf2.5_near_survivors_chain",
            140,
            lambda: bench_near_survivors_chain(spark, sf4_dir),
        )
        if out is not None:
            scaling["sf2.5"]["near_survivors_chain"] = out
            emit()

        def _floor25_fn():
            res, health = health_gated(
                "floor-sf2.5",
                lambda: bench_overhead_floor(spark, sf4_dir),
                settle=_jvm_settle,
            )
            res["health"] = health
            return res

        out = run_section("sf2.5_overhead_floor", 110, _floor25_fn)
        if out is not None:
            scaling["sf2.5"]["overhead_floor"] = out
            emit()
    out = run_section(
        "extras_r6", 140, lambda: bench_round6_extras(spark, sf_dir)
    )
    if out is not None:
        result["extras_r6"] = out
        emit()

    # ---- Final emission: end-health sample + the authoritative last
    # line. (The full-result stdout copy of earlier rounds is gone —
    # it only ever scrolled out of tail capture, and a kill landing
    # mid-print could fill the driver's whole capture window with an
    # unparseable fragment; BENCH.json carries the detail.)
    result["machine_health"]["end"] = machine_health()
    emit()


if __name__ == "__main__":
    main()
