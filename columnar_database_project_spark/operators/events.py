"""Event-stream operators (batch form over the ``events`` table).

The reference has no data stream at all — its only "streaming" is the
prefetch daemon loop (reference prefetch_service.py:35-80). We treat
the ``events`` table as the batch view of a stream and implement the
standard streaming shapes (tumbling window, sessionization, JSON
payload extraction, dedup-by-key). ``sliding_counts`` and
``purchase_view_join`` carry watermarks, so they run unchanged on a
``readStream`` source as well.

Scale notes: tumbling windows group on (bucket, type) — low
cardinality, map-side combine; sessionization is one shuffle on
user_id then pure window functions; at 100 TB you'd partition the sink
by window date.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.functions.broadcast_policy import (
    bounded_broadcast,
)


def q_events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch equivalent of
    ``F.window(ts, '1 hour')`` — date_trunc keeps the oracle exact)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def _with_session_ids(ev: DataFrame) -> DataFrame:
    """Gap-based session assignment (30-minute inactivity gap): lag →
    gap flag → cumulative session id — one hash shuffle on user_id,
    both windows share the sorted run. Shared by the session rollup
    and the journey extraction."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap): classic
    lag → gap flag → cumulative session id."""
    with_sid = _with_session_ids(load_table(spark, sf_dir, "events"))
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
    )


def q_events_session_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session ordered action sequences — the behavioral-modeling
    / sequence-training extraction: every session becomes its ordered
    event-type string (rendered '>'-joined so the oracle hash is
    layout-independent, like ``array_agg``). Ordering is total
    ((ts, event_id) tie-break) so the journey is deterministic.
    Same single user_id shuffle as sessionize; the collect_list is a
    per-(user, session) aggregate — session-sized state, map-side
    partial, never a corpus-wide array."""
    with_sid = _with_session_ids(load_table(spark, sf_dir, "events"))
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda s: s["event_type"],
    )
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.array_join(ordered, ">").alias("journey"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload extraction: props is a JSON string column."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_events_pivot_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide) surface: per-user event-type count matrix —
    the feature-vector shape a per-user model consumes. The pivot
    value list is EXPLICIT: with it, Spark skips the extra
    distinct-values job an unlisted pivot runs first (a full shuffle
    at 100 TB) and the aggregation is a single hash-partial groupBy
    on user_id. Absent combinations coalesce to 0 so the wide row is
    dense, matching the conditional-sum oracle."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


def q_events_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key dedup (CDC upsert shape): last event per
    (user_id, event_type) by time."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.round("value", 4).alias("value"))
    )


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel: users who viewed then later purchased (min-ts compare)."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view")
    )
    buys = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.max("ts").alias("last_buy")
    )
    return (
        views.join(buys, "user_id")
        .filter(F.col("last_buy") > F.col("first_view"))
        .select("user_id")
    )


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (time-series point-in-time lookup): for each purchase,
    the value of the user's latest view at-or-before the purchase time.

    Spark lacks a native ASOF join; the scalable composition is the
    union-and-carry trick: union both sides, sort within user by time
    (views before purchases on ties), and carry the last non-null view
    value forward with ``last(..., ignorenulls)``. One shuffle on
    user_id — same cost as a regular join, no range explosion.
    DuckDB's native ``ASOF LEFT JOIN`` is the oracle."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("value").alias("view_value"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("view_value"),
        F.lit(1).alias("kind"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        views.unionByName(purchases)
        .withColumn("asof_view_value", F.last("view_value", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "user_id",
            "purchase_id",
            F.round("asof_view_value", 4).alias("asof_view_value"),
        )
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (inequality) join: classify each event's value into tier
    buckets via v >= lo AND v < hi. The tier table is tiny → Spark
    plans a broadcast nested-loop, which is the right physical choice:
    the large side streams once, no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 180.0), ("high", 180.0, 10_000.0)],
        "tier string, lo double, hi double",
    )
    return (
        ev.join(
            bounded_broadcast(tiers, 16, "literal tier lookup table"),
            (ev.value >= tiers.lo) & (ev.value < tiers.hi),
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window aggregation (overlapping windows): each event
    lands in window/slide windows; watermark bounds state. Same plan
    on batch and stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def purchase_view_join(
    events: DataFrame,
    other: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each 'purchase' event joined to
    the same user's 'view' events in the preceding ``max_lag``
    (attribution shape). Both sides carry watermarks so Spark can
    discard buffered state once the interval can no longer match —
    the state-bounding contract that makes stream-stream joins viable
    at scale. Works identically on batch inputs."""
    views = (
        other.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_event_id"),
        )
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
            "value",
        )
    )
    return purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {max_lag}")),
    ).select(
        "user_id",
        "purchase_event_id",
        "view_event_id",
        "purchase_ts",
        "view_ts",
        "value",
    )


def q_events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (1 h window, 30 min slide) — runs
    ``sliding_counts``, which also runs on a stream, on the batch
    table. Window starts formatted as strings for cross-engine
    comparison."""
    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
        "n_events",
    )


def q_events_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase→view attribution (each purchase joined to the same
    user's views in the preceding hour) — the stream-stream interval
    join ``purchase_view_join`` applied to the batch table."""
    ev = load_table(spark, sf_dir, "events")
    out = purchase_view_join(ev, ev)
    return out.select(
        "user_id",
        "purchase_event_id",
        "view_event_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
        ).alias("lag_s"),
        "value",
    )


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week,
    counted per week they were active — the standard retention
    triangle. Two shuffles (first-seen agg on user_id, then the final
    tiny (cohort, week) agg); the user_id join reuses the first agg's
    partitioning, and the distinct-count runs over (cohort, week,
    user) after dedup — no all-events-to-one-place step anywhere."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_wk")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_wk")
    )
    return (
        active.join(first, "user_id")
        .groupBy("cohort_wk", "active_wk")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            # strings, not DATE: engines stringify date columns
            # differently, and the oracle hash is string-based
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            F.date_format("active_wk", "yyyy-MM-dd").alias("active_week"),
            "n_users",
            F.floor(
                F.datediff(F.col("active_wk"), F.col("cohort_wk")) / 7
            ).cast("int").alias("week_offset"),
        )
    )


ANOMALY_Z = 3.0


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type: events whose value is
    ≥ 3σ from the type mean. The per-type moments are a 5-row
    aggregate → broadcast back over one full scan; at 100 TB this is
    the two-pass anomaly sweep (tiny stats pass + map-side flagging),
    no shuffle of the event stream itself."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(
        bounded_broadcast(stats, 1000, "per-event-type stats (type vocab is a small constant)"),
        "event_type",
    )
        .filter((F.col("sd") > 0) & (F.abs(z) >= ANOMALY_Z))
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(z, 4).alias("z_score"),
        )
    )


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition matrix (first-order Markov
    chain): P(next type | current type) estimated from consecutive
    event pairs within each user's timeline — the behavioral-model
    shape behind next-action prediction and bot detection. One hash
    shuffle on user_id for the lead() window; the transition counts
    are a type²-sized aggregate (tiny, map-side combined), and the
    row-probability normalization is a window over that tiny frame,
    not the event stream. The (ts, event_id) sort key is unique, so
    every engine orders pairs identically."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    counts = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    row_total = F.sum("n").over(W.partitionBy("cur"))
    return counts.select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / row_total, 6).alias("p"),
    )


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM user segmentation — recency (days since the user's last
    event, anchored to the corpus max timestamp so the result is
    reproducible), frequency (event count), monetary (purchase value
    sum), each bucketed 1-4 against its exact quartile thresholds and
    composed into the classic 'RFM' segment code. NOT a global NTILE:
    at 1e9 users a rank-based quartile is a single-partition sort, so
    the scale shape here is the production one — one user-keyed
    aggregation shuffle, a 1-row exact-percentile aggregate broadcast
    back, and a scan-local CASE bucket (value-threshold semantics:
    ties land in one deterministic bucket on every engine, no rank
    tiebreaks needed)."""
    ev = load_table(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("anchor_ts"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                ),
                4,
            ).alias("monetary"),
        )
        .crossJoin(bounded_broadcast(anchor, 1, "1-row corpus-max timestamp"))
        .withColumn(
            "recency_days", F.datediff(F.col("anchor_ts"), F.col("last_ts"))
        )
    )
    quarts = per_user.agg(
        *[
            F.expr(f"percentile({col}, {p}) AS {pre}_q{i}")
            for col, pre in (
                ("recency_days", "r"),
                ("frequency", "f"),
                ("monetary", "m"),
            )
            for i, p in ((1, 0.25), (2, 0.5), (3, 0.75))
        ]
    )

    def bucket(col: str, prefix: str):
        v = F.col(col)
        return (
            F.lit(1)
            + (v > F.col(f"{prefix}_q1")).cast("int")
            + (v > F.col(f"{prefix}_q2")).cast("int")
            + (v > F.col(f"{prefix}_q3")).cast("int")
        )

    r_q = bucket("recency_days", "r")
    f_q = bucket("frequency", "f")
    m_q = bucket("monetary", "m")
    return (
        per_user.crossJoin(
            bounded_broadcast(quarts, 1, "1-row quartile thresholds")
        )
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary",
            r_q.alias("r_q"),
            f_q.alias("f_q"),
            m_q.alias("m_q"),
            F.concat(
                r_q.cast("string"), f_q.cast("string"), m_q.cast("string")
            ).alias("segment"),
        )
    )


BOT_RATE_PER_MIN = 5


def q_events_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse heuristic: each user's PEAK events-per-minute —
    a sliding 60-second range frame over the epoch-ordered timeline
    (count of events in (t-59s, t]) maxed per user — with a flag at
    BOT_RATE_PER_MIN. The range frame is the exact form of 'rate in
    any 60s window ending at an event'; one hash shuffle on user_id,
    the frame scan is a sorted-run two-pointer inside each partition.
    At 100 TB this is the standard per-entity rate profile (same
    shape as API-abuse detection)."""
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("epoch"))
        .rangeBetween(-59, 0)
    )
    per_event = ev.select("user_id", epoch.alias("epoch")).withColumn(
        "win_count", F.count(F.lit(1)).over(w)
    )
    return (
        per_event.groupBy("user_id")
        .agg(F.max("win_count").alias("peak_per_min"))
        .select(
            "user_id",
            "peak_per_min",
            (F.col("peak_per_min") >= BOT_RATE_PER_MIN).alias("bot_suspect"),
        )
    )


FUNNEL_WINDOW_S = 3600


def q_events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained multi-step funnel — view → click → purchase
    where each step lands within FUNNEL_WINDOW_S of the previous one
    (the product-analytics conversion funnel; the plain ``events_
    funnel`` has no deadline, this one does): per step, the count of
    users whose EARLIEST qualifying event exists, plus the conversion
    rate from step 1. Earliest-qualifying (min ts after the previous
    step's min) makes the funnel deterministic under ties.

    Scale shape: three user-keyed partial aggregates, each joined
    back on user_id (equi-joins, AQE-gated, no hints); the event
    stream is scanned once per step with a pushed type filter —
    the standard funnel plan, no windows over the raw stream."""
    ev = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, out: str) -> DataFrame:
        """Per user: earliest ``etype`` event within the window after
        ``prev``'s timestamp column (the last column of ``prev``)."""
        ts_col = prev.columns[-1]
        step = ev.filter(F.col("event_type") == etype).select(
            "user_id", F.col("ts").alias("_t")
        )
        return (
            step.join(prev, "user_id")
            .filter(
                (F.col("_t") > F.col(ts_col))
                & (
                    F.unix_timestamp("_t") - F.unix_timestamp(ts_col)
                    <= FUNNEL_WINDOW_S
                )
            )
            .groupBy("user_id")
            .agg(F.min("_t").alias(out))
        )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    # Each step's frame is input to the next, so the naive three
    # .count() actions re-execute the chain (buys recomputes clicks
    # recomputes views — ~6 scans of events). localCheckpoint cuts
    # the lineage: events is scanned once per step filter, and the
    # three counts run in ONE union-agg job over the materialized
    # frames.
    views = views.localCheckpoint(eager=True)
    clicks = first_after(views, "click", "t_click").localCheckpoint(eager=True)
    buys = first_after(clicks, "purchase", "t_buy")
    counts = {
        int(r["step"]): int(r["n"])
        for r in (
            views.select(F.lit(1).alias("step"))
            .unionAll(clicks.select(F.lit(2).alias("step")))
            .unionAll(buys.select(F.lit(3).alias("step")))
            .groupBy("step")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    n1, n2, n3 = counts.get(1, 0), counts.get(2, 0), counts.get(3, 0)
    # n1 == 0 → conversion NULL for steps 2-3, matching the oracle's
    # division semantics (n2/n1 over zero is NULL in the SQL twin, not
    # 0.0); step 1 is the literal 1.0 in both.
    return spark.createDataFrame(
        [
            (1, "view", n1, 1.0),
            (2, "click_within_1h", n2, round(n2 / n1, 6) if n1 else None),
            (3, "purchase_within_1h", n3, round(n3 / n1, 6) if n1 else None),
        ],
        "step int, stage string, n_users bigint, conversion double",
    )


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample + gap-fill: per event_type, the
    complete hourly series between that type's first and last event,
    with empty hours emitted explicitly (n_events = 0, is_gap = 1) and
    the hourly value forward-filled (LOCF — last observation carried
    forward), the standard time-series densification before
    plotting/joining/model-feeding irregular event data.

    Scale shape: the hourly pre-aggregation is one partial-agg'd
    shuffle on (type, hour); the spine is generated DISTRIBUTED via
    ``F.sequence`` per type row — never a driver loop — and its
    length is the type's time RANGE in hours, independent of event
    row count; the LOCF window partitions by type over that bounded
    spine. At 100 TB add a coarse time-bucket to the window partition
    key if a single type's range outgrows one task. Reference has no
    analog (no time-series surface at all)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("v"),
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("interval 1 hour"))
            ).alias("hr"),
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return spine.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.last("v", ignorenulls=True).over(w).alias("value_locf"),
        F.col("n").isNull().cast("int").alias("is_gap"),
    )


QUERIES = {
    "events_tumbling_hour": q_events_tumbling_hour,
    "events_gapfill": q_events_gapfill,
    "events_sessionize": q_events_sessionize,
    "events_session_journeys": q_events_session_journeys,
    "events_json_props": q_events_json_props,
    "events_pivot_user_counts": q_events_pivot_user_counts,
    "events_dedup_latest": q_events_dedup_latest,
    "events_funnel": q_events_funnel,
    "events_asof_join": q_events_asof_join,
    "events_range_join": q_events_range_join,
    "events_sliding_counts": q_events_sliding_counts,
    "events_purchase_attribution": q_events_purchase_attribution,
    "events_retention": q_events_retention,
    "events_anomaly": q_events_anomaly,
    "events_markov_transitions": q_events_markov_transitions,
    "events_rfm_segments": q_events_rfm_segments,
    "events_bot_flags": q_events_bot_flags,
    "events_funnel_windowed": q_events_funnel_windowed,
}

ORACLES = {
    "events_gapfill": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hr,
                   CAST(count(*) AS BIGINT) AS n,
                   ROUND(sum(value), 4) AS v
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT event_type, min(hr) AS mn, max(hr) AS mx
            FROM hourly GROUP BY 1
        ), spine AS (
            SELECT event_type,
                   unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
            FROM bounds
        )
        SELECT s.event_type,
               strftime(s.hr, '%Y-%m-%d %H:%M:%S') AS hour,
               COALESCE(h.n, 0) AS n_events,
               last_value(h.v IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_locf,
               CAST(h.n IS NULL AS INT) AS is_gap
        FROM spine s
        LEFT JOIN hourly h
          ON h.event_type = s.event_type AND h.hr = s.hr
    """,
    "events_sliding_counts": """
        WITH e AS (SELECT epoch(ts) AS e, event_type FROM events),
        w AS (
            SELECT event_type, e,
                   unnest([CAST(floor(e / 1800) * 1800 AS BIGINT) - 1800,
                           CAST(floor(e / 1800) * 1800 AS BIGINT)]) AS s
            FROM e
        )
        SELECT strftime(make_timestamp(s * 1000000), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type, count(*) AS n_events
        FROM w WHERE e >= s AND e < s + 3600
        GROUP BY 1, 2
    """,
    "events_purchase_attribution": """
        SELECT p.user_id,
               p.event_id AS purchase_event_id,
               v.event_id AS view_event_id,
               CAST(floor(epoch(p.ts)) AS BIGINT)
                   - CAST(floor(epoch(v.ts)) AS BIGINT) AS lag_s,
               p.value
        FROM events p JOIN events v
          ON p.event_type = 'purchase' AND v.event_type = 'view'
         AND p.user_id = v.user_id
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
    "events_tumbling_hour": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               ROUND(sum(value), 4) AS total_value,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1, 2
    """,
    "events_sessionize": """
        WITH flagged AS (
            SELECT user_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR CAST(floor(epoch(ts)) AS BIGINT)
                                - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS new_session,
                   ts, event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
            SELECT user_id, value,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               ROUND(sum(value), 4) AS session_value
        FROM sessioned GROUP BY user_id, session_id
    """,
    "events_session_journeys": """
        WITH flagged AS (
            SELECT user_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR CAST(floor(epoch(ts)) AS BIGINT)
                                - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS new_session,
                   ts, event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessioned AS (
            SELECT user_id, event_type, ts, event_id,
                   CAST(sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               array_to_string(
                   array_agg(event_type ORDER BY ts, event_id), '>'
               ) AS journey,
               count(*) AS n_events
        FROM sessioned GROUP BY user_id, session_id
    """,
    "events_json_props": """
        SELECT event_type,
               ROUND(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "events_dedup_latest": """
        SELECT user_id, event_type, event_id, ROUND(value, 4) AS value
        FROM (
            SELECT user_id, event_type, event_id, value,
                   row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "events_funnel": """
        SELECT v.user_id
        FROM (SELECT user_id, min(ts) AS first_view FROM events
              WHERE event_type = 'view' GROUP BY user_id) v
        JOIN (SELECT user_id, max(ts) AS last_buy FROM events
              WHERE event_type = 'purchase' GROUP BY user_id) b
          ON v.user_id = b.user_id
        WHERE b.last_buy > v.first_view
    """,
    "events_range_join": """
        WITH tiers AS (
            SELECT 'low' AS tier, 0.0 AS lo, 100.0 AS hi UNION ALL
            SELECT 'mid', 100.0, 180.0 UNION ALL
            SELECT 'high', 180.0, 10000.0
        )
        SELECT tier, count(*) AS n_events, ROUND(avg(value), 4) AS avg_value
        FROM events JOIN tiers ON value >= lo AND value < hi
        GROUP BY tier
    """,
    "events_asof_join": """
        WITH v AS (
            SELECT user_id, ts, value FROM events WHERE event_type = 'view'
        ),
        p AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        )
        SELECT p.user_id, p.event_id AS purchase_id,
               ROUND(v.value, 4) AS asof_view_value
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
    "events_retention": """
        WITH f AS (
            SELECT user_id,
                   CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        a AS (
            SELECT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS active_week
            FROM events
        )
        SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
               strftime(a.active_week, '%Y-%m-%d') AS active_week,
               count(DISTINCT a.user_id) AS n_users,
               CAST(floor(date_diff('day', f.cohort_week, a.active_week)
                          / 7.0) AS INT) AS week_offset
        FROM a JOIN f ON a.user_id = f.user_id
        GROUP BY f.cohort_week, a.active_week
    """,
    "events_anomaly": f"""
        WITH s AS (
            SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               ROUND(e.value, 4) AS value,
               ROUND((e.value - s.mu) / s.sd, 4) AS z_score
        FROM events e JOIN s ON e.event_type = s.event_type
        WHERE s.sd > 0 AND abs((e.value - s.mu) / s.sd) >= {ANOMALY_Z}
    """,
}

ORACLES["events_funnel_windowed"] = f"""
        WITH v AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
              AND floor(epoch(e.ts)) - floor(epoch(v.t_view))
                  <= {FUNNEL_WINDOW_S}
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t_buy
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
              AND floor(epoch(e.ts)) - floor(epoch(c.t_click))
                  <= {FUNNEL_WINDOW_S}
            GROUP BY e.user_id
        ), n AS (
            SELECT (SELECT count(*) FROM v) AS n1,
                   (SELECT count(*) FROM c) AS n2,
                   (SELECT count(*) FROM p) AS n3
        )
        SELECT CAST(1 AS INT) AS step, 'view' AS stage,
               CAST(n1 AS BIGINT) AS n_users, 1.0 AS conversion FROM n
        UNION ALL
        SELECT 2, 'click_within_1h', CAST(n2 AS BIGINT),
               ROUND(n2 / CAST(n1 AS DOUBLE), 6) FROM n
        UNION ALL
        SELECT 3, 'purchase_within_1h', CAST(n3 AS BIGINT),
               ROUND(n3 / CAST(n1 AS DOUBLE), 6) FROM n
    """

ORACLES["events_bot_flags"] = f"""
        WITH e AS (
            -- floor to whole seconds: Spark's unix_timestamp truncates,
            -- DuckDB's epoch() keeps the fraction
            SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events
        ), c AS (
            SELECT user_id,
                   CAST(count(*) OVER (
                       PARTITION BY user_id ORDER BY ep
                       RANGE BETWEEN 59 PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS win_count
            FROM e
        )
        SELECT user_id,
               max(win_count) AS peak_per_min,
               max(win_count) >= {BOT_RATE_PER_MIN} AS bot_suspect
        FROM c GROUP BY user_id
    """

ORACLES["events_rfm_segments"] = """
        WITH per_user AS (
            SELECT user_id, max(ts) AS last_ts,
                   CAST(count(*) AS BIGINT) AS frequency,
                   ROUND(sum(CASE WHEN event_type = 'purchase'
                             THEN value ELSE 0 END), 4) AS monetary
            FROM events GROUP BY user_id
        ), anch AS (SELECT max(ts) AS anchor_ts FROM events),
        u AS (
            SELECT user_id, frequency, monetary,
                   CAST(date_diff('day', CAST(last_ts AS DATE),
                                  CAST(anchor_ts AS DATE)) AS INT)
                       AS recency_days
            FROM per_user, anch
        ), q AS (
            SELECT quantile_cont(recency_days, 0.25) AS r_q1,
                   quantile_cont(recency_days, 0.5)  AS r_q2,
                   quantile_cont(recency_days, 0.75) AS r_q3,
                   quantile_cont(frequency, 0.25) AS f_q1,
                   quantile_cont(frequency, 0.5)  AS f_q2,
                   quantile_cont(frequency, 0.75) AS f_q3,
                   quantile_cont(monetary, 0.25) AS m_q1,
                   quantile_cont(monetary, 0.5)  AS m_q2,
                   quantile_cont(monetary, 0.75) AS m_q3
            FROM u
        ), b AS (
            SELECT user_id, recency_days, frequency, monetary,
                   1 + CAST(recency_days > r_q1 AS INT)
                     + CAST(recency_days > r_q2 AS INT)
                     + CAST(recency_days > r_q3 AS INT) AS r_q,
                   1 + CAST(frequency > f_q1 AS INT)
                     + CAST(frequency > f_q2 AS INT)
                     + CAST(frequency > f_q3 AS INT) AS f_q,
                   1 + CAST(monetary > m_q1 AS INT)
                     + CAST(monetary > m_q2 AS INT)
                     + CAST(monetary > m_q3 AS INT) AS m_q
            FROM u, q
        )
        SELECT user_id, recency_days, frequency, monetary,
               r_q, f_q, m_q,
               CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
                   || CAST(m_q AS VARCHAR) AS segment
        FROM b
    """

ORACLES["events_markov_transitions"] = """
        WITH pairs AS (
            SELECT event_type AS cur,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS nxt
            FROM events
        ), counts AS (
            SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n
            FROM pairs WHERE nxt IS NOT NULL
            GROUP BY cur, nxt
        )
        SELECT cur, nxt, n,
               ROUND(n / CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 6) AS p
        FROM counts
    """

ORACLES["events_pivot_user_counts"] = """
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        FROM events
        GROUP BY user_id
    """
