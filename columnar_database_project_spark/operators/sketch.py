"""Mergeable-sketch operators: bounded-memory heavy hitters.

Misra-Gries is THE deterministic frequent-items sketch (Misra & Gries
1982; the "mergeable summaries" formulation is Agarwal et al., PODS
2012): a capacity-K counter set whose decrement step guarantees every
item with true frequency > n/(K+1) survives. The operator here is the
standard two-phase exact heavy hitters at scale:

1. **Sketch phase** — each partition builds an MG summary of its token
   stream in O(K) memory (batch-vectorized: exact value_counts per
   Arrow batch, merged, then MG-reduced back to K entries — the merge
   + reduce preserves the guarantee). Emits candidate terms only.
2. **Verify phase** — exact counts for the candidate set alone
   (broadcast semi-join; at most K × partitions candidates), threshold
   ``cnt * (K+1) > n`` in integer arithmetic.

Phase-1's guarantee makes the union of partition candidates a superset
of every global heavy hitter (pigeonhole over the partition split), so
the verified output EQUALS the full GROUP BY ... HAVING answer — which
is what the DuckDB oracle runs. The sketch is not an approximation
here; it is the bounded-memory route to the exact answer: the full
per-term hash table never materializes on any single node.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.functions.broadcast_policy import (
    bounded_broadcast,
)
from columnar_database_project_spark.operators.text import tokens_col

MG_CAPACITY = 30     # K: guarantees survival of items with freq > n/(K+1)


def mg_reduce(counters: dict, k: int) -> dict:
    """Shrink a counter dict to <= k entries by the Misra-Gries
    decrement: subtract the (k+1)-th largest count from everything and
    drop the non-positive. Each surviving count is an underestimate by
    at most the total decrement, which the MG analysis bounds by
    n/(k+1) over the whole stream."""
    if len(counters) <= k:
        return counters
    delta = sorted(counters.values(), reverse=True)[k]
    return {t: c - delta for t, c in counters.items() if c > delta}


def _mg_partition_summary(
    batches: Iterator[pd.DataFrame], k: int = MG_CAPACITY
) -> dict:
    """Capacity-k MG summary of one partition's ``term`` stream:
    exact value_counts per Arrow batch (vectorized), merged, reduced."""
    counters: dict = {}
    for pdf in batches:
        # exact per-batch counts, vectorized; merging exact sub-stream
        # counts then reducing is the mergeable-summaries formulation
        for term, c in pdf["term"].value_counts().items():
            counters[term] = counters.get(term, 0) + int(c)
        counters = mg_reduce(counters, k)
    return counters


def _mg_candidates(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    counters = _mg_partition_summary(batches)
    yield pd.DataFrame({"term": list(counters.keys())})


def q_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (freq > n/(K+1)) via the two-phase
    MG sketch — see the module docstring for why the result is exact
    and the memory is bounded by K per task."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokens_col()).alias("term"))
    candidates = terms.mapInPandas(_mg_candidates, schema="term string").distinct()
    total = terms.agg(F.count(F.lit(1)).alias("n"))
    return (
        terms.join(
            bounded_broadcast(
                candidates,
                MG_CAPACITY * 4096,
                "MG candidates <= capacity x partitions",
            ),
            "term",
        )  # verify ONLY candidates
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(bounded_broadcast(total, 1, "1-row corpus token count"))
        .filter(F.col("cnt") * (MG_CAPACITY + 1) > F.col("n"))
        .select("term", "cnt")
    )


SKEW_TOP_N = 10


def q_stats_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile for the shuffle key a pipeline is about to
    join/aggregate on (here: events.user_id) — the diagnostic that
    decides whether a key needs salting or AQE skew-join before a
    100 TB run. One partial-agg'd shuffle builds per-key counts; the
    global summary (rows, distinct keys) reduces to ONE row (bounded
    broadcast); the top-N is TakeOrderedAndProject. Output per hot
    key: count, share of all rows, and skew factor (count / mean
    count per key — a value ≫1 means salt this key)."""
    events = load_table(spark, sf_dir, "events")
    per_key = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    summary = per_key.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    top = (
        per_key.orderBy(F.col("cnt").desc(), "user_id")
        .limit(SKEW_TOP_N)
        .crossJoin(bounded_broadcast(summary, 1, "1-row key-population summary"))
    )
    w = W.orderBy(F.col("cnt").desc(), F.col("user_id"))
    return top.select(
        F.row_number().over(w).alias("rank"),
        "user_id",
        "cnt",
        F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
        F.round(
            F.col("cnt") * F.col("n_keys") / F.col("n_rows").cast("double"), 4
        ).alias("skew_factor"),
        "n_keys",
    )


CMS_DEPTH = 4      # independent hash rows
CMS_WIDTH = 256    # buckets per row; est error <= n/WIDTH w.h.p.


def _cms_bucket(seed: int, term) -> "F.Column":
    """Deterministic bucket for (seed, term): md5-based 32-bit hash
    mod WIDTH — reproducible bit-for-bit in the DuckDB oracle."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), term)), 1, 8), 16, 10
    ).cast("long")
    return (h % CMS_WIDTH).cast("int")


def _cms_sketch(terms: DataFrame) -> DataFrame:
    """The Count-Min sketch as a DataFrame: (seed, bucket, c) counts,
    DEPTH x WIDTH rows total. Built with ONE map-side-combined
    aggregation per seed over the token scan (stacked via explode of
    the seed range so it stays a single shuffle of DEPTH x WIDTH
    keys); mergeable across corpora by adding bucket counts — the
    property that makes CMS the streaming/distributed counting
    sketch (Cormode & Muthukrishnan 2005)."""
    seeded = terms.select(
        "term", F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed")
    )
    bucket = F.when(F.col("seed") == 0, _cms_bucket(0, F.col("term")))
    for s in range(1, CMS_DEPTH):
        bucket = bucket.when(F.col("seed") == s, _cms_bucket(s, F.col("term")))
    return (
        seeded.select("seed", bucket.alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CMS table itself over the corpus token stream —
    oracle-exact because the hash family is md5-based and
    deterministic. At 100 TB this is the ONLY per-term state that
    exists: DEPTH x WIDTH counters, independent of vocabulary size."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokens_col()).alias("term"))
    return _cms_sketch(terms)


CMS_PROBE_TOP_N = 20


def q_sketch_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS point-query audit: for the true top-N terms, the sketch
    estimate (min over seeds of the hashed bucket's count) next to
    the exact count and the overestimate — the CMS guarantee
    (estimate >= truth, excess <= collisions) made inspectable and
    oracle-pinned. The sketch and the N x DEPTH probe frame are both
    bounded by construction (DEPTH x WIDTH and N x DEPTH rows), so
    their broadcasts are policy-legal."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokens_col()).alias("term"))
    sketch = _cms_sketch(terms)
    top = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "term")
        .limit(CMS_PROBE_TOP_N)
    )
    probes = top.select(
        "term",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed"),
    )
    bucket = F.when(F.col("seed") == 0, _cms_bucket(0, F.col("term")))
    for s in range(1, CMS_DEPTH):
        bucket = bucket.when(F.col("seed") == s, _cms_bucket(s, F.col("term")))
    probes = probes.select("term", "exact_cnt", "seed", bucket.alias("bucket"))
    return (
        probes.join(
            bounded_broadcast(
                sketch, CMS_DEPTH * CMS_WIDTH, "CMS is DEPTH x WIDTH by construction"
            ),
            ["seed", "bucket"],
        )
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "term",
            "exact_cnt",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


QUERIES = {
    "sketch_heavy_hitters": q_sketch_heavy_hitters,
    "stats_key_skew": q_stats_key_skew,
    "sketch_count_min": q_sketch_count_min,
    "sketch_cms_estimates": q_sketch_cms_estimates,
}

ORACLES = {
    "sketch_heavy_hitters": f"""
        WITH tf AS (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents
        ), c AS (
            SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tf GROUP BY term
        ), n AS (
            SELECT count(*) AS n FROM tf
        )
        SELECT term, cnt FROM c, n WHERE cnt * {MG_CAPACITY + 1} > n
    """,
    "sketch_count_min": f"""
        WITH tf AS (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents
        ), seeded AS (
            SELECT term, unnest([{", ".join(str(s) for s in range(CMS_DEPTH))}]) AS seed
            FROM tf
        )
        SELECT CAST(seed AS INT) AS seed,
               CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || term), 1, 8))::BIGINT
                    % {CMS_WIDTH} AS INT) AS bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM seeded GROUP BY 1, 2
    """,
    "sketch_cms_estimates": f"""
        WITH tf AS (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents
        ), exact AS (
            SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
            FROM tf GROUP BY term
        ), top AS (
            SELECT term, exact_cnt FROM exact
            ORDER BY exact_cnt DESC, term LIMIT {CMS_PROBE_TOP_N}
        ), seeded AS (
            SELECT term, unnest([{", ".join(str(s) for s in range(CMS_DEPTH))}]) AS seed
            FROM tf
        ), sketch AS (
            SELECT seed,
                   ('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || term), 1, 8))::BIGINT
                       % {CMS_WIDTH} AS bucket,
                   CAST(count(*) AS BIGINT) AS c
            FROM seeded GROUP BY 1, 2
        ), probes AS (
            SELECT t.term, t.exact_cnt, s.seed,
                   ('0x' || substr(md5(CAST(s.seed AS VARCHAR) || ':' || t.term), 1, 8))::BIGINT
                       % {CMS_WIDTH} AS bucket
            FROM top t, (SELECT unnest([{", ".join(str(s) for s in range(CMS_DEPTH))}]) AS seed) s
        )
        SELECT p.term, p.exact_cnt,
               min(k.c) AS cms_estimate,
               min(k.c) - p.exact_cnt AS overestimate
        FROM probes p JOIN sketch k
          ON k.seed = p.seed AND k.bucket = p.bucket
        GROUP BY p.term, p.exact_cnt
    """,
    "stats_key_skew": f"""
        WITH per_key AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY user_id
        ), summary AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys
            FROM per_key
        )
        SELECT rank, user_id, cnt,
               ROUND(cnt / CAST(n_rows AS DOUBLE), 6) AS share,
               ROUND(cnt * n_keys / CAST(n_rows AS DOUBLE), 4) AS skew_factor,
               n_keys
        FROM (
            SELECT user_id, cnt, n_rows, n_keys,
                   row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
            FROM per_key CROSS JOIN summary
        ) WHERE rank <= {SKEW_TOP_N}
    """,
}
