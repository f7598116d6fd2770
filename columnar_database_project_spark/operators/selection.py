"""Corpus selection, retrieval, and privacy operators.

Round-6 widening of the training-data pipeline surface (no reference
analog — the reference has no text functions at all; this extends the
same ``documents``/``embeddings`` surface as ``operators/text.py``):

- PII redaction (email / phone / IPv4 regex scrub + audit counts)
- Overlapping token-window chunking (RAG / pretraining chunk shape)
- Deterministic importance sampling (quality-weighted keep/drop)
- Token-budget corpus selection (highest-quality docs under a budget)
- BM25 top-k retrieval for a fixed query
- Cross-modal documents x embeddings join (text quality vs vector norm)

All scan-local ``pyspark.sql.functions`` except where a shuffle is
semantically required, and every broadcast is bounded by construction
(quality-bucket table <= 20 rows, BM25 stats = 1 row) per the
DEPLOY.md broadcast-hint policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.functions.broadcast_policy import (
    bounded_broadcast,
)
from columnar_database_project_spark.operators.text import (
    EN_MARKERS,
    tokens_col,
)

# PII patterns — RE2 (DuckDB) and java.util.regex (Spark) both support
# this subset (\d, \b, bounded repeats; no lookaround).
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
IPV4_RE = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
PII_TOKEN = "<PII>"

CHUNK_SIZE = 32     # tokens per chunk
CHUNK_STRIDE = 24   # tokens between chunk starts (8-token overlap)

TOKEN_BUDGET = 20_000  # token-budget selection target
N_QUALITY_BUCKETS = 20

BM25_QUERY = ("spark", "query", "table")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _quality_score(toks):
    """The shared quality-score formula (same as funnel_flag_cols /
    text_quality): 0.6 * min(n_tokens/100, 1) + 0.4 * stopword ratio."""
    n_tokens = F.size(toks)
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    stop_ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(markers, t))
    ) / n_tokens.cast("double")
    return 0.6 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.4 * stop_ratio


def redacted_text_col():
    """The scrubbed-text expression (every email/phone/IPv4 match →
    ``<PII>``) — shared by the audit and the composed corpus recipe,
    so one scrub definition exists."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, PII_TOKEN),
            PHONE_RE,
            PII_TOKEN,
        ),
        IPV4_RE,
        PII_TOKEN,
    )


def pii_audit(docs: DataFrame) -> DataFrame:
    """PII scrub over a ``documents``-shaped frame, the body of the
    batch query below. Pure stateless map work, so it runs unchanged
    on a stream."""
    redacted = redacted_text_col()
    n_email = F.regexp_count(F.col("text"), F.lit(EMAIL_RE))
    n_phone = F.regexp_count(F.col("text"), F.lit(PHONE_RE))
    n_ipv4 = F.regexp_count(F.col("text"), F.lit(IPV4_RE))
    return docs.select(
        "doc_id",
        n_email.alias("n_email"),
        n_phone.alias("n_phone"),
        n_ipv4.alias("n_ipv4"),
        ((n_email + n_phone + n_ipv4) == 0).alias("clean"),
        F.md5(redacted).alias("redacted_fp"),
    )


def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit: count email/phone/IPv4 matches per document and
    fingerprint the redacted text (every match replaced by ``<PII>``)
    so the scrub itself — not just the counts — is oracle-verified.
    Scan-local regex work, zero shuffles; at 100 TB this is a pure
    map stage that pipelines into any downstream write."""
    return pii_audit(load_table(spark, sf_dir, "documents"))


def chunk_windows(docs: DataFrame) -> DataFrame:
    """Overlapping token-window chunking over a ``documents``-shaped
    frame — shared by the two chunk queries below. Stateless explode:
    rows stay on the document's partition."""
    toks = tokens_col()
    n_chunks = (F.floor((F.size(toks) - 1) / CHUNK_STRIDE) + 1).cast("int")
    chunked = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.explode(
            # guard: sequence(0, n-1) counts DOWN when n < 1
            F.when(n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1))
        ).alias("chunk_id"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_SIZE
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).alias("chunk_n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def q_text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (size 32, stride 24) — the
    standard RAG / long-context pretraining chunk shape. Chunk i
    covers tokens [i*stride, i*stride + size); the last chunk may be
    short. Row explosion is ~n_tokens/stride per doc and stays on the
    document's partition (no shuffle); chunk_hash enables downstream
    chunk-level dedup on a digest instead of text."""
    return chunk_windows(load_table(spark, sf_dir, "documents"))


def q_text_chunk_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-substring fraction per document: the share of a
    doc's token-window chunks whose hash also appears in ANOTHER
    document — the chunk-level (substring) dedup signal that catches
    boilerplate and near-copies exact-doc dedup misses. Composition:
    the chunking operator feeds a chunk_hash → n_docs table
    (corpus-proportional, so the join back is UNHINTED — AQE
    size-gates it) and a per-doc rollup. Two shuffles (hash groupBy +
    join), both on the md5 digest, never on text bytes."""
    chunks = chunk_windows(load_table(spark, sf_dir, "documents"))
    # Single corpus scan: pre-aggregate to (hash, doc) with
    # per-doc occurrence counts (map-side partial), count distinct
    # docs per hash as a window ROW count over that deduped frame
    # (countDistinct-over-window unsupported; this is its exact
    # equivalent), then roll up per doc — no self-join, so the
    # chunking+md5 work runs once, not twice.
    per = chunks.groupBy("chunk_hash", "doc_id").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    n_docs = F.count(F.lit(1)).over(W.partitionBy("chunk_hash"))
    dup_occ = F.when(F.col("n_docs_with_hash") > 1, F.col("n_occ")).otherwise(
        F.lit(0)
    )
    return (
        per.withColumn("n_docs_with_hash", n_docs)
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_chunks"),
            F.sum(dup_occ).alias("n_dup_chunks"),
            F.round(
                F.sum(dup_occ) / F.sum("n_occ").cast("double"), 6
            ).alias("dup_chunk_frac"),
        )
    )


def q_text_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted importance sampling: keep a doc
    iff hash-uniform(doc_id) < weight, weight = 0.2 + 0.8 * quality.
    The uniform draw is a pure function of doc_id (md5 hex chars 5-12,
    disjoint from the chars 1-4 the split/sample bucket uses, so the
    two decisions are independent) — reproducible across engines,
    runs, and incremental batches, unlike rand(). Scan-local filter,
    zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    u = F.round(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 5, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0),
        6,
    )
    w = F.round(0.2 + 0.8 * _quality_score(toks), 6)
    return (
        docs.select(
            "doc_id",
            "lang",
            u.alias("u"),
            w.alias("weight"),
        )
        .filter(F.col("u") < F.col("weight"))
    )


# Target per-language keep rates for corpus mixing — the knob a
# pretraining data recipe sets (upsample the target language, damp the
# long tail). Deterministic hash thresholds, not rand(): incremental
# batches and backfills make identical decisions.
DOMAIN_MIX_WEIGHTS = {
    "en": 1.0,
    "fr": 0.6,
    "de": 0.6,
    "es": 0.6,
    "zh": 0.3,
}
DOMAIN_MIX_DEFAULT = 0.5  # unlisted languages


def q_text_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/language mixing: rebalance the corpus to target per-lang
    rates by keeping each doc iff hash-uniform(doc_id) < rate(lang).
    The uniform draw uses md5 hex chars 13-20 — disjoint from the
    split bucket (chars 1-4) and the importance-sample draw (5-12), so
    the three decisions are mutually independent. Scan-local filter,
    zero shuffles; the weight lookup is a CASE expression, not a join."""
    docs = load_table(spark, sf_dir, "documents")
    u = F.round(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 13, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0),
        6,
    )
    w = F.lit(DOMAIN_MIX_DEFAULT)
    for lang, rate in DOMAIN_MIX_WEIGHTS.items():
        w = F.when(F.col("lang") == lang, F.lit(rate)).otherwise(w)
    return (
        docs.select("doc_id", "lang", u.alias("u"), w.alias("rate"))
        .filter(F.col("u") < F.col("rate"))
    )


def q_text_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: take the highest-quality
    documents (quality quantized to 20 buckets; ties broken by doc_id)
    until the cumulative token count would exceed TOKEN_BUDGET.

    Selection is DEFINED as a single cumulative sum over the global
    order (bucket DESC, doc_id) — but a global-window cumsum is a
    one-partition sort at 100 TB, so the implementation is the
    scalable two-phase equivalent: (1) per-bucket token totals
    (<= 20 rows) give each bucket's cumulative offset via a tiny
    window, broadcast back (bounded by construction — DEPLOY.md
    policy); (2) a PER-BUCKET window (hash-partitioned on bucket)
    computes within-bucket cumsums. Because the quantized bucket is
    the leading sort key, offset + within-cumsum equals the global
    cumsum exactly."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    bucket = F.least(
        F.floor(_quality_score(toks) * N_QUALITY_BUCKETS),
        F.lit(N_QUALITY_BUCKETS - 1),
    ).cast("int")
    per_doc = docs.select(
        "doc_id", bucket.alias("bucket"), F.size(toks).alias("n_tokens")
    )
    bucket_w = W.orderBy(F.col("bucket").desc()).rowsBetween(
        W.unboundedPreceding, -1
    )
    bucket_offsets = (
        per_doc.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .select(
            "bucket",
            F.coalesce(F.sum("bucket_tokens").over(bucket_w), F.lit(0)).alias(
                "offset"
            ),
        )
    )
    within_w = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        per_doc.join(
            bounded_broadcast(
                bucket_offsets,
                N_QUALITY_BUCKETS,
                "quality-bucket offset table",
            ),
            "bucket",
        )
        .select(
            "doc_id",
            "bucket",
            "n_tokens",
            (F.col("offset") + F.sum("n_tokens").over(within_w)).alias(
                "cum_tokens"
            ),
        )
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed query — the retrieval operator
    a decontamination / targeted-selection pipeline needs. Per-doc
    term frequencies are computed scan-local (array filter per query
    term — no posting-list explode, no shuffle); document frequencies
    and avgdl reduce to ONE summary row joined back by cross join
    (1 row: bounded broadcast). The only data-bound shuffle is the
    final TakeOrdered top-k. idf uses the +1 smoothing that keeps
    scores positive; scores are rounded before ranking so cross-engine
    float noise cannot flip tie order."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    def tf_of(term: str):
        # closure per term — a `lambda t, term=term:` default would make
        # F.filter see a 2-arg (element, index) lambda and bind the term
        # to the positional index instead
        return F.size(F.filter(toks, lambda t: t == F.lit(term)))

    tf_cols = [
        tf_of(term).alias(f"tf_{i}") for i, term in enumerate(BM25_QUERY)
    ]
    base = docs.select(
        "doc_id", F.size(toks).alias("dl"), *tf_cols
    )
    stats = base.select(
        F.avg("dl").alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    scored = base.crossJoin(
        bounded_broadcast(stats, 1, "1-row BM25 corpus stats")
    )
    norm = BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    score = None
    for i in range(len(BM25_QUERY)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5)
            / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        part = idf * F.col(f"tf_{i}") * (BM25_K1 + 1) / (
            F.col(f"tf_{i}") + norm
        )
        score = part if score is None else score + part
    ranked = scored.select(
        "doc_id", "dl", F.round(score, 6).alias("bm25")
    )
    # TakeOrderedAndProject top-k first (per-partition heaps, no global
    # sort shuffle); the rank window then runs over only K rows.
    top = ranked.orderBy(F.col("bm25").desc(), "doc_id").limit(BM25_TOP_K)
    w = W.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


WEIGHTED_SAMPLE_K = 50


def q_text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis–Spirakis:
    each doc draws key = u^(1/w) (u hash-uniform, w = 0.2+0.8*quality)
    and the K largest keys win — a one-pass, shuffle-light exact
    algorithm (the heavier a doc's weight, the likelier a large key).
    Unlike rejection/importance sampling this hits the sample size K
    exactly. The uniform draw uses md5 hex chars 21-28 — disjoint from
    the split bucket (1-4), the importance draw (5-12), and the
    domain-mix draw (13-20), so all four decisions are independent.
    Scale shape: keys are scan-local; the only shuffle is the
    TakeOrderedAndProject top-K (per-partition heaps carry K rows each
    — no global sort); the rank window then runs over K rows only.
    Keys are rounded to 6dp BEFORE ranking (doc_id tiebreak) so
    cross-engine pow() noise cannot flip the cut."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    u = F.round(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 21, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0),
        6,
    )
    w = F.round(0.2 + 0.8 * _quality_score(toks), 6)
    key = F.round(F.pow(u, 1.0 / w), 6)
    scored = docs.select(
        "doc_id", w.alias("weight"), key.alias("es_key")
    )
    top = scored.orderBy(
        F.col("es_key").desc(), "doc_id"
    ).limit(WEIGHTED_SAMPLE_K)
    win = W.orderBy(F.col("es_key").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(win))


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the nightly corpus-lifecycle audit: which docs
    were added, removed, or changed between two corpus versions. The
    two snapshots are derived deterministically from ``documents`` so
    the diff is oracle-checkable: the OLD snapshot lacks doc_id%10==0
    (→ those surface as ``added``), the NEW snapshot lacks
    doc_id%10==5 (→ ``removed``) and carries an edited text for
    doc_id%10==1 (→ ``changed``). Comparison is by md5 fingerprint, so
    the full-outer join shuffles ~24 bytes/row (id + digest), never
    the text — at 100 TB the diff costs two fingerprint scans plus one
    id-keyed exchange, not a text shuffle. Unchanged rows are dropped
    post-join (the overwhelming majority at scale, so the output is
    delta-sized)."""
    docs = load_table(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    old = docs.filter(m != 0).select(
        "doc_id", F.md5("text").alias("fp_old")
    )
    new = docs.filter(m != 5).select(
        "doc_id",
        F.md5(
            F.when(m == 1, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
                F.col("text")
            )
        ).alias("fp_new"),
    )
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        old.join(new, "doc_id", "full_outer")
        .select("doc_id", status.alias("status"))
        .filter(F.col("status") != "unchanged")
    )


def q_text_corpus_build_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MODERN pretraining-recipe composition as one job, extending
    ``text.q_text_corpus_build`` with the two stages a current data
    recipe adds: PII scrub BEFORE fingerprinting (so near-identical
    docs differing only in scrubbed PII dedup together — the reason
    scrub-then-dedup is the production order) and per-language
    domain-mix resampling after dedup. Stages, every one reusing the
    standalone operator's shared expression:

        scrub (redacted_text_col) → quality funnel (funnel_flag_cols,
        over the SCRUBBED text) → exact dedup keep-first → domain-mix
        (DOMAIN_MIX_WEIGHTS, hash draw) → split (split_col) →
        per-(split, lang) packing summary (SEQ_LEN).

    Scale shape: one corpus scan computes scrub + flags + fingerprint
    (all scan-local); the ONLY data-bound shuffle is the dedup
    keep-first on md5; mix + split are pure column functions of
    doc_id/lang; the final rollup is a tiny (3 x langs) aggregate —
    two exchanges end to end, asserted by the plan test."""
    from columnar_database_project_spark.operators.text import (
        SEQ_LEN,
        funnel_flag_cols,
        split_col,
    )

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", redacted_text_col()
    )
    _len_ok, _rep_ok, keep = funnel_flag_cols()
    n_tokens = F.size(tokens_col())
    kept = docs.filter(keep).select(
        "doc_id", "lang", F.md5("text").alias("fp"), n_tokens.alias("n_tokens")
    )
    survivors = (
        kept.groupBy("fp")
        .agg(F.min_by(F.struct("doc_id", "lang", "n_tokens"), "doc_id").alias("s"))
        .select(F.col("s.doc_id").alias("doc_id"), "s.lang", "s.n_tokens")
    )
    u = F.round(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 13, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0),
        6,
    )
    rate = F.lit(DOMAIN_MIX_DEFAULT)
    for lang, r in DOMAIN_MIX_WEIGHTS.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    mixed = survivors.filter(u < rate)
    return (
        mixed.select(split_col().alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.ceil(F.sum("n_tokens") / F.lit(SEQ_LEN)).alias("n_seqs"),
        )
    )


def q_emb_doc_modality_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal join: documents x embeddings on doc_id = vec_id,
    rolled up per (lang, label) with doc-quality and vector-norm
    stats — the 'does text quality correlate with embedding geometry'
    audit a multimodal pipeline runs. One equi-join shuffle on the id
    key (both sides corpus-sized: NO broadcast hint, AQE picks the
    strategy) + a tiny group-by."""
    docs = load_table(spark, sf_dir, "documents")
    embs = load_table(spark, sf_dir, "embeddings")
    toks = tokens_col()
    d = docs.select(
        "doc_id", "lang", F.size(toks).alias("n_tokens")
    )
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    e = embs.select(
        F.col("vec_id").alias("doc_id"), "label", norm.alias("norm")
    )
    return (
        d.join(e, "doc_id")
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("norm"), 4).alias("avg_norm"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
    )


QUERIES = {
    "text_pii_redact": q_text_pii_redact,
    "text_chunk_windows": q_text_chunk_windows,
    "text_chunk_dup_rate": q_text_chunk_dup_rate,
    "text_importance_sample": q_text_importance_sample,
    "text_domain_mix_sample": q_text_domain_mix_sample,
    "text_token_budget_select": q_text_token_budget_select,
    "text_bm25_topk": q_text_bm25_topk,
    "text_weighted_sample": q_text_weighted_sample,
    "corpus_snapshot_diff": q_corpus_snapshot_diff,
    "text_corpus_build_full": q_text_corpus_build_full,
    "emb_doc_modality_join": q_emb_doc_modality_join,
}

_MARKERS_SQL = ", ".join(f"'{m}'" for m in EN_MARKERS)

_QUALITY_SQL = (
    "0.6 * least(len(toks) / 100.0, 1.0) + 0.4 * "
    f"(len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))"
    " / CAST(len(toks) AS DOUBLE))"
)

ORACLES = {
    "text_pii_redact": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phone,
               CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INT) AS n_ipv4,
               len(regexp_extract_all(text, '{EMAIL_RE}'))
                 + len(regexp_extract_all(text, '{PHONE_RE}'))
                 + len(regexp_extract_all(text, '{IPV4_RE}')) = 0 AS clean,
               md5(regexp_replace(regexp_replace(regexp_replace(
                   text, '{EMAIL_RE}', '{PII_TOKEN}', 'g'),
                   '{PHONE_RE}', '{PII_TOKEN}', 'g'),
                   '{IPV4_RE}', '{PII_TOKEN}', 'g')) AS redacted_fp
        FROM documents
    """,
    "text_chunk_windows": f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), c AS (
            SELECT doc_id, toks,
                   unnest(range(0,
                       CAST(floor((len(toks) - 1) / {CHUNK_STRIDE}) AS BIGINT) + 1
                   )) AS chunk_id
            FROM t
        )
        SELECT doc_id, chunk_id,
               CAST(len(toks[chunk_id * {CHUNK_STRIDE} + 1 :
                           chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}]) AS INT)
                   AS chunk_n_tokens,
               md5(array_to_string(
                   toks[chunk_id * {CHUNK_STRIDE} + 1 :
                        chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' '))
                   AS chunk_hash
        FROM c
    """,
    "text_chunk_dup_rate": f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), c AS (
            SELECT doc_id,
                   md5(array_to_string(
                       toks[chunk_id * {CHUNK_STRIDE} + 1 :
                            chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' '))
                       AS chunk_hash
            FROM (
                SELECT doc_id, toks,
                       unnest(range(0,
                           CAST(floor((len(toks) - 1) / {CHUNK_STRIDE}) AS BIGINT) + 1
                       )) AS chunk_id
                FROM t
            )
        ), h AS (
            SELECT chunk_hash,
                   count(DISTINCT doc_id) AS n_docs_with_hash
            FROM c GROUP BY chunk_hash
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(CASE WHEN n_docs_with_hash > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_chunks,
               ROUND(sum(CASE WHEN n_docs_with_hash > 1 THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 6) AS dup_chunk_frac
        FROM c JOIN h USING (chunk_hash)
        GROUP BY doc_id
    """,
    "text_importance_sample": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(trim(text), '\\s+') AS toks,
                   ROUND(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 8))::BIGINT
                         / 4294967296.0, 6) AS u
            FROM documents
        )
        SELECT doc_id, lang, u,
               ROUND(0.2 + 0.8 * ({_QUALITY_SQL}), 6) AS weight
        FROM t
        WHERE u < ROUND(0.2 + 0.8 * ({_QUALITY_SQL}), 6)
    """,
    "text_domain_mix_sample": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   ROUND(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 13, 8))::BIGINT
                         / 4294967296.0, 6) AS u,
                   CASE lang
                       {" ".join(
                           f"WHEN '{lang}' THEN {rate}"
                           for lang, rate in DOMAIN_MIX_WEIGHTS.items()
                       )}
                       ELSE {DOMAIN_MIX_DEFAULT}
                   END AS rate
            FROM documents
        )
        SELECT doc_id, lang, u, rate FROM t WHERE u < rate
    """,
    "text_token_budget_select": f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), b AS (
            SELECT doc_id,
                   CAST(least(floor(({_QUALITY_SQL}) * {N_QUALITY_BUCKETS}),
                              {N_QUALITY_BUCKETS - 1}) AS INT) AS bucket,
                   len(toks) AS n_tokens
            FROM t
        )
        SELECT doc_id, bucket, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM (
            SELECT doc_id, bucket, n_tokens,
                   SUM(n_tokens) OVER (
                       ORDER BY bucket DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum_tokens
            FROM b
        ) WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
    "text_bm25_topk": f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), base AS (
            SELECT doc_id, len(toks) AS dl,
                   {", ".join(
                       f"len(list_filter(toks, x -> x = '{term}')) AS tf_{i}"
                       for i, term in enumerate(BM25_QUERY)
                   )}
            FROM t
        ), stats AS (
            SELECT avg(dl) AS avgdl, count(*) AS n_docs,
                   {", ".join(
                       f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
                       for i in range(len(BM25_QUERY))
                   )}
            FROM base
        ), scored AS (
            SELECT doc_id, dl,
                   ROUND({" + ".join(
                       f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
                       f" * tf_{i} * ({BM25_K1} + 1)"
                       f" / (tf_{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
                       for i in range(len(BM25_QUERY))
                   )}, 6) AS bm25
            FROM base CROSS JOIN stats
        )
        SELECT doc_id, dl, bm25, rank FROM (
            SELECT doc_id, dl, bm25,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
            FROM scored
        ) WHERE rank <= {BM25_TOP_K}
    """,
    "text_weighted_sample": f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   ROUND(0.2 + 0.8 * ({_QUALITY_SQL}), 6) AS weight,
                   ROUND(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 21, 8))::BIGINT
                         / 4294967296.0, 6) AS u
            FROM t
        ), k AS (
            SELECT doc_id, weight,
                   ROUND(pow(u, 1.0 / weight), 6) AS es_key
            FROM s
        )
        SELECT doc_id, weight, es_key, rank FROM (
            SELECT doc_id, weight, es_key,
                   row_number() OVER (ORDER BY es_key DESC, doc_id) AS rank
            FROM k
        ) WHERE rank <= {WEIGHTED_SAMPLE_K}
    """,
    "corpus_snapshot_diff": """
        WITH old AS (
            SELECT doc_id, md5(text) AS fp_old
            FROM documents WHERE doc_id % 10 != 0
        ), new AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 10 = 1 THEN text || ' v2'
                            ELSE text END) AS fp_new
            FROM documents WHERE doc_id % 10 != 5
        )
        SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
               CASE WHEN fp_old IS NULL THEN 'added'
                    WHEN fp_new IS NULL THEN 'removed'
                    WHEN fp_old != fp_new THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        WHERE (CASE WHEN fp_old IS NULL THEN 'added'
                    WHEN fp_new IS NULL THEN 'removed'
                    WHEN fp_old != fp_new THEN 'changed'
                    ELSE 'unchanged' END) != 'unchanged'
    """,
    "text_corpus_build_full": f"""
        WITH scrubbed AS (
            SELECT doc_id, lang,
                   regexp_replace(regexp_replace(regexp_replace(
                       text, '{EMAIL_RE}', '{PII_TOKEN}', 'g'),
                       '{PHONE_RE}', '{PII_TOKEN}', 'g'),
                       '{IPV4_RE}', '{PII_TOKEN}', 'g') AS text
            FROM documents
        ), t AS (
            SELECT doc_id, lang, md5(text) AS fp,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM scrubbed
        ), s AS (
            SELECT doc_id, lang, fp,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                       AS distinct_ratio,
                   len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                       / CAST(len(toks) AS DOUBLE) AS stop_ratio
            FROM t
        ), kept AS (
            SELECT doc_id, lang, fp, n_tokens
            FROM s
            WHERE n_tokens >= 30 AND distinct_ratio >= 0.4
              AND 0.6 * least(n_tokens / 100.0, 1.0) + 0.4 * stop_ratio >= 0.3
        ), survivors AS (
            SELECT doc_id, lang, n_tokens,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept
        ), mixed AS (
            SELECT doc_id, lang, n_tokens
            FROM survivors
            WHERE rn = 1
              AND ROUND(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 13, 8))::BIGINT
                        / 4294967296.0, 6)
                  < (CASE lang
                         {" ".join(
                             f"WHEN '{lang}' THEN {rate}"
                             for lang, rate in DOMAIN_MIX_WEIGHTS.items()
                         )}
                         ELSE {DOMAIN_MIX_DEFAULT}
                     END)
        ), sp AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 AS bucket,
                   lang, n_tokens
            FROM mixed
        )
        SELECT CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(ceil(sum(n_tokens) / 256.0) AS BIGINT) AS n_seqs
        FROM sp GROUP BY 1, lang
    """,
    "emb_doc_modality_join": """
        WITH d AS (
            SELECT doc_id, lang,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
            FROM documents
        ), e AS (
            SELECT vec_id AS doc_id, label,
                   sqrt(list_sum(list_transform(
                       embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                   ))) AS norm
            FROM embeddings
        )
        SELECT lang, label,
               CAST(count(*) AS BIGINT) AS n_docs,
               ROUND(avg(norm), 4) AS avg_norm,
               ROUND(avg(n_tokens), 4) AS avg_tokens
        FROM d JOIN e USING (doc_id)
        GROUP BY lang, label
    """,
}


# ----------------------------------------------------------- hybrid RRF

RRF_K = 60        # the standard reciprocal-rank-fusion constant
RRF_CAND = 20     # per-list candidate depth (= BM25_TOP_K)
RRF_TOP_K = 10


def _rrf_dense_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dense side's candidate stage, pre-window: per-partition
    top-RRF_CAND cosines against query vector 0. Separated out so the
    plan suite can assert the GLOBAL ranking window downstream only
    ever reads ≤ RRF_CAND x n_partitions rows — the invariant that
    keeps the unpartitioned window safe at any corpus size."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    from columnar_database_project_spark.operators.similarity import (
        _query_vectors,
        normalize_rows,
        stack_embeddings,
    )

    _q_ids, q_raw = _query_vectors(sf_dir)
    q0 = normalize_rows(q_raw)[0]

    def dense_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = np.empty(0, dtype=np.int64)
        cs = np.empty(0)
        for pdf in batches:
            v = normalize_rows(stack_embeddings(pdf["embedding"]))
            # round-before-rank (module discipline, = IVF_SIM_DECIMALS):
            # raw-float ordering of near-equal cosines can differ
            # between numpy and DuckDB, shifting vec_rank → the fusion
            sims = np.round(v @ q0, 6)
            vid = pdf["vec_id"].values.astype(np.int64)
            mask = vid != 0                       # exclude the query doc
            ids = np.concatenate([ids, vid[mask]])
            cs = np.concatenate([cs, sims[mask]])
            if len(ids) > RRF_CAND:
                order = np.lexsort((ids, -cs))[:RRF_CAND]
                ids, cs = ids[order], cs[order]
        yield pd.DataFrame({"doc_id": ids, "cos": cs})

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "embedding").mapInPandas(
        dense_kernel, schema="doc_id long, cos double"
    )


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 lexical ranking and a dense cosine
    ranking (query vector 0, doc_id = vec_id) fused by reciprocal
    rank — score(d) = Σ 1/(RRF_K + rank_list(d)) over the lists that
    retrieved d. RRF is THE production fusion (rank-only, so the two
    scores' incomparable scales never meet); a doc missing from one
    list simply contributes nothing from it (rank reported as 0).

    Scale shape: each list is already a bounded top-RRF_CAND (BM25
    rides its TakeOrdered, the dense side keeps per-partition top-k in
    the kernel before one ranking window — bound asserted by
    test_plan_verify), so the fusion join touches ≤ 2 x RRF_CAND rows
    no matter the corpus — candidate generation is where the
    data-bound work lives, fusion is control-plane sized."""
    lex = q_text_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )

    w = W.orderBy(F.col("cos").desc(), F.col("doc_id"))
    dense = (
        _rrf_dense_candidates(spark, sf_dir)
        .withColumn("vec_rank", F.row_number().over(w))
        .filter(F.col("vec_rank") <= RRF_CAND)
        .select("doc_id", "vec_rank")
    )

    part = (
        F.when(F.col("lex_rank") > 0, 1.0 / (RRF_K + F.col("lex_rank")))
        .otherwise(0.0)
        + F.when(F.col("vec_rank") > 0, 1.0 / (RRF_K + F.col("vec_rank")))
        .otherwise(0.0)
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
            F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
        )
        .withColumn("rrf_score", F.round(part, 6))
    )
    wr = W.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= RRF_TOP_K)
        .select("doc_id", "lex_rank", "vec_rank", "rrf_score", "rank")
    )


QUERIES["hybrid_rrf_topk"] = q_hybrid_rrf_topk

_BM25_TF = ", ".join(
    f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
    for i, t in enumerate(BM25_QUERY)
)
_BM25_DF = ", ".join(
    f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
    for i in range(len(BM25_QUERY))
)
_BM25_SCORE = " + ".join(
    f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
    f" * tf_{i} * ({BM25_K1} + 1)"
    f" / (tf_{i} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
    for i in range(len(BM25_QUERY))
)

ORACLES["hybrid_rrf_topk"] = f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), base AS (
            SELECT doc_id, len(toks) AS dl, {_BM25_TF}
            FROM t
        ), stats AS (
            SELECT avg(dl) AS avgdl, count(*) AS n_docs, {_BM25_DF}
            FROM base
        ), lex AS (
            SELECT doc_id, CAST(rank AS INT) AS lex_rank FROM (
                SELECT doc_id, row_number() OVER (
                    ORDER BY ROUND({_BM25_SCORE}, 6) DESC, doc_id
                ) AS rank
                FROM base CROSS JOIN stats
            ) WHERE rank <= {RRF_CAND}
        ), dense AS (
            SELECT doc_id, CAST(vec_rank AS INT) AS vec_rank FROM (
                SELECT e.vec_id AS doc_id, row_number() OVER (
                    ORDER BY ROUND(list_cosine_similarity(
                        q.qv::DOUBLE[], e.embedding::DOUBLE[]
                    ), 6) DESC, e.vec_id
                ) AS vec_rank
                FROM embeddings e,
                     (SELECT embedding AS qv FROM embeddings
                      WHERE vec_id = 0) q
                WHERE e.vec_id != 0
            ) WHERE vec_rank <= {RRF_CAND}
        ), fused AS (
            SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
                   COALESCE(l.lex_rank, 0) AS lex_rank,
                   COALESCE(d.vec_rank, 0) AS vec_rank,
                   ROUND(
                       (CASE WHEN l.lex_rank IS NOT NULL
                             THEN 1.0 / ({RRF_K} + l.lex_rank) ELSE 0 END)
                       + (CASE WHEN d.vec_rank IS NOT NULL
                               THEN 1.0 / ({RRF_K} + d.vec_rank) ELSE 0 END),
                       6) AS rrf_score
            FROM lex l FULL JOIN dense d ON l.doc_id = d.doc_id
        )
        SELECT doc_id, lex_rank, vec_rank, rrf_score, rank FROM (
            SELECT *, row_number() OVER (
                ORDER BY rrf_score DESC, doc_id
            ) AS rank FROM fused
        ) WHERE rank <= {RRF_TOP_K}
    """
