"""Text-analysis operators over the ``documents`` table.

Training-data pipeline surface (beyond the reference, which has no
text functions at all): token statistics, BPE-ish token counting,
quality scoring, language-ID heuristic, document fingerprinting. All
pure ``pyspark.sql.functions`` — JVM-side, codegen'd, no Python UDFs —
so they run at full scan speed on a 100 TB corpus; the only shuffle is
the final (tiny) aggregation where one exists.

Tokenization contract (shared with the DuckDB oracles): tokens =
regexp-split of trimmed text on ``\\s+``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table
from columnar_database_project_spark.functions.broadcast_policy import (
    bounded_broadcast,
)

# Tiny English-marker list used by the language-ID heuristic. The score
# is a deterministic formula so the oracle reproduces it exactly.
EN_MARKERS = ("the", "a", "of", "and", "to", "in", "is")

# BPE-ish tokenizer: runs of letters, runs of digits, or a single
# non-space symbol — a public approximation of byte-pair pretokenizers.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def tokens_col(col: str = "text"):
    """Whitespace tokens of trimmed text (shared contract w/ oracle)."""
    return F.split(F.trim(F.col(col)), "\\s+")


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics — the token-counting operator."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length(F.trim(F.col("text"))).alias("n_chars_trim"),
        F.round(
            (F.length(F.trim(F.col("text"))) - F.size(toks) + 1)
            / F.size(toks).cast("double"),
            4,
        ).alias("avg_token_len"),
    )


def q_text_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting via regexp match count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_PATTERN)).alias("n_bpe_tokens"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+")).alias("n_number_runs"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, mean-token-length and stopword-ratio
    signals combined into one deterministic score, plus a keep flag —
    the classic pretraining-corpus filter shape."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    n_tokens = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(markers, t))
    ) / n_tokens.cast("double")
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    score = F.round(0.6 * len_score + 0.4 * stop_ratio, 6)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        score.alias("quality_score"),
        (score >= 0.3).alias("keep"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: English-marker token ratio → is_en flag.
    (A real n-gram model would be a broadcast lookup table + the same
    ratio aggregation — identical plan shape.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(markers, t))
    ) / F.size(toks).cast("double")
    return docs.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("en_marker_ratio"),
        (ratio > 0.05).alias("pred_en"),
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of normalized text (lowercase, collapsed
    whitespace) — the exact-dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        F.substring(F.md5(norm), 1, 8).alias("fingerprint_short"),
    )


def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf (idf = ln((N+1)/(df+1))).

    Two shuffles (term-frequency groupBy + document-frequency groupBy,
    joined back on term); ranking is a window per doc. Score is rounded
    to 9 decimals BEFORE ranking so cross-engine libm noise can't flip
    the order; term is the deterministic tiebreak.

    Scale note: the document-frequency table is VOCABULARY-sized — it
    grows with the corpus, so it must NOT carry a forced broadcast
    hint (Spark honors explicit hints regardless of size; at 100 TB a
    forced vocab broadcast OOMs). Unhinted, AQE size-gates the join:
    broadcast while the df table is small, term-keyed sort-merge join
    — the standard tf-idf shape — once it isn't. Both sides are
    already partitioned by term from their groupBys."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = tokens_col()
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(df_, "term")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)), 9
            ),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: eval-split docs (doc_id % 10 ==
    0) whose opening-20-token fingerprint also appears in the train
    split — the leakage gate every pretraining pipeline runs before
    eval (prefix n-gram fingerprints catch the copied-page overlap an
    exact-text hash misses). One equi-join on the 128-bit fingerprint
    (shuffle-hash at corpus scale; both sides are fingerprint
    projections, never full text)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(tokens_col(), 1, 20))).alias(
            "fingerprint"
        ),
    )
    ev = fp.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "fingerprint"
    )
    # Pre-aggregate the train side to (fingerprint, count) BEFORE the
    # join: a mega-duplicate fingerprint (boilerplate page in millions
    # of docs) would otherwise fan the join out by train_count ×
    # eval_count on one key. Aggregated, the join emits at most one
    # row per eval doc — skew-proof by construction.
    tr = (
        fp.filter(F.col("doc_id") % 10 != 0)
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_train_matches"))
    )
    return ev.join(tr, "fingerprint").select(
        "eval_doc_id", "fingerprint", "n_train_matches"
    )


def q_text_quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality ranking: top-5 docs per lang by the
    quality score — the stratified 'keep the best of each language'
    selection step. Window over the lang partition; the heavy part
    (scoring) is scan-local, the shuffle is one hash partition by
    lang."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    n_tokens = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(markers, t))
    ) / n_tokens.cast("double")
    score = F.round(
        0.6 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.4 * stop_ratio, 6
    )
    scored = docs.select("doc_id", "lang", score.alias("quality_score"))
    w = W.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "doc_id", "quality_score", "rank")
    )


def q_text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram (10-token buckets): the corpus-shape
    diagnostic run before choosing packing/truncation lengths. Pure
    map + one tiny agg."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_col())
    return (
        docs.select((F.floor(n_tokens / 10) * 10).cast("long").alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20% stratified sample: hash-bucket each doc_id
    (md5 → 0..99) and keep buckets < 20 — reproducible run-to-run and
    engine-to-engine, unlike rand()-based sampling, and stratification
    falls out because the hash is independent of lang. Scan-local
    filter, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    return docs.select(
        "doc_id", "lang", bucket.alias("sample_bucket")
    ).filter(F.col("sample_bucket") < 20)


def _trigrams(toks):
    """Token-trigram array (space-joined), empty when < 3 tokens.
    The sequence bounds are guarded because Spark's ``sequence(1, n)``
    counts DOWN when n < 1 instead of returning empty."""
    return F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signal (Gopher-style "fraction of duplicated
    n-grams"): per document, the share of token trigrams that are
    repeats of an earlier trigram. Scan-local array math — zero
    shuffles — so it runs at full scan speed on a 100 TB corpus.

    The token array and the trigram array are each materialized ONCE
    in their own projections and downstream expressions read the
    column references: higher-order expressions are interpreted
    (CodegenFallback) and escape subexpression elimination, so
    inlining them re-evaluated the whitespace split inside every
    per-element ``element_at`` (≈3 full-text regex splits per
    trigram) and the transform once per output column — together
    measured ~50× slower on this query."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.col("tg"))
    n_dist = F.size(F.array_distinct(F.col("tg")))
    return (
        docs.select("doc_id", tokens_col().alias("toks"))
        .select("doc_id", _trigrams(F.col("toks")).alias("tg"))
        .select(
            "doc_id",
            n.alias("n_trigrams"),
            n_dist.alias("n_distinct_trigrams"),
            F.when(n > 0, F.round((n - n_dist) / n.cast("double"), 6))
            .otherwise(F.lit(0.0))
            .alias("dup_trigram_ratio"),
        )
    )


# Gopher-rule bounds (public heuristics from the Gopher paper's
# quality-filter table, adapted to this corpus's 10-99-token docs).
GOPHER_MIN_TOKENS = 30
GOPHER_MAX_TOKENS = 10_000
GOPHER_MIN_MEAN_TOK_LEN = 3.0
GOPHER_MAX_MEAN_TOK_LEN = 10.0
GOPHER_MIN_STOP_HITS = 2


def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-style quality filter: token-count bounds, mean
    token length bounds, alphabetic-token ratio, and minimum stopword
    hits, combined into a keep flag. All flags are deterministic
    integer/array arithmetic — scan-local, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    n_tokens = F.size(toks)
    mean_tok_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ) / n_tokens.cast("double")
    alpha_ratio = F.size(
        F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))
    ) / n_tokens.cast("double")
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    ok_len = (n_tokens >= GOPHER_MIN_TOKENS) & (n_tokens <= GOPHER_MAX_TOKENS)
    ok_tok = (mean_tok_len >= GOPHER_MIN_MEAN_TOK_LEN) & (
        mean_tok_len <= GOPHER_MAX_MEAN_TOK_LEN
    )
    ok_alpha = alpha_ratio >= 0.8
    ok_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        ok_len.alias("ok_len"),
        ok_tok.alias("ok_tok_len"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_len & ok_tok & ok_alpha & ok_stop).alias("keep"),
    )


TOP_BIGRAMS = 20


def q_text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top bigrams: explode the bigram INDEX (guarded —
    Spark's sequence(1, n) counts down when n < 1), join the two
    tokens positionally, then one partial-agg'd groupBy. The only
    shuffle is the (bigram, count) aggregate — map-side combine keeps
    it proportional to the vocabulary, not the corpus. Deliberately
    lambda-free: a higher-order ``transform`` here is interpreted
    per element and measured ~7× slower than this explode-index +
    element_at formulation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    n_bg = F.size(F.col("toks")) - 1
    bigram = F.concat_ws(
        " ",
        F.element_at(F.col("toks"), F.col("i")),
        F.element_at(F.col("toks"), F.col("i") + 1),
    )
    counts = (
        docs.select(toks.alias("toks"))
        .select(
            F.col("toks"),
            F.explode(
                F.when(n_bg >= 1, F.sequence(F.lit(1), n_bg))
            ).alias("i"),
        )
        .select(bigram.alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Top-20 via orderBy+limit → TakeOrderedAndProject (per-partition
    # heap, driver merges 20 rows) — NOT row_number over an
    # unpartitioned window, which would sort the full distinct-bigram
    # table (billions of rows at 100 TB) in a single task. The rank is
    # attached afterwards over the 20-row result, where a global
    # window is free.
    top = counts.orderBy(F.col("n").desc(), F.col("bigram")).limit(TOP_BIGRAMS)
    w = W.orderBy(F.col("n").desc(), F.col("bigram"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "bigram", "n"
    )


SEQ_LEN = 256  # token budget per packed training sequence


def split_col():
    """Deterministic train/val/test assignment column — a pure function
    of doc_id (first 4 md5 hex chars mod 100; 90/5/5), shared by the
    split summary and the corpus-build composition below."""
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint") % 100
    return (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )


def q_text_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test assignment — the split
    must be a pure function of the document key (never random()) so
    re-runs, backfills, and incremental batches land every doc in the
    same split on any engine. Bucket = first 4 md5 hex chars of the
    doc id mod 100 (the same portable hex→int convention as
    ``text_stratified_sample``); 90/5/5. Scan-local except the 3-row
    summary aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    split = split_col()
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


def funnel_flag_cols() -> tuple:
    """The funnel's per-document filter flags (len_ok, rep_ok, keep) as
    column expressions over a ``text`` column — shared by the funnel
    queries, so each applies the identical filter definition."""
    toks = tokens_col()
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens.cast("double")
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    stop_ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(markers, t))
    ) / n_tokens.cast("double")
    score = 0.6 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.4 * stop_ratio
    len_ok = n_tokens >= 30
    rep_ok = len_ok & (distinct_ratio >= 0.4)
    keep = rep_ok & (score >= 0.3)
    return len_ok, rep_ok, keep


def q_text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: how many documents survive each
    successive pretraining filter (length → repetition → quality
    score). One corpus scan computes every stage as a conditional
    sum; the unpivot to (stage, n_docs) rows happens on the 1-row
    aggregate, so observability costs nothing extra at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    len_ok, rep_ok, keep = funnel_flag_cols()
    one = (
        docs.select(
            F.count(F.lit(1)).alias("total"),
            F.sum(len_ok.cast("long")).alias("len_ok"),
            F.sum(rep_ok.cast("long")).alias("rep_ok"),
            F.sum(keep.cast("long")).alias("keep"),
        )
    )
    return one.select(
        F.expr(
            "stack(4, '1_total', total, '2_len_ok', len_ok, "
            "'3_rep_ok', rep_ok, '4_keep', keep) AS (stage, n_docs)"
        )
    )


def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget sequence packing: within each source,
    documents (in doc_id order) are appended to a sequence until the
    running token count crosses SEQ_LEN, then a new sequence starts —
    the standard pretraining sample-packing shape. seq_id is the
    running-sum prefix DIV SEQ_LEN, so assignment is one window over
    (source, doc_id) — a single hash shuffle on source; the per-
    sequence rollup reuses tiny output."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_col())
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("seq_id", (cum_before / SEQ_LEN).cast("bigint"))
        .groupBy("source", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )


def q_text_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-bin utilization audit for ``q_text_pack_sequences`` —
    the number every packing run must report before training starts:
    per source, how many sequences the greedy packer produced, the
    mean fill ratio of the SEQ_LEN budget, and the padding-waste vs
    overflow-token split (greedy close-on-cross means a sequence can
    exceed the budget; the trainer truncates overflow and pads
    under-full bins, so both tails are lost compute). Reuses the
    exact packing assignment (same window, same SEQ_LEN contract), so
    the audit provably describes the packer it audits. One hash
    shuffle on source; both rollups are tiny."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens_col())
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    seqs = (
        docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("seq_id", (cum_before / SEQ_LEN).cast("bigint"))
        .groupBy("source", "seq_id")
        .agg(F.sum("n_tokens").alias("seq_tokens"))
    )
    fill = F.least(F.col("seq_tokens"), F.lit(SEQ_LEN)) / F.lit(
        float(SEQ_LEN)
    )
    return seqs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_seqs"),
        F.round(F.avg(fill), 6).alias("mean_fill"),
        F.sum(
            F.greatest(F.lit(SEQ_LEN) - F.col("seq_tokens"), F.lit(0))
        ).alias("pad_tokens"),
        F.sum(
            F.greatest(F.col("seq_tokens") - F.lit(SEQ_LEN), F.lit(0))
        ).alias("overflow_tokens"),
    )


def q_text_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining corpus-build pipeline as ONE composed job —
    quality filter → exact dedup (keep-first among kept docs) → split
    assignment → packing summary — emitting per-(split, source) docs,
    tokens, and packed-sequence counts. This is the composition story:
    every stage reuses the standalone operators' shared expressions
    (``funnel_flag_cols``, ``split_col``, SEQ_LEN), so the composed
    pipeline provably applies the same semantics as the pieces.

    Scale shape: one corpus scan computes flags + fingerprint; the
    dedup keep-first is one shuffle on md5 (count-bounded by distinct
    content); the final rollup is a tiny (3 x sources) aggregate.
    n_seqs is the per-group token-budget bound ceil(tokens/SEQ_LEN) —
    the packing-summary contract, not a per-doc walk."""
    docs = load_table(spark, sf_dir, "documents")
    _len_ok, _rep_ok, keep = funnel_flag_cols()
    n_tokens = F.size(tokens_col())
    kept = docs.filter(keep).select(
        "doc_id", "source", F.md5("text").alias("fp"), n_tokens.alias("n_tokens")
    )
    survivors = kept.groupBy("fp").agg(
        F.min_by(F.struct("doc_id", "source", "n_tokens"), "doc_id").alias("s")
    ).select(F.col("s.doc_id").alias("doc_id"), "s.source", "s.n_tokens")
    return (
        survivors.select(split_col().alias("split"), "source", "n_tokens")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.ceil(F.sum("n_tokens") / F.lit(SEQ_LEN)).alias("n_seqs"),
        )
    )


def q_text_corpus_build_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL corpus-build: the composed job a continuously-
    fed pipeline runs per ingestion drop — quality-filter the NEW
    batch, exact-dedup within the batch (keep-first), screen the
    survivors against the HISTORICAL fingerprint store (anything the
    corpus already contains is dropped, matching
    ``dedup.q_dedup_incremental``'s store contract: fingerprints of
    every previously-ingested document), then split-assign and emit
    the per-(split, source) packing rollup for just the accepted new
    documents. Reuses the batch pipeline's shared expressions
    (``funnel_flag_cols``, ``split_col``, SEQ_LEN) and the id-space
    batch boundary of the incremental dedup operator, so the
    composed incremental job provably applies the full-build
    semantics to the delta.

    Scale shape: flags + fingerprints in one scan of the NEW batch
    only; the store screen is one fp-keyed equi-join of the small
    batch side against the pre-aggregated store (AQE size-gates —
    never a broadcast hint on either corpus-proportional side); the
    rollup is tiny. Historical text is never rescanned beyond the
    store build (persisted in production)."""
    from columnar_database_project_spark.operators.dedup import (
        INCR_SPLIT_FRAC,
    )

    docs = load_table(spark, sf_dir, "documents")
    split = docs.agg(
        F.floor((F.max("doc_id") + 1) * INCR_SPLIT_FRAC)
        .cast("bigint")
        .alias("t")
    )
    d = docs.crossJoin(bounded_broadcast(split, 1, "1-row id-split threshold"))
    old_store = (
        d.filter(F.col("doc_id") < F.col("t"))
        .select(F.md5("text").alias("fp"))
        .distinct()
    )
    _len_ok, _rep_ok, keep = funnel_flag_cols()
    n_tokens = F.size(tokens_col())
    new_kept = (
        d.filter(F.col("doc_id") >= F.col("t"))
        .filter(keep)
        .select(
            "doc_id",
            "source",
            F.md5("text").alias("fp"),
            n_tokens.alias("n_tokens"),
        )
    )
    batch_first = new_kept.groupBy("fp").agg(
        F.min_by(F.struct("doc_id", "source", "n_tokens"), "doc_id").alias("s")
    ).select("fp", F.col("s.doc_id").alias("doc_id"), "s.source", "s.n_tokens")
    accepted = batch_first.join(old_store, "fp", "left_anti")
    return (
        accepted.select(split_col().alias("split"), "source", "n_tokens")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.ceil(F.sum("n_tokens") / F.lit(SEQ_LEN)).alias("n_seqs"),
        )
    )


def q_text_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data card: the one-page corpus summary every dataset
    release ships — document/token counts, language and source
    cardinality, exact-duplicate rate, quality keep-rate and mean
    quality — as (metric, value) rows from ONE single-pass aggregate
    over the corpus (map-side partials; the stack() unpivot runs on
    the single result row). Values are DOUBLE uniformly so the frame
    has one schema; counts are exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    n_tokens = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(markers, t))
    ) / n_tokens.cast("double")
    score = F.round(
        0.6 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.4 * stop_ratio, 6
    )
    wide = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(n_tokens).cast("double").alias("n_tokens"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.round(
            1.0 - F.countDistinct(F.md5("text")) / F.count(F.lit(1)), 6
        ).alias("exact_dup_rate"),
        F.round(F.avg(score), 6).alias("mean_quality"),
        F.round(F.avg((score >= 0.3).cast("double")), 6).alias("keep_rate"),
    )
    metrics = [
        "n_docs", "n_tokens", "n_langs", "n_sources",
        "exact_dup_rate", "mean_quality", "keep_rate",
    ]
    stack_args = ", ".join(f"'{m}', {m}" for m in metrics)
    return wide.selectExpr(
        f"stack({len(metrics)}, {stack_args}) AS (metric, value)"
    )


def q_text_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: within each (split, source) shard,
    rank the kept documents by quality score (rounded BEFORE ranking,
    doc_id tiebreak — deterministic on every engine) so the training
    loader can feed high-quality data first / anneal quality over the
    run. One window per shard key — partitioned, so the sort
    parallelizes across shards at 100 TB (never a global sort);
    reuses the quality and split expressions of the standalone
    operators, same composition discipline as corpus_build."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    markers = F.array(*[F.lit(m) for m in EN_MARKERS])
    n_tokens = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda t: F.array_contains(markers, t))
    ) / n_tokens.cast("double")
    score = F.round(
        0.6 * F.least(n_tokens / F.lit(100.0), F.lit(1.0)) + 0.4 * stop_ratio, 6
    )
    kept = docs.select(
        "doc_id", "source", split_col().alias("split"), score.alias("quality")
    ).filter(F.col("quality") >= 0.3)
    w = W.partitionBy("split", "source").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    return kept.select(
        "split",
        "source",
        "doc_id",
        "quality",
        F.row_number().over(w).alias("curriculum_rank"),
    )


def q_text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility — BPE-ish subword tokens per
    whitespace word, and characters per subword token: the number that
    decides how a fixed token budget translates into per-language text
    volume when planning a multilingual mix (high-fertility languages
    eat the budget faster). Scan-local regexp counts + one tiny
    lang-keyed aggregate; no joins, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    n_bpe = F.regexp_count(F.col("text"), F.lit(BPE_PATTERN))
    n_ws = F.size(tokens_col())
    n_chars = F.length(F.trim(F.col("text")))
    agg = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_bpe).alias("bpe_tokens"),
        F.sum(n_ws).alias("ws_tokens"),
        F.sum(n_chars).alias("chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "bpe_tokens",
        F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 6).alias(
            "fertility"
        ),
        F.round(F.col("chars") / F.col("bpe_tokens"), 6).alias(
            "chars_per_token"
        ),
    )


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word-5-gram shingles that appear in NO other document —
    the memorization/duplication proxy used to rank documents for
    training value (a page of boilerplate scores ~0, original prose
    ~1). Complements the boilerplate detector (which ranks the
    SHINGLES); this ranks the DOCUMENTS.

    Scale shape: shingle-keyed partial-agg'd groupBy for global doc
    counts (vocabulary-sized, never all-pairs), joined back UNHINTED
    on shingle (AQE size-gates; both sides hash-partition on shingle
    already), then one doc_id rollup. Same inverted-index discipline
    as the Jaccard dedup path."""
    from columnar_database_project_spark.operators.dedup import _shingles

    sh = _shingles(spark, sf_dir)
    global_counts = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_docs_with")
    )
    novel = F.when(F.col("n_docs_with") == 1, 1).otherwise(0)
    return (
        sh.join(global_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.avg(novel), 6).alias("novelty"),
        )
    )


TFIDF_COS_TAU = 0.9
TFIDF_MAX_DF_FRAC = 0.1   # default stop-term cut: keep terms in <=10% of docs


def tfidf_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    tau: float = TFIDF_COS_TAU,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Sparse tf-idf cosine similarity pairs — the classic IR
    document-similarity operator, complementary to the dense
    embedding cosine (``dedup.q_dedup_embedding_cosine``): documents
    are tf-idf vectors over their vocabulary and only pairs sharing
    ≥1 term ever meet (term-keyed inverted-index join, never
    all-pairs — the same discipline as the shingle-Jaccard path).

    ``max_doc_freq`` is the stop-term cut the inverted index NEEDS:
    a term in k docs contributes k² join rows (sum over terms of df²
    is the join size), so without a cut the near-universal words
    dominate the work while carrying the lowest idf weight. The
    default keeps terms in ≤ ceil(TFIDF_MAX_DF_FRAC x N) documents —
    measured 12x faster at sf0.1 than the uncut join with the same
    near-dup pair set at τ (near-dups share their RARE terms; the
    cut vocabulary is exactly where their cosine lives). The cut is
    part of the operator's semantics and the SQL oracle applies the
    identical threshold, so the result stays oracle-exact. Note the
    output is a recall-oriented CANDIDATE set (rare-subspace cosine
    admits pairs sharing a handful of rare terms); like the LSH and
    SimHash candidate paths, downstream verification (edit distance /
    full-text Jaccard) makes the final call.

    Cosine is rounded to 6dp BEFORE the τ filter so float summation
    order can't flip a boundary pair between engines."""
    import math

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    if max_doc_freq is None:
        max_doc_freq = int(math.ceil(TFIDF_MAX_DF_FRAC * n_docs))
    tf = (
        docs.select("doc_id", F.explode(tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= max_doc_freq
    )
    w = tf.join(df_, "term").select(
        "doc_id",
        "term",
        (
            F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0))
        ).alias("w"),
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm").alias("nb"))
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= tau)
    )


def q_text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse tf-idf cosine pairs ≥ τ over the df-cut vocabulary
    (the production shape — see ``tfidf_cosine_pairs`` for why the
    cut is mandatory and why the oracle stays exact under it)."""
    return tfidf_cosine_pairs(spark, sf_dir)


BOILERPLATE_MIN_DOCS = 3   # shingle must appear in >= this many docs
BOILERPLATE_TOP_N = 20
VOCAB_TOP_N = 50


def q_text_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detector: word-5-gram shingles that
    recur in >= BOILERPLATE_MIN_DOCS distinct documents (the C4-style
    repeated-span signal used to strip headers/footers/templates from
    a pretraining corpus). Reuses the dedup module's distinct
    (doc_id, shingle) builder, so per-document multiplicity never
    inflates the document count. One shuffle (groupBy shingle, map-side
    partial agg); the HAVING cut happens before the top-N, which is
    TakeOrderedAndProject — no global sort at 100 TB. Ties broken on
    shingle text so the top-N set is deterministic for the oracle."""
    from columnar_database_project_spark.operators.dedup import _shingles

    return (
        _shingles(spark, sf_dir)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
        .orderBy(F.desc("n_docs"), F.asc("shingle"))
        .limit(BOILERPLATE_TOP_N)
    )


def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf/vocabulary-coverage table for tokenizer training: the top
    VOCAB_TOP_N terms by corpus frequency with rank and cumulative
    corpus-coverage share. Scale shape: term counting is one shuffle
    with partial agg; the global total is a 1-row broadcast; rank and
    running sum run AFTER the TakeOrdered top-N cut, so the only
    single-partition window is over VOCAB_TOP_N rows — never over the
    full vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens_col()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = tf.agg(F.sum("cnt").cast("double").alias("total"))
    top = tf.orderBy(F.desc("cnt"), F.asc("term")).limit(VOCAB_TOP_N)
    w = W.orderBy(F.desc("cnt"), F.asc("term"))
    return (
        top.crossJoin(bounded_broadcast(total, 1, "global token-count aggregate"))
        .select(
            "term",
            F.row_number().over(w).alias("rnk"),
            "cnt",
            F.round(
                F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, 0))
                / F.col("total"),
                6,
            ).alias("cum_share"),
        )
    )


ZIPF_TOP_N = 500


def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit for the corpus data card: least-squares slope of
    ln(term frequency) against ln(rank) over the top ZIPF_TOP_N terms.
    Natural text sits near slope −1; a corpus drifting toward 0 is
    template/boilerplate-heavy, one far below −1 is vocabulary-starved
    — a one-row corpus-health signal alongside [[text_corpus_datacard]].

    Scale shape: term counting is one partial-agg'd shuffle; the rank
    window and the regression aggregate both run AFTER the
    TakeOrdered top-N cut, so the single-partition section is
    ZIPF_TOP_N rows regardless of corpus size. Uses the built-in
    ``regr_slope``/``regr_intercept``/``regr_r2`` aggregates —
    JVM-side, no Python. Reference has no analog (delegates all
    aggregation)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens_col()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = tf.orderBy(F.desc("cnt"), F.asc("term")).limit(ZIPF_TOP_N)
    w = W.orderBy(F.desc("cnt"), F.asc("term"))
    ranked = top.select(F.row_number().over(w).alias("rnk"), "cnt")
    ln_cnt = F.log(F.col("cnt").cast("double"))
    ln_rnk = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(ln_cnt, ln_rnk), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ln_cnt, ln_rnk), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ln_cnt, ln_rnk), 6).alias("zipf_r2"),
    )


COND_TOP_N = 25


def q_text_bigram_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed bigram conditional probabilities P(w2 | w1) —
    the n-gram language-model table behind perplexity-proxy quality
    scoring (documents scoring far from the corpus LM are outliers).
    Deterministic top-N by probability with full tiebreak. Scale
    shape: bigram and unigram counts are two partial-agg'd shuffles on
    vocabulary-sized keys; V is a 1-row broadcast; the top-N is
    TakeOrderedAndProject. P is rounded to 6dp BEFORE ranking so
    cross-engine float noise cannot flip the cut."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    n_bg = F.size(F.col("toks")) - 1
    pairs = (
        docs.select(toks.alias("toks"))
        .select(
            F.col("toks"),
            F.explode(F.when(n_bg >= 1, F.sequence(F.lit(1), n_bg))).alias("i"),
        )
        .select(
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(toks).alias("term"))
        .agg(F.countDistinct("term").alias("v"))
    )
    scored = (
        c12.join(c1, "w1")
        .crossJoin(bounded_broadcast(vocab, 1, "1-row vocab-size aggregate"))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                (F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"), 6
            ).alias("p_smoothed"),
        )
    )
    return scored.orderBy(
        F.desc("p_smoothed"), F.asc("w1"), F.asc("w2")
    ).limit(COND_TOP_N)


def q_text_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under the corpus's add-1
    bigram LM — the perplexity-proxy quality score: documents whose
    token transitions are improbable under the corpus LM (noise,
    boilerplate, wrong language) score low and get filtered. Unseen
    bigrams take the smoothed floor ((0+1)/(c1+V)); unseen first
    tokens the global floor (1/V). Scale shape: the bigram/unigram LM
    tables grow with the corpus (heavy-tailed bigram cardinality), so
    they are joined UNHINTED — AQE size-gates the strategy (broadcast
    while small, (w1,w2)- and w1-keyed shuffle joins at scale; both
    sides already hash-partition on those keys from their groupBys).
    Only the 1-row vocab aggregate keeps a forced broadcast. For the
    production shape — a top-M bounded LM with the smoothed floor for
    misses — see ``q_text_lm_topm`` / ``q_text_lm_doc_score_topm``.
    The per-doc mean is one partial-agg'd shuffle on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    n_bg = F.size(F.col("toks")) - 1
    pairs = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.col("toks"),
            F.explode(F.when(n_bg >= 1, F.sequence(F.lit(1), n_bg))).alias("i"),
        )
        .select(
            "doc_id",
            F.element_at("toks", F.col("i")).alias("w1"),
            F.element_at("toks", F.col("i") + 1).alias("w2"),
        )
    )
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(toks).alias("term"))
        .agg(F.countDistinct("term").alias("v"))
    )
    p = (F.coalesce(F.col("c12"), F.lit(0)) + 1) / (
        F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")
    ).cast("double")
    return (
        pairs.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(bounded_broadcast(vocab, 1, "1-row vocab-size aggregate"))
        .select("doc_id", F.log(p).alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("mean_logprob"),
        )
    )


LM_TOP_M = 5000      # bounded LM size (toy-scaled; production ~1e7-1e9)
LM_TOP_M_UNI = 5000  # bounded unigram backoff table size


def _bigram_pairs(docs: DataFrame, with_doc: bool) -> DataFrame:
    """(doc_id?, w1, w2) bigram stream — scan-local explode-index over
    the token array (measured ~7x faster than zip_with HOF lambdas)."""
    toks = tokens_col()
    n_bg = F.size(F.col("toks")) - 1
    base = docs.select(*(["doc_id"] if with_doc else []), toks.alias("toks"))
    sel = base.select(
        *([F.col("doc_id")] if with_doc else []),
        F.col("toks"),
        F.explode(F.when(n_bg >= 1, F.sequence(F.lit(1), n_bg))).alias("i"),
    )
    return sel.select(
        *([F.col("doc_id")] if with_doc else []),
        F.element_at("toks", F.col("i")).alias("w1"),
        F.element_at("toks", F.col("i") + 1).alias("w2"),
    )


def q_text_lm_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded bigram LM: the top-M bigrams by corpus count (full
    deterministic tiebreak c12 desc, w1, w2) with their add-1-smoothed
    conditional probability — the PRODUCTION n-gram LM shape. A raw
    bigram table grows heavy-tailed with the corpus (unbroadcastable,
    barely joinable at 100 TB); real n-gram scorers threshold the
    model to the top-M entries and give misses a smoothed floor, which
    loses almost nothing because the dropped tail is precisely the
    rare transitions the floor approximates anyway. The result is
    bounded at M rows BY CONSTRUCTION, so downstream consumers
    (``q_text_lm_doc_score_topm``) may legally broadcast it under the
    hint policy (DEPLOY.md). Scale shape: two partial-agg'd count
    shuffles + one TakeOrderedAndProject (per-partition top-M, merged
    on the driver — never a global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _bigram_pairs(docs, with_doc=False)
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        docs.select(F.explode(tokens_col()).alias("term"))
        .agg(F.countDistinct("term").alias("v"))
    )
    return (
        c12.join(c1, "w1")
        .crossJoin(bounded_broadcast(vocab, 1, "1-row vocab-size aggregate"))
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.round(
                (F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"),
                6,
            ).alias("p_smoothed"),
        )
        .orderBy(F.desc("c12"), F.asc("w1"), F.asc("w2"))
        .limit(LM_TOP_M)
    )


def q_text_lm_doc_score_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under the BOUNDED top-M
    bigram LM (``q_text_lm_topm``) — the production form of
    ``q_text_lm_doc_score``. Scoring: a bigram in the top-M table
    takes its smoothed probability (c12+1)/(c1+V); a miss whose first
    token is in the top-M unigram table takes that token's smoothed
    floor 1/(c1+V); anything else takes the global floor 1/V. Score
    delta vs the unbounded LM is bounded per doc by miss_frac *
    ln(c1_max + V) (both probabilities live in [1/(c1_max+V), 1];
    invariant-tested, equal at M >= distinct counts).

    Scale shape: this is what the bound buys — both LM tables are <= M
    rows by construction, so the forced broadcasts here are SAFE under
    the hint policy (unlike the corpus-proportional tables of the
    unbounded variant, which must stay unhinted): the corpus bigram
    stream is scored scan-locally with zero shuffle, and the only
    exchange in the whole job is the final per-doc partial-agg'd
    groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _bigram_pairs(docs, with_doc=True)
    lm = q_text_lm_topm(spark, sf_dir).select("w1", "w2", "c12", "c1")
    c1_all = (
        _bigram_pairs(docs, with_doc=False)
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1u"))
    )
    uni = (
        c1_all.orderBy(F.desc("c1u"), F.asc("w1"))
        .limit(LM_TOP_M_UNI)
        .select(F.col("w1"), "c1u")
    )
    vocab = (
        docs.select(F.explode(tokens_col()).alias("term"))
        .agg(F.countDistinct("term").alias("v"))
    )
    p = (
        F.when(
            F.col("c12").isNotNull(),
            (F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double"),
        )
        .when(
            F.col("c1u").isNotNull(),
            F.lit(1) / (F.col("c1u") + F.col("v")).cast("double"),
        )
        .otherwise(F.lit(1) / F.col("v").cast("double"))
    )
    return (
        pairs.join(
            bounded_broadcast(lm, LM_TOP_M, "top-M bigram LM table"),
            ["w1", "w2"],
            "left",
        )
        .join(
            bounded_broadcast(uni, LM_TOP_M_UNI, "top-M unigram table"),
            "w1",
            "left",
        )
        .crossJoin(bounded_broadcast(vocab, 1, "1-row vocab-size aggregate"))
        .select("doc_id", F.log(p).alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("mean_logprob"),
        )
    )


DRIFT_TOP_N = 20


def q_text_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus halves (doc_id
    parity stands in for the two snapshot dates) — the drift monitor a
    continuously-fed pipeline runs to catch a source going bad or a
    scraper change shifting the vocabulary. Per-term add-1-smoothed
    unigram probabilities in each half; top-N terms by absolute
    probability shift. Scale shape: ONE term-keyed shuffle with
    map-side partial agg builds both halves' counts (conditional sums
    — no join of two count tables); the totals reduce to 1 row
    (bounded broadcast); the top-N is TakeOrderedAndProject. Drift is
    rounded to 6dp BEFORE ranking (term tiebreak) so cross-engine
    float noise cannot flip the cut."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    t = docs.select(
        (F.col("doc_id") % 2).alias("h"), F.explode(toks).alias("term")
    )
    g = t.groupBy("term").agg(
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).alias("c1"),
    )
    s = g.agg(
        F.sum("c0").alias("n0"),
        F.sum("c1").alias("n1"),
        F.count(F.lit(1)).alias("v"),
    )
    p0 = (F.col("c0") + 1) / (F.col("n0") + F.col("v")).cast("double")
    p1 = (F.col("c1") + 1) / (F.col("n1") + F.col("v")).cast("double")
    scored = g.crossJoin(
        bounded_broadcast(s, 1, "1-row per-half totals aggregate")
    ).select(
        "term",
        "c0",
        "c1",
        F.round(p0, 6).alias("p0"),
        F.round(p1, 6).alias("p1"),
        F.round(F.abs(p0 - p1), 6).alias("drift"),
    )
    top = scored.orderBy(F.col("drift").desc(), "term").limit(DRIFT_TOP_N)
    w = W.orderBy(F.col("drift").desc(), F.col("term"))
    return top.withColumn("rank", F.row_number().over(w))


QUERIES = {
    "text_token_stats": q_text_token_stats,
    "text_term_drift": q_text_term_drift,
    "text_bpe_count": q_text_bpe_count,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "text_tfidf_top_terms": q_text_tfidf_top_terms,
    "text_contamination": q_text_contamination,
    "text_quality_topk_per_lang": q_text_quality_topk_per_lang,
    "text_length_histogram": q_text_length_histogram,
    "text_stratified_sample": q_text_stratified_sample,
    "text_repetition": q_text_repetition,
    "text_gopher_quality": q_text_gopher_quality,
    "text_bigram_freq": q_text_bigram_freq,
    "text_bigram_condprob": q_text_bigram_condprob,
    "text_lm_doc_score": q_text_lm_doc_score,
    "text_lm_topm": q_text_lm_topm,
    "text_lm_doc_score_topm": q_text_lm_doc_score_topm,
    "text_split_assign": q_text_split_assign,
    "text_filter_funnel": q_text_filter_funnel,
    "text_pack_sequences": q_text_pack_sequences,
    "text_boilerplate_shingles": q_text_boilerplate_shingles,
    "text_vocab_coverage": q_text_vocab_coverage,
    "text_zipf_slope": q_text_zipf_slope,
    "text_corpus_build": q_text_corpus_build,
    "text_pack_efficiency": q_text_pack_efficiency,
    "text_ngram_novelty": q_text_ngram_novelty,
    "text_tokenizer_fertility": q_text_tokenizer_fertility,
    "text_tfidf_cosine_pairs": q_text_tfidf_cosine_pairs,
    "text_corpus_build_incremental": q_text_corpus_build_incremental,
    "text_curriculum_order": q_text_curriculum_order,
    "text_corpus_datacard": q_text_corpus_datacard,
}

_MARKERS_SQL = ", ".join(f"'{m}'" for m in EN_MARKERS)

ORACLES = {
    "text_token_stats": """
        WITH t AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks,
                   length(trim(text)) AS n_chars_trim
            FROM documents
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct_tokens,
               n_chars_trim,
               ROUND((n_chars_trim - len(toks) + 1) / CAST(len(toks) AS DOUBLE), 4)
                   AS avg_token_len
        FROM t
    """,
    "text_bpe_count": f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '{BPE_PATTERN}')) AS INT) AS n_bpe_tokens,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_number_runs
        FROM documents
    """,
    "text_quality": f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                       / CAST(len(toks) AS DOUBLE) AS stop_ratio_raw,
                   least(len(toks) / 100.0, 1.0) AS len_score
            FROM t
        )
        SELECT doc_id, n_tokens,
               ROUND(stop_ratio_raw, 6) AS stop_ratio,
               ROUND(0.6 * len_score + 0.4 * stop_ratio_raw, 6) AS quality_score,
               ROUND(0.6 * len_score + 0.4 * stop_ratio_raw, 6) >= 0.3 AS keep
        FROM s
    """,
    "text_langid": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        )
        SELECT doc_id, lang,
               ROUND(len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                     / CAST(len(toks) AS DOUBLE), 6) AS en_marker_ratio,
               len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                     / CAST(len(toks) AS DOUBLE) > 0.05 AS pred_en
        FROM t
    """,
    "text_fingerprint": """
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
               substring(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 8)
                   AS fingerprint_short
        FROM documents
    """,
    "text_tfidf_top_terms": """
        WITH tf AS (
            SELECT doc_id, term, count(*) AS tf FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
            ) GROUP BY doc_id, term
        ),
        dfreq AS (
            SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
        ),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   ROUND(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 9) AS tfidf
            FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        )
        SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, rank FROM (
            SELECT doc_id, term, tfidf,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, term
                   ) AS rank
            FROM scored
        ) WHERE rank <= 3
    """,
}


ORACLES["text_contamination"] = """
        WITH fp AS (
            SELECT doc_id,
                   md5(array_to_string(
                       regexp_split_to_array(trim(text), '\\s+')[1:20], ' '
                   )) AS fingerprint
            FROM documents
        )
        SELECT e.doc_id AS eval_doc_id, e.fingerprint,
               count(*) AS n_train_matches
        FROM fp e JOIN fp t
          ON e.fingerprint = t.fingerprint AND t.doc_id % 10 != 0
        WHERE e.doc_id % 10 = 0
        GROUP BY e.doc_id, e.fingerprint
    """

ORACLES["text_quality_topk_per_lang"] = f"""
        WITH t AS (
            SELECT doc_id, lang,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, lang,
                   ROUND(0.6 * least(len(toks) / 100.0, 1.0)
                         + 0.4 * (len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                                  / CAST(len(toks) AS DOUBLE)), 6) AS quality_score
            FROM t
        )
        SELECT lang, doc_id, quality_score, rank FROM (
            SELECT lang, doc_id, quality_score,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY quality_score DESC, doc_id
                   ) AS rank
            FROM s
        ) WHERE rank <= 5
    """

ORACLES["text_length_histogram"] = """
        SELECT CAST(floor(len(regexp_split_to_array(trim(text), '\\s+')) / 10)
                    * 10 AS BIGINT) AS bucket_lo,
               count(*) AS n_docs
        FROM documents GROUP BY 1
    """

ORACLES["text_repetition"] = """
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), g AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 3 THEN
                       list_transform(range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   ELSE [] END AS tg
            FROM t
        )
        SELECT doc_id,
               CAST(len(tg) AS INT) AS n_trigrams,
               CAST(len(list_distinct(tg)) AS INT) AS n_distinct_trigrams,
               CASE WHEN len(tg) > 0 THEN
                   ROUND((len(tg) - len(list_distinct(tg)))
                         / CAST(len(tg) AS DOUBLE), 6)
               ELSE 0.0 END AS dup_trigram_ratio
        FROM g
    """

ORACLES["text_gopher_quality"] = f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   list_sum(list_transform(toks, x -> length(x)))
                       / CAST(len(toks) AS DOUBLE) AS mean_tok_len_raw,
                   len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                       / CAST(len(toks) AS DOUBLE) AS alpha_ratio_raw,
                   len(list_filter(toks, x -> x IN ({_MARKERS_SQL}))) AS stop_hits
            FROM t
        )
        SELECT doc_id, n_tokens,
               ROUND(mean_tok_len_raw, 6) AS mean_tok_len,
               ROUND(alpha_ratio_raw, 6) AS alpha_ratio,
               CAST(stop_hits AS INT) AS stop_hits,
               (n_tokens >= {GOPHER_MIN_TOKENS}
                AND n_tokens <= {GOPHER_MAX_TOKENS}) AS ok_len,
               (mean_tok_len_raw >= {GOPHER_MIN_MEAN_TOK_LEN}
                AND mean_tok_len_raw <= {GOPHER_MAX_MEAN_TOK_LEN}) AS ok_tok_len,
               (alpha_ratio_raw >= 0.8) AS ok_alpha,
               (stop_hits >= {GOPHER_MIN_STOP_HITS}) AS ok_stop,
               ((n_tokens >= {GOPHER_MIN_TOKENS}
                 AND n_tokens <= {GOPHER_MAX_TOKENS})
                AND (mean_tok_len_raw >= {GOPHER_MIN_MEAN_TOK_LEN}
                     AND mean_tok_len_raw <= {GOPHER_MAX_MEAN_TOK_LEN})
                AND alpha_ratio_raw >= 0.8
                AND stop_hits >= {GOPHER_MIN_STOP_HITS}) AS keep
        FROM s
    """

ORACLES["text_bigram_freq"] = f"""
        WITH t AS (
            SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), b AS (
            SELECT unnest(
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END
            ) AS bigram
            FROM t
        ), c AS (
            SELECT bigram, count(*) AS n FROM b GROUP BY bigram
        )
        SELECT rank, bigram, n FROM (
            SELECT bigram, n,
                   row_number() OVER (ORDER BY n DESC, bigram) AS rank
            FROM c
        ) WHERE rank <= {TOP_BIGRAMS}
    """

ORACLES["text_stratified_sample"] = """
        SELECT doc_id, lang,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
                   AS sample_bucket
        FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100 < 20
    """

ORACLES["text_split_assign"] = """
        WITH b AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 100
                       AS bucket,
                   n_chars
            FROM documents
        )
        SELECT CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM b GROUP BY 1
    """

ORACLES["text_filter_funnel"] = f"""
        WITH t AS (
            SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT len(toks) AS n_tokens,
                   len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS distinct_ratio,
                   len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                       / CAST(len(toks) AS DOUBLE) AS stop_ratio
            FROM t
        ), f AS (
            SELECT n_tokens >= 30 AS len_ok,
                   n_tokens >= 30 AND distinct_ratio >= 0.4 AS rep_ok,
                   n_tokens >= 30 AND distinct_ratio >= 0.4
                     AND 0.6 * least(n_tokens / 100.0, 1.0) + 0.4 * stop_ratio >= 0.3
                       AS keep
            FROM s
        )
        SELECT '1_total' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM f
        UNION ALL
        SELECT '2_len_ok', CAST(sum(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) FROM f
        UNION ALL
        SELECT '3_rep_ok', CAST(sum(CASE WHEN rep_ok THEN 1 ELSE 0 END) AS BIGINT) FROM f
        UNION ALL
        SELECT '4_keep', CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) FROM f
    """

ORACLES["text_pack_sequences"] = """
        WITH t AS (
            SELECT doc_id, source,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT source, n_tokens,
                   COALESCE(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM t
        )
        SELECT source,
               CAST(floor(cum_before / 256) AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM c GROUP BY source, CAST(floor(cum_before / 256) AS BIGINT)
    """

ORACLES["text_tfidf_cosine_pairs"] = f"""
        WITH n AS (SELECT count(*) AS n_docs FROM documents),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
            ) GROUP BY doc_id, term
        ),
        idf AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
        ),
        kept AS (
            SELECT i.term, i.df FROM idf i, n
            WHERE i.df <= ceil({TFIDF_MAX_DF_FRAC} * n.n_docs)
        ),
        w AS (
            SELECT tf.doc_id, tf.term,
                   tf.tf * ln((n.n_docs + 1.0) / (kept.df + 1.0)) AS w
            FROM tf JOIN kept USING (term), n
        ),
        norms AS (
            SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
            FROM w a JOIN w b
              ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= {TFIDF_COS_TAU}
    """

ORACLES["text_tokenizer_fertility"] = f"""
        WITH t AS (
            SELECT lang,
                   len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws,
                   length(trim(text)) AS n_chars
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
               ROUND(sum(n_bpe) / CAST(sum(n_ws) AS DOUBLE), 6) AS fertility,
               ROUND(sum(n_chars) / CAST(sum(n_bpe) AS DOUBLE), 6)
                   AS chars_per_token
        FROM t GROUP BY lang
    """

ORACLES["text_pack_efficiency"] = """
        WITH t AS (
            SELECT doc_id, source,
                   len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
            FROM documents
        ), c AS (
            SELECT source, n_tokens,
                   COALESCE(sum(n_tokens) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS cum_before
            FROM t
        ), seqs AS (
            SELECT source,
                   CAST(floor(cum_before / 256) AS BIGINT) AS seq_id,
                   CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
            FROM c GROUP BY source, CAST(floor(cum_before / 256) AS BIGINT)
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_seqs,
               ROUND(avg(least(seq_tokens, 256) / 256.0), 6) AS mean_fill,
               CAST(sum(greatest(256 - seq_tokens, 0)) AS BIGINT) AS pad_tokens,
               CAST(sum(greatest(seq_tokens - 256, 0)) AS BIGINT)
                   AS overflow_tokens
        FROM seqs GROUP BY source
    """

# Boilerplate / vocab oracles share the dedup module's shingle CTE and
# the tokenization contract above.
from columnar_database_project_spark.operators.dedup import (  # noqa: E402
    _SHINGLES_SQL,
)

ORACLES["text_ngram_novelty"] = f"""
        WITH {_SHINGLES_SQL},
        g AS (
            SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs_with
            FROM shingles GROUP BY shingle
        )
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN g.n_docs_with = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(avg(CASE WHEN g.n_docs_with = 1 THEN 1.0 ELSE 0.0 END), 6)
                   AS novelty
        FROM shingles s JOIN g ON s.shingle = g.shingle
        GROUP BY s.doc_id
    """

ORACLES["text_boilerplate_shingles"] = f"""
        WITH {_SHINGLES_SQL}
        SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
        FROM shingles
        GROUP BY shingle
        HAVING count(*) >= {BOILERPLATE_MIN_DOCS}
        ORDER BY n_docs DESC, shingle
        LIMIT {BOILERPLATE_TOP_N}
    """

ORACLES["text_vocab_coverage"] = f"""
        WITH tf AS (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents
        ), cnts AS (
            SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tf GROUP BY term
        ), tot AS (
            SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnts
        ), top AS (
            SELECT term, cnt FROM cnts ORDER BY cnt DESC, term LIMIT {VOCAB_TOP_N}
        )
        SELECT term,
               CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT) AS rnk,
               cnt,
               ROUND(
                   CAST(sum(cnt) OVER (
                       ORDER BY cnt DESC, term
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) / total,
                   6
               ) AS cum_share
        FROM top, tot
    """

ORACLES["text_zipf_slope"] = f"""
        WITH tf AS (
            SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents
        ), cnts AS (
            SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tf GROUP BY term
        ), top AS (
            SELECT term, cnt FROM cnts ORDER BY cnt DESC, term LIMIT {ZIPF_TOP_N}
        ), ranked AS (
            SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS INT)
                       AS rnk,
                   cnt
            FROM top
        )
        SELECT CAST(count(*) AS BIGINT) AS n_terms,
               ROUND(regr_slope(ln(CAST(cnt AS DOUBLE)),
                                ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
               ROUND(regr_intercept(ln(CAST(cnt AS DOUBLE)),
                                    ln(CAST(rnk AS DOUBLE))), 6)
                   AS zipf_intercept,
               ROUND(regr_r2(ln(CAST(cnt AS DOUBLE)),
                             ln(CAST(rnk AS DOUBLE))), 6) AS zipf_r2
        FROM ranked
    """

from columnar_database_project_spark.operators.dedup import (  # noqa: E402
    INCR_SPLIT_FRAC as _INCR_FRAC,
)

ORACLES["text_corpus_build_incremental"] = f"""
        WITH thr AS (
            SELECT CAST(floor((max(doc_id) + 1) * {_INCR_FRAC}) AS BIGINT) AS t
            FROM documents
        ), old_store AS (
            SELECT DISTINCT md5(text) AS fp
            FROM documents, thr WHERE doc_id < t
        ), newt AS (
            SELECT doc_id, source, md5(text) AS fp,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents, thr WHERE doc_id >= t
        ), s AS (
            SELECT doc_id, source, fp,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                       AS distinct_ratio,
                   len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                       / CAST(len(toks) AS DOUBLE) AS stop_ratio
            FROM newt
        ), kept AS (
            SELECT doc_id, source, fp, n_tokens
            FROM s
            WHERE n_tokens >= 30 AND distinct_ratio >= 0.4
              AND 0.6 * least(n_tokens / 100.0, 1.0) + 0.4 * stop_ratio >= 0.3
        ), batch_first AS (
            SELECT doc_id, source, fp, n_tokens,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept
        ), accepted AS (
            SELECT doc_id, source, n_tokens
            FROM batch_first b
            WHERE rn = 1
              AND NOT EXISTS (SELECT 1 FROM old_store o WHERE o.fp = b.fp)
        ), sp AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 AS bucket,
                   source, n_tokens
            FROM accepted
        )
        SELECT CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(ceil(sum(n_tokens) / 256.0) AS BIGINT) AS n_seqs
        FROM sp GROUP BY 1, source
    """

ORACLES["text_corpus_datacard"] = f"""
        WITH s AS (
            SELECT lang, source, md5(text) AS fp,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), q AS (
            SELECT lang, source, fp, len(toks) AS n_tokens,
                   ROUND(0.6 * least(len(toks) / 100.0, 1.0)
                         + 0.4 * (len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                                  / CAST(len(toks) AS DOUBLE)), 6) AS quality
            FROM s
        ), w AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   CAST(sum(n_tokens) AS DOUBLE) AS n_tokens,
                   CAST(count(DISTINCT lang) AS DOUBLE) AS n_langs,
                   CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
                   ROUND(1.0 - count(DISTINCT fp) / CAST(count(*) AS DOUBLE), 6)
                       AS exact_dup_rate,
                   ROUND(avg(quality), 6) AS mean_quality,
                   ROUND(avg(CASE WHEN quality >= 0.3 THEN 1.0 ELSE 0.0 END), 6)
                       AS keep_rate
            FROM q
        )
        SELECT 'n_docs' AS metric, n_docs AS value FROM w
        UNION ALL SELECT 'n_tokens', n_tokens FROM w
        UNION ALL SELECT 'n_langs', n_langs FROM w
        UNION ALL SELECT 'n_sources', n_sources FROM w
        UNION ALL SELECT 'exact_dup_rate', exact_dup_rate FROM w
        UNION ALL SELECT 'mean_quality', mean_quality FROM w
        UNION ALL SELECT 'keep_rate', keep_rate FROM w
    """

ORACLES["text_curriculum_order"] = f"""
        WITH t AS (
            SELECT doc_id, source,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), q AS (
            SELECT doc_id, source,
                   ROUND(0.6 * least(len(toks) / 100.0, 1.0)
                         + 0.4 * (len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                                  / CAST(len(toks) AS DOUBLE)), 6) AS quality,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 AS bucket
            FROM t
        ), sp AS (
            SELECT CASE WHEN bucket < 90 THEN 'train'
                        WHEN bucket < 95 THEN 'val'
                        ELSE 'test' END AS split,
                   source, doc_id, quality
            FROM q WHERE quality >= 0.3
        )
        SELECT split, source, doc_id, quality,
               CAST(row_number() OVER (
                   PARTITION BY split, source
                   ORDER BY quality DESC, doc_id
               ) AS INT) AS curriculum_rank
        FROM sp
    """

ORACLES["text_corpus_build"] = f"""
        WITH t AS (
            SELECT doc_id, source, md5(text) AS fp,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, source, fp,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)
                       AS distinct_ratio,
                   len(list_filter(toks, x -> x IN ({_MARKERS_SQL})))
                       / CAST(len(toks) AS DOUBLE) AS stop_ratio
            FROM t
        ), kept AS (
            SELECT doc_id, source, fp, n_tokens
            FROM s
            WHERE n_tokens >= 30 AND distinct_ratio >= 0.4
              AND 0.6 * least(n_tokens / 100.0, 1.0) + 0.4 * stop_ratio >= 0.3
        ), survivors AS (
            SELECT doc_id, source, n_tokens,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM kept
        ), sp AS (
            SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                       % 100 AS bucket,
                   source, n_tokens
            FROM survivors WHERE rn = 1
        )
        SELECT CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               CAST(ceil(sum(n_tokens) / 256.0) AS BIGINT) AS n_seqs
        FROM sp GROUP BY 1, source
    """

ORACLES["text_bigram_condprob"] = f"""
        WITH t AS (
            SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), pairs AS (
            SELECT unnest(
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)),
                        i -> [toks[i], toks[i+1]])
                ELSE [] END
            ) AS pair
            FROM t
        ), p2 AS (
            SELECT pair[1] AS w1, pair[2] AS w2 FROM pairs
        ), c12 AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM p2 GROUP BY w1, w2
        ), c1 AS (
            SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM p2 GROUP BY w1
        ), v AS (
            SELECT count(DISTINCT term) AS v FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
            )
        )
        SELECT w1, w2, c12,
               ROUND((c12 + 1) / CAST(c1 + v AS DOUBLE), 6) AS p_smoothed
        FROM c12 JOIN c1 USING (w1), v
        ORDER BY p_smoothed DESC, w1, w2
        LIMIT {COND_TOP_N}
    """

ORACLES["text_lm_topm"] = f"""
        WITH t AS (
            SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), pairs AS (
            SELECT unnest(
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)),
                        i -> [toks[i], toks[i+1]])
                ELSE [] END
            ) AS pair
            FROM t
        ), p2 AS (
            SELECT pair[1] AS w1, pair[2] AS w2 FROM pairs
        ), c12 AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM p2 GROUP BY w1, w2
        ), c1 AS (
            SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM p2 GROUP BY w1
        ), v AS (
            SELECT count(DISTINCT term) AS v FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
            )
        )
        SELECT w1, w2, c12, c1,
               ROUND((c12 + 1) / CAST(c1 + v AS DOUBLE), 6) AS p_smoothed
        FROM c12 JOIN c1 USING (w1), v
        ORDER BY c12 DESC, w1, w2
        LIMIT {LM_TOP_M}
    """

ORACLES["text_lm_doc_score_topm"] = f"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), pairs AS (
            SELECT doc_id, unnest(
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)),
                        i -> [toks[i], toks[i+1]])
                ELSE [] END
            ) AS pair
            FROM t
        ), p2 AS (
            SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM pairs
        ), c12_all AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM p2 GROUP BY w1, w2
        ), c1_all AS (
            SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM p2 GROUP BY w1
        ), lm AS (
            SELECT w1, w2, c12, c1 FROM (
                SELECT c12_all.w1, c12_all.w2, c12, c1,
                       row_number() OVER (
                           ORDER BY c12 DESC, c12_all.w1, c12_all.w2
                       ) AS rn
                FROM c12_all JOIN c1_all USING (w1)
            ) WHERE rn <= {LM_TOP_M}
        ), uni AS (
            SELECT w1, c1 AS c1u FROM (
                SELECT w1, c1,
                       row_number() OVER (ORDER BY c1 DESC, w1) AS rn
                FROM c1_all
            ) WHERE rn <= {LM_TOP_M_UNI}
        ), v AS (
            SELECT count(DISTINCT term) AS v FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
            )
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               ROUND(avg(ln(
                   CASE WHEN lm.c12 IS NOT NULL
                        THEN (lm.c12 + 1) / CAST(lm.c1 + v AS DOUBLE)
                        WHEN uni.c1u IS NOT NULL
                        THEN 1 / CAST(uni.c1u + v AS DOUBLE)
                        ELSE 1 / CAST(v AS DOUBLE) END
               )), 6) AS mean_logprob
        FROM p2
        LEFT JOIN lm USING (w1, w2)
        LEFT JOIN uni USING (w1), v
        GROUP BY doc_id
    """

ORACLES["text_lm_doc_score"] = """
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents
        ), pairs AS (
            SELECT doc_id, unnest(
                CASE WHEN len(toks) >= 2 THEN
                    list_transform(range(1, len(toks)),
                        i -> [toks[i], toks[i+1]])
                ELSE [] END
            ) AS pair
            FROM t
        ), p2 AS (
            SELECT doc_id, pair[1] AS w1, pair[2] AS w2 FROM pairs
        ), c12 AS (
            SELECT w1, w2, count(*) AS c12 FROM p2 GROUP BY w1, w2
        ), c1 AS (
            SELECT w1, count(*) AS c1 FROM p2 GROUP BY w1
        ), v AS (
            SELECT count(DISTINCT term) AS v FROM (
                SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                FROM documents
            )
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               ROUND(avg(ln(
                   (COALESCE(c12, 0) + 1)
                   / CAST(COALESCE(c1, 0) + v AS DOUBLE)
               )), 6) AS mean_logprob
        FROM p2
        LEFT JOIN c12 USING (w1, w2)
        LEFT JOIN c1 USING (w1), v
        GROUP BY doc_id
    """

ORACLES["text_term_drift"] = f"""
        WITH t AS (
            SELECT doc_id % 2 AS h,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents
        ), g AS (
            SELECT term,
                   CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
                   CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
            FROM t GROUP BY term
        ), s AS (
            SELECT CAST(sum(c0) AS BIGINT) AS n0,
                   CAST(sum(c1) AS BIGINT) AS n1,
                   CAST(count(*) AS BIGINT) AS v
            FROM g
        ), scored AS (
            SELECT term, c0, c1,
                   ROUND((c0 + 1) / CAST(n0 + v AS DOUBLE), 6) AS p0,
                   ROUND((c1 + 1) / CAST(n1 + v AS DOUBLE), 6) AS p1,
                   ROUND(abs((c0 + 1) / CAST(n0 + v AS DOUBLE)
                             - (c1 + 1) / CAST(n1 + v AS DOUBLE)), 6) AS drift
            FROM g CROSS JOIN s
        )
        SELECT term, c0, c1, p0, p1, drift, rank FROM (
            SELECT term, c0, c1, p0, p1, drift,
                   row_number() OVER (ORDER BY drift DESC, term) AS rank
            FROM scored
        ) WHERE rank <= {DRIFT_TOP_N}
    """
