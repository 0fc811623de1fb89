"""Corpus-audit operators: the queries a training-data team runs to judge
a corpus before committing GPU-hours to it — classifier disagreement
matrices, curriculum difficulty bucketing, and embedding-space outlier
screens.

Determinism designs used here (established patterns, see docs/PLANS.md):
- ratios/scores are rounded to 6 decimals BEFORE they are used as an
  ordering or bucketing key, so both engines bucket identically;
- every mean/variance accumulates in DECIMAL space with the scale chosen
  so the unscaled sum stays below 2^53 (the measured decimal→double
  conversion-parity bound, docs/PLANS.md "Decimal-sum parity");
- vector norms come from the fixed-order dot-product fold shared with
  pipeline.similarity — bit-identical across engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..driver_queries import _t, memoize_df, register
from ..functions.text import sql_word
from ..session import tracked_persist
from .textstats import STOPWORDS, _STOP_SQL, tokens

# ---------------------------------------------------------------------------
# language-ID confusion matrix: declared label vs heuristic prediction
# ---------------------------------------------------------------------------


@register(
    "langid_confusion",
    f"""
    WITH p AS (
      SELECT lang,
             CASE WHEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                                       x -> x IN {_STOP_SQL}))::DOUBLE
                       / len(string_split_regex(trim(text), '\\s+')) >= 0.05
                  THEN 'en' ELSE 'unknown' END AS lang_pred
      FROM documents
    )
    SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
    FROM p
    GROUP BY lang, lang_pred
    ORDER BY lang ASC, lang_pred ASC
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the corpus's declared language label and
    the stopword-ratio language-ID heuristic (text_lang_id) — the standard
    audit for 'how much of this corpus is mislabeled / how good is the
    classifier'. Map-side prediction + one tiny (langs × langs) groupBy;
    at 100 TB the aggregate output is a handful of rows regardless of
    corpus size."""
    t = _t(spark, sf_dir)
    toks = tokens(F.col("text"))
    stop_arr = F.expr(
        "array(" + ", ".join("'" + w.replace("'", "''") + "'" for w in STOPWORDS) + ")"
    )
    ratio = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size(toks)
    return (
        t["documents"]
        .select(
            "lang",
            F.when(ratio >= 0.05, F.lit("en"))
            .otherwise(F.lit("unknown"))
            .alias("lang_pred"),
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.col("lang").asc(), F.col("lang_pred").asc())
    )


# ---------------------------------------------------------------------------
# curriculum bucketing: quality deciles per source
# ---------------------------------------------------------------------------

N_BUCKETS = 10


@register(
    "curriculum_buckets",
    f"""
    WITH q AS (
      SELECT doc_id, source,
             round(0.4 * least(n_chars / 500.0, 1.0)
                 + 0.3 * (len(list_filter(string_split_regex(trim(text), '\\s+'),
                                          x -> x IN {_STOP_SQL}))::DOUBLE
                          / len(string_split_regex(trim(text), '\\s+')))
                 + 0.3 * (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
                                / greatest(length(text), 1)),
                   6) AS quality
      FROM documents
    ),
    b AS (
      SELECT source, quality,
             ntile({N_BUCKETS}) OVER (PARTITION BY source
                                      ORDER BY quality ASC, doc_id ASC) AS bucket
      FROM q
    )
    SELECT source, bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           min(quality) AS q_min,
           max(quality) AS q_max
    FROM b
    GROUP BY source, bucket
    ORDER BY source ASC, bucket ASC
    """,
)
def curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality deciles — the bucketing a curriculum-learning
    schedule trains through (low→high quality) and a mixture tuner reweights
    by. Reuses the text_quality_score blend; the score is ROUNDED before
    the ntile ordering so both engines rank identically, with doc_id as the
    unique tie-break (ntile is deterministic given a total order).

    Scale: one shuffle partitioned by source for the ntile window, then the
    per-(source, bucket) rollup reuses the same partitioning. min/max of
    doubles are order-independent, so no decimal machinery is needed."""
    t = _t(spark, sf_dir)
    toks = tokens(F.col("text"))
    stop_arr = F.expr(
        "array(" + ", ".join("'" + w.replace("'", "''") + "'" for w in STOPWORDS) + ")"
    )
    stop_ratio = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))).cast(
        "double"
    ) / F.size(toks)
    punct_ratio = (
        F.length(F.col("text"))
        - F.length(F.regexp_replace(F.col("text"), r"[.,!?;:]", ""))
    ).cast("double") / F.greatest(F.length(F.col("text")), F.lit(1))
    quality = F.round(
        F.lit(0.4) * F.least(F.col("n_chars") / F.lit(500.0), F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio),
        6,
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id").asc()
    )
    return (
        t["documents"]
        .select("doc_id", "source", quality.alias("quality"))
        .withColumn("bucket", F.ntile(N_BUCKETS).over(w))
        .groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("quality").alias("q_min"),
            F.max("quality").alias("q_max"),
        )
        .orderBy(F.col("source").asc(), F.col("bucket").asc())
    )


# ---------------------------------------------------------------------------
# embedding outlier screen: peakedness z-score in decimal-moment space
# ---------------------------------------------------------------------------

PEAK_SCALE = "decimal(12,6)"  # peak < 1.0 → ≤ 10^6 unscaled per row
OUT_TOP = 20


@register(
    "embedding_outliers",
    f"""
    WITH n AS (
      SELECT vec_id,
             CAST(CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                       AS DECIMAL(12,6)) AS DOUBLE) AS peak
      FROM embeddings
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS cnt,
             CAST(sum(CAST(peak AS DECIMAL(12,6))) AS DOUBLE) AS sum_p,
             CAST(sum(CAST(peak AS DECIMAL(12,6))
                      * CAST(peak AS DECIMAL(12,6))) AS DOUBLE) AS sum_sq
      FROM n
    )
    SELECT vec_id,
           round(peak, 6) AS peak,
           round((peak - sum_p / cnt)
                 / sqrt(sum_sq / cnt - (sum_p / cnt) * (sum_p / cnt)), 6) AS z
    FROM n, s
    ORDER BY abs((peak - sum_p / cnt)
                 / sqrt(sum_sq / cnt - (sum_p / cnt) * (sum_p / cnt))) DESC,
             vec_id ASC
    LIMIT {OUT_TOP}
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} embedding outliers by PEAKEDNESS z-score (max |component|)
    — the screen that catches corrupt vectors (one-hot-ish encodes,
    truncated writes, NaN-adjacent junk) before they poison an ANN index or
    a clustering run. Norms carry no signal on this corpus (the embeddings
    are unit-normalized — norm stddev ≈ 4e-8), so the screen uses the
    component distribution's peak, which is scale-free on normalized
    vectors and has real variance.

    Parity design: the peak is an exact per-row comparison chain (no
    accumulation), QUANTIZED to DECIMAL(12,6); mean/variance accumulate in
    decimal space — sums and products of DECIMAL(12,6) are exact and
    commutative, and the unscaled square total stays below 2^53 (the
    decimal→double conversion-parity bound, docs/PLANS.md) up to ~10^7
    unit-normalized vectors; drop the square's scale for a larger corpus.
    The z expression then evaluates identically on both engines.

    Scale: one corpus scan + ONE single-row stats aggregate broadcast back
    over the scan (bm25's corpus-stats shape); TakeOrdered keeps the top
    {top} — no wide shuffle anywhere."""
    t = _t(spark, sf_dir)
    peak = (
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
        .cast(PEAK_SCALE)
        .cast("double")
    )
    n = t["embeddings"].select("vec_id", peak.alias("peak"))
    dec = F.col("peak").cast(PEAK_SCALE)
    s = n.agg(
        F.count("*").cast("double").alias("cnt"),
        F.sum(dec).cast("double").alias("sum_p"),
        F.sum(dec * dec).cast("double").alias("sum_sq"),
    )
    mean = F.col("sum_p") / F.col("cnt")
    z = (F.col("peak") - mean) / F.sqrt(
        F.col("sum_sq") / F.col("cnt") - mean * mean
    )
    return (
        n.crossJoin(F.broadcast(s))
        .select(
            F.col("vec_id"),
            F.round(F.col("peak"), 6).alias("peak"),
            F.round(z, 6).alias("z"),
            F.abs(z).alias("_absz"),
        )
        .orderBy(F.col("_absz").desc(), F.col("vec_id").asc())
        .limit(OUT_TOP)
        .drop("_absz")
    )


embedding_outliers.__doc__ = embedding_outliers.__doc__.format(top=OUT_TOP)


# ---------------------------------------------------------------------------
# mixture weights: per-source sampling rates toward a token budget
# ---------------------------------------------------------------------------

MIX_BUDGET_TOKENS = 100_000  # target total training tokens (demo scale)


@register(
    "mixture_weights",
    f"""
    WITH s AS (
      SELECT source,
             CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_tokens,
             round(sqrt(CAST(n_tokens AS DOUBLE))
                   / sum(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6) AS share
      FROM s
    )
    SELECT source, n_tokens,
           share AS weight,
           CAST(floor(share * {MIX_BUDGET_TOKENS}) AS BIGINT) AS budget_tokens,
           round(least((share * {MIX_BUDGET_TOKENS})
                       / CAST(n_tokens AS DOUBLE), 1.0), 6) AS sample_rate
    FROM w
    ORDER BY source ASC
    """,
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture solver (sqrt-scaling, the multilingual-balancing rule):
    each source's training-token budget is proportional to the square root
    of its size, so big sources are down-weighted and small ones are not
    starved; sample_rate = budget / available (capped at 1.0) is the rate
    the sampler then applies. This is the table a pipeline derives its
    per-source sampling coins from (balanced_sample consumes exactly this
    shape of rate).

    Parity: token counts are exact integers; sqrt is correctly-rounded in
    both engines; the window SUM over per-source sqrt values runs over a
    handful of rows — DuckDB and Spark both evaluate an unordered window
    total over the same small set... which has NO defined order, so the
    fold is kept engine-stable by rounding the final ratio to 6 decimals
    (sources are few; a 1-ulp total difference cannot survive the round).
    Scale: one groupBy(source) with map-side partial sums, then window +
    arithmetic over a |sources|-row frame — output size independent of
    corpus size."""
    t = _t(spark, sf_dir)
    s = (
        t["documents"]
        .groupBy("source")
        .agg(F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("n_tokens"))
    )
    w = Window.partitionBy()
    raw_w = F.sqrt(F.col("n_tokens").cast("double"))
    # round-before-use: every derived value (weight, the floor'd budget,
    # the rate) computes from the ROUNDED share — the unordered float
    # window total can differ by 1 ulp between engines, and floor() on an
    # unrounded share sitting 1 ulp from an integer would diverge
    share = F.round(raw_w / F.sum(raw_w).over(w), 6)
    return (
        s.select(
            "source",
            "n_tokens",
            share.alias("weight"),
            F.floor(share * MIX_BUDGET_TOKENS).cast("long").alias("budget_tokens"),
            F.round(
                F.least(
                    (share * MIX_BUDGET_TOKENS) / F.col("n_tokens").cast("double"),
                    F.lit(1.0),
                ),
                6,
            ).alias("sample_rate"),
        )
        .orderBy(F.col("source").asc())
    )


# ---------------------------------------------------------------------------
# per-dimension embedding statistics: the dead/degenerate-dimension screen
# ---------------------------------------------------------------------------
from .similarity import DIM  # noqa: E402


@register(
    "embedding_dim_stats",
    f"""
    WITH el AS (
      SELECT j AS dim, CAST(embedding[j] AS DOUBLE) AS v
      FROM embeddings, unnest(generate_series(1, {DIM})) t(j)
    ),
    s AS (
      SELECT dim, count(*) AS n,
             sum(CAST(v AS DECIMAL(20,6))) AS sv,
             sum(CAST(v * v AS DECIMAL(20,6))) AS sv2
      FROM el GROUP BY dim
    )
    SELECT dim, CAST(n AS BIGINT) AS n,
           round(CAST(sv AS DOUBLE) / n, 6) AS mean,
           round(sqrt(greatest(
             CAST(sv2 AS DOUBLE) / n
             - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n), 0.0)), 6)
             AS std
    FROM s
    ORDER BY dim ASC
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/std over the embedding corpus — the audit that
    catches dead dimensions (std ~ 0), un-centered features (|mean| >> 0),
    and scale imbalance before any cosine-based pipeline runs.

    Scale: posexplode is map-side; the single shuffle groups on 64 keys
    with map-side partial DECIMAL sums (scale 6 keeps the unscaled sum
    below 2^53 — the measured decimal→double parity bound), so the
    reduction is exact and summation-order-independent at any
    partitioning. Variance is clamped at 0 before sqrt so float rounding
    can't produce NaN."""
    emb = _t(spark, sf_dir)["embeddings"]
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    el = emb.selectExpr("posexplode(embedding) AS (pos, v0)").selectExpr(
        "(pos + 1) AS dim", "CAST(v0 AS DOUBLE) AS v"
    )
    s = el.groupBy("dim").agg(
        F.expr("count(*) AS n"),
        F.expr("sum(CAST(v AS DECIMAL(20,6))) AS sv"),
        F.expr("sum(CAST(v * v AS DECIMAL(20,6))) AS sv2"),
    )
    mean = "(CAST(sv AS DOUBLE) / n)"
    var = f"greatest(CAST(sv2 AS DOUBLE) / n - {mean} * {mean}, 0.0D)"
    return s.selectExpr(
        "dim",
        "CAST(n AS BIGINT) AS n",
        f"round({mean}, 6) AS mean",
        f"round(sqrt({var}), 6) AS std",
    ).orderBy(F.col("dim").asc())


# ---------------------------------------------------------------------------
# corpus datasheet: the per-source roll-up a dataset card is built from
# ---------------------------------------------------------------------------
def _datasheet_sql() -> str:
    from .dedup import _MINHASH_LSH_SQL
    from .textstats import quality_sql_expr

    quality = f"""
      SELECT doc_id, source,
             {quality_sql_expr()} AS quality,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             lang
      FROM documents
    """
    return f"""
    WITH q AS ({quality}),
    base AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*), 6) AS mean_quality
      FROM q GROUP BY source
    ),
    dup AS (
      SELECT da.source, CAST(count(*) AS BIGINT) AS intra_dup_pairs
      FROM ({_MINHASH_LSH_SQL}) p
      JOIN documents da ON p.d1 = da.doc_id
      JOIN documents db ON p.d2 = db.doc_id
      WHERE da.source = db.source
      GROUP BY da.source
    )
    SELECT b.source, b.n_docs, b.total_tokens, b.n_langs, b.mean_quality,
           CAST(coalesce(d.intra_dup_pairs, 0) AS BIGINT) AS intra_dup_pairs
    FROM base b LEFT JOIN dup d ON b.source = d.source
    ORDER BY b.source ASC
    """


@register("corpus_datasheet", _datasheet_sql())
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card table: per source — doc count, whitespace-token
    total, language count, decimal-exact mean quality, and the
    within-source near-dup pair count (from the memoized MinHash stream).
    The single query a data lead reads before signing off on a mixture.

    Scale: one groupBy(source) over map-side stats (quality is the same
    rounded blend text_quality_score oracles; the mean accumulates in
    DECIMAL so partitioning can't move it); the dup counts ride the
    already-computed LSH pairs broadcast against the doc->source lookup.
    count(DISTINCT lang) rewrites to a two-phase expand under AQE — |langs|
    per source is tiny."""
    from .dedup import dedup_pairs_with_sources
    from .textstats import quality_col, tokens as ws_tokens

    docs = _t(spark, sf_dir)["documents"]
    base = (
        docs.select(
            "source",
            "lang",
            quality_col().alias("quality"),
            F.size(ws_tokens(F.col("text"))).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.round(
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_quality"),
        )
    )
    wb = dedup_pairs_with_sources(spark, sf_dir)
    dup = (
        wb.filter(F.col("s1") == F.col("s2"))
        .groupBy(F.col("s1").alias("source"))
        .agg(F.count("*").cast("long").alias("intra_dup_pairs"))
    )
    return (
        base.join(dup, "source", "left")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_langs",
            "mean_quality",
            F.coalesce(F.col("intra_dup_pairs"), F.lit(0))
            .cast("long")
            .alias("intra_dup_pairs"),
        )
        .orderBy(F.col("source").asc())
    )


# ---------------------------------------------------------------------------
# per-source document-length histogram (fixed 100-char buckets)
# ---------------------------------------------------------------------------
HIST_BUCKET_CHARS = 100


@register(
    "length_histogram",
    f"""
    SELECT source,
           CAST(n_chars // {HIST_BUCKET_CHARS} AS BIGINT) AS bucket,
           CAST(n_chars // {HIST_BUCKET_CHARS} * {HIST_BUCKET_CHARS} AS BIGINT)
             AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1, 2, 3
    ORDER BY source ASC, bucket ASC
    """,
)
def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram over fixed 100-char buckets —
    the length-distribution audit behind truncation/packing decisions.
    Integer floor-division bucketing is exact in both engines (no
    float log buckets, whose 1-ulp engine differences flip boundary
    docs); one (source, bucket) shuffle with map-side partials."""
    docs = _t(spark, sf_dir)["documents"]
    bucket = F.floor(F.col("n_chars") / HIST_BUCKET_CHARS).cast("long")
    return (
        docs.select(
            "source",
            bucket.alias("bucket"),
            (bucket * HIST_BUCKET_CHARS).cast("long").alias("bucket_lo"),
        )
        .groupBy("source", "bucket", "bucket_lo")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy(F.col("source").asc(), F.col("bucket").asc())
    )


# ---------------------------------------------------------------------------
# approximation-quality audits: LSH recall vs the exact baseline, IVF
# recall@k vs brute force — the numbers that tune BANDS / nprobe at scale
# ---------------------------------------------------------------------------


def _lsh_recall_sql() -> str:
    from .dedup import _JACCARD_PAIRS_SQL, _MINHASH_LSH_SQL

    # nested WITHs must sit in subquery position; "both" is reserved
    return f"""
    WITH truth AS (SELECT * FROM ({_JACCARD_PAIRS_SQL})),
    lsh AS (SELECT * FROM ({_MINHASH_LSH_SQL})),
    hits AS (SELECT t.d1, t.d2 FROM truth t JOIN lsh l ON t.d1 = l.d1 AND t.d2 = l.d2)
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_baseline,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_common,
           round((SELECT count(*) FROM hits)::DOUBLE
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
    """


@register("lsh_recall_audit", _lsh_recall_sql())
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH quality: how many of the exact all-pairs baseline's
    verified pairs (dedup_ngram_jaccard, stop-shingle-capped) the banded
    MinHash-LSH pass recovers. THE number that tunes N_HASHES/BANDS per
    corpus — at 100 TB the baseline is run on a sample and this audit
    decides whether the banding budget holds the recall floor. The two
    pair sets differ legitimately in both directions (the baseline caps
    hot shingles; LSH's probabilistic banding misses near-threshold
    pairs), so the audit reports both set sizes, the intersection, and
    recall vs the baseline. Both sides are store-read when built
    (VERDICT r10 #5): the baseline via dedup_ngram_jaccard's own
    read-or-compute, the LSH side via the dedup pair store — the audit
    replays two MATERIALIZED pair tables instead of re-running either
    derivation; the oracle re-derives both from scratch, keeping both
    stores hash-checked."""
    from ..session import tracked_persist
    from .dedup import dedup_ngram_jaccard, lsh_pairs

    # re-register the memoized chains for caching on every call: the
    # bench protocol clearCache()s between queries, which drops not just
    # the blocks but the cache REGISTRATION — without re-persisting, the
    # single aggregate below would re-derive each chain per action.
    # (persist on an already-registered frame is a no-op.)
    t = tracked_persist(dedup_ngram_jaccard(spark, sf_dir)).select("d1", "d2")
    l = tracked_persist(lsh_pairs(spark, sf_dir)).select("d1", "d2")
    # one full-outer pass references each chain exactly ONCE in the plan
    # (separate count branches would compute the baseline chain twice
    # per action) and yields all three counts in a single aggregate
    j = t.withColumn("in_t", F.lit(1)).join(
        l.withColumn("in_l", F.lit(1)), ["d1", "d2"], "full_outer"
    )
    return j.agg(
        F.count("in_t").cast("long").alias("n_baseline"),
        F.count("in_l").cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("in_t").isNotNull() & F.col("in_l").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_common"),
    ).select(
        "n_baseline",
        "n_lsh",
        "n_common",
        F.round(
            F.col("n_common").cast("double") / F.greatest(F.col("n_baseline"), F.lit(1)),
            6,
        ).alias("recall"),
    )


from .clustering import _IVF_NPROBE_SQL, _IVFPQ_SQL, ann_ivf_kmeans_nprobe, ann_ivfpq_topk  # noqa: E402
from .similarity import CORPUS, _pq_sql, ann_pq_topk, recall_at_k  # noqa: E402

_ANN_RECALL_SQL, _ann_recall = recall_at_k(
    _IVF_NPROBE_SQL, ann_ivf_kmeans_nprobe, CORPUS
)


@register("ann_recall_audit", _ANN_RECALL_SQL)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured ANN quality: recall@10 of the trained-IVF nprobe probe
    against the exact brute-force ranking for the same query vector.
    THE number that tunes nprobe (and k) per corpus: at 100 TB brute
    force runs on a query sample and this audit decides how many cells a
    probe must read to hold the recall target. Composes two oracled
    operators; with the fit store present the IVF side routes through
    the stored quantizer."""
    return _ann_recall(spark, sf_dir)


_PQ_RECALL_SQL, _pq_recall = recall_at_k(_pq_sql(), ann_pq_topk, CORPUS)


@register("pq_recall_audit", _PQ_RECALL_SQL)
def pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured PQ quality — the third leg of the approximation-audit
    trio (LSH pair recall, IVF nprobe recall@k, and now product
    quantization): recall@10 of the ADC-scan-plus-exact-rerank pipeline
    against brute-force cosine. THE number that sizes PQ_CAND (how many
    ADC candidates must survive to the rerank for the recall target) —
    4-byte codes quantize aggressively, and whether that costs recall is
    an empirical question per corpus, not a design assumption."""
    return _pq_recall(spark, sf_dir)


_IVFPQ_RECALL_SQL, _ivfpq_recall = recall_at_k(_IVFPQ_SQL, ann_ivfpq_topk, CORPUS)


@register("ivfpq_recall_audit", _IVFPQ_RECALL_SQL)
def ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured IVF-PQ quality: recall@10 of the composed probe (cell
    pruning x ADC code scan x exact rerank) against brute-force cosine.
    The composition loses recall two ways — the true neighbor's cell may
    fall outside the nprobe probed set, or its ADC rank may fall outside
    IVFPQ_CAND — and this audit prices their PRODUCT, which neither
    ann_recall_audit nor pq_recall_audit sees alone. THE regression gate
    on the nprobe/IVFPQ_CAND pair per corpus."""
    return _ivfpq_recall(spark, sf_dir)


# ---------------------------------------------------------------------------
# token-weighted duplication inflation: what dedup is worth, per source
# ---------------------------------------------------------------------------
@register(
    "dup_inflation",
    """
    WITH d AS (
      SELECT source, md5(text) AS h,
             len(string_split_regex(trim(text), '\\s+')) AS nt
      FROM documents
    ),
    g AS (
      SELECT source, h, count(*) AS n_copies, min(nt) AS nt
      FROM d GROUP BY source, h
    )
    SELECT source,
           CAST(sum(n_copies) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique_docs,
           CAST(sum(n_copies * nt) AS BIGINT) AS total_tokens,
           CAST(sum(nt) AS BIGINT) AS unique_tokens,
           round(CAST(sum(n_copies * nt) AS DOUBLE) / greatest(sum(nt), 1), 6)
             AS token_inflation
    FROM g GROUP BY source ORDER BY source ASC
    """,
)
def dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted duplication factor per source — the number that
    prices an exact-dedup pass: total tokens the source ships vs tokens
    surviving content-hash dedup (extension operator, no reference
    counterpart). ``token_inflation = 1.0`` means dedup saves nothing;
    2.0 means half the source's tokens are re-reads of text the model
    already saw — the strongest single predictor of wasted epochs.

    Scale: one (source, content-hash) shuffle with map-side partial
    aggregation — the same exchange dedup_exact already pays, so a real
    pipeline derives both from one pass; the per-source roll-up reduces
    to a handful of rows. All sums are integer (exact at any partition
    count); the only double is the final per-source ratio."""
    t = _t(spark, sf_dir)
    d = t["documents"].select(
        "source",
        F.md5(F.col("text").cast("binary")).alias("h"),
        F.size(tokens(F.col("text"))).cast("long").alias("nt"),
    )
    g = d.groupBy("source", "h").agg(
        F.count("*").alias("n_copies"), F.min("nt").alias("nt")
    )
    return (
        g.groupBy("source")
        .agg(
            F.sum("n_copies").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_unique_docs"),
            F.sum(F.col("n_copies") * F.col("nt")).cast("long").alias("total_tokens"),
            F.sum("nt").cast("long").alias("unique_tokens"),
            # greatest(.., 1): the whitespace tokenizer returns [''] for
            # blank text (nt >= 1 per doc), so the denominator is positive
            # today — the guard makes that invariant explicit instead of
            # silently depending on tokenizer behavior
            F.round(
                F.sum(F.col("n_copies") * F.col("nt")).cast("double")
                / F.greatest(F.sum("nt"), F.lit(1)),
                6,
            ).alias("token_inflation"),
        )
        .orderBy(F.col("source").asc())
    )


# ---------------------------------------------------------------------------
# index bucket-occupancy audit: the number that proves the width ladders
# ---------------------------------------------------------------------------


def _occ_sql() -> str:
    from .clustering import _fit_ctes_dyn
    from .dedup import _BANDS_LADDER_SQL, _SHINGLE_SQL
    from .params import minhash_bands_sql
    from .similarity import _RHP_BANDS_SQL, _RHP_PARAMS_SQL

    stats = (
        "count(*) AS n_buckets, sum(sz) AS n_rows, "
        "max(sz) AS max_bucket, sum(sz * sz) AS s2"
    )
    # width-generic fit (clustering._fit_ctes_dyn): ONE branch covers
    # every IVF ladder rung — no per-rung replay (r8)
    ivf_branches = f"""SELECT * FROM (
        WITH {_fit_ctes_dyn()}
        SELECT 'ivf_kmeans' AS structure,
               (SELECT count(*) FROM embeddings) AS n_items,
               (SELECT k FROM pk) AS width, {stats}
        FROM (SELECT cid, count(*) AS sz FROM g2 GROUP BY cid) cs
      ) ivf_dyn"""
    return f"""
    WITH p AS ({_RHP_PARAMS_SQL}),
    rbands AS ({_RHP_BANDS_SQL}),
    rsz AS (SELECT tbl, bucket, count(*) AS sz FROM rbands GROUP BY 1, 2),
    sh AS ({_SHINGLE_SQL}),
    {_BANDS_LADDER_SQL},
    msz AS (SELECT band, bv, count(*) AS sz FROM bands GROUP BY 1, 2),
    stacked AS (
      SELECT 'rhp_lsh' AS structure,
             (SELECT count(*) FROM embeddings) AS n_items,
             (SELECT kb FROM p) AS width, {stats}
      FROM rsz
      UNION ALL
      SELECT 'minhash_lsh' AS structure,
             (SELECT count(*) FROM documents) AS n_items,
             {minhash_bands_sql('(SELECT count(*) FROM documents)')} AS width,
             {stats}
      FROM msz
      UNION ALL
      {ivf_branches}
    )
    SELECT structure,
           CAST(n_items AS BIGINT) AS n_items,
           CAST(width AS BIGINT) AS width,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           round(CAST(n_rows AS DOUBLE) / n_buckets, 6) AS avg_bucket,
           CAST(max_bucket AS BIGINT) AS max_bucket,
           round(CAST(s2 AS DOUBLE) / n_items, 6) AS cand_per_probe
    FROM stacked
    ORDER BY structure ASC
    """


@register("index_occupancy_audit", _occ_sql())
@memoize_df
def index_occupancy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy audit for every width-laddered blocking structure
    (VERDICT r6 #1): per structure, the chosen width, the observed bucket
    count, mean/max occupancy, and ``cand_per_probe`` = sum(sz^2)/n — the
    expected number of same-bucket rows a new item's probe scans (summed
    over tables for the multi-table LSH). THE number that proves the
    corpus-size ladders hold: with widths frozen it grows linearly in n;
    with params.* ladders it stays ~flat (scale_probe.py measures it at
    1x/3x/10x). All bucket sizes and sum-of-squares are integers (exact
    at any partitioning); the two ratios are single exact divisions.

    Scale: each structure contributes one groupBy over its band/cell
    table (map-side partials, output = bucket count rows) and a one-row
    aggregate — strictly cheaper than any probe that USES the index."""
    from .clustering import kmeans_fit
    from .dedup import band_frame, minhash_signature, minhash_widths
    from .params import corpus_count, rhp_bits_for
    from .similarity import rhp_band_frame

    n_emb = corpus_count(spark, sf_dir, "embeddings")
    n_doc = corpus_count(spark, sf_dir, "documents")

    def stats(szdf: DataFrame, structure: str, n_items: int, width: int):
        # one-parse SQL text (r13): same trees as the old Column-DSL agg;
        # spliced values are checked, never trusted
        structure, n_items, width = sql_word(structure), int(n_items), int(width)
        return szdf.agg(
            F.expr("count(*) AS n_buckets"),
            F.expr("sum(sz) AS n_rows"),
            F.expr("max(sz) AS max_bucket"),
            F.expr("sum(sz * sz) AS s2"),
        ).selectExpr(
            f"'{structure}' AS structure",
            f"CAST({n_items} AS BIGINT) AS n_items",
            f"CAST({width} AS BIGINT) AS width",
            "CAST(n_buckets AS BIGINT) AS n_buckets",
            "round(CAST(n_rows AS DOUBLE) / n_buckets, 6) AS avg_bucket",
            "CAST(max_bucket AS BIGINT) AS max_bucket",
            f"round(CAST(s2 AS DOUBLE) / {n_items}, 6) AS cand_per_probe",
        )

    rsz = (
        rhp_band_frame(spark, sf_dir)
        .groupBy("tbl", "bucket")
        .agg(F.count("*").alias("sz"))
    )
    _, n_bands, n_rows_pb = minhash_widths(spark, sf_dir)
    msz = (
        band_frame(minhash_signature(spark, sf_dir), n_bands, n_rows_pb)
        .groupBy("band", "bv")
        .agg(F.count("*").alias("sz"))
    )
    asg, cents = kmeans_fit(spark, sf_dir)  # corpus-size-derived width
    isz = asg.groupBy("cid").agg(F.count("*").alias("sz"))
    return (
        stats(rsz, "rhp_lsh", n_emb, rhp_bits_for(n_emb))
        .unionByName(stats(msz, "minhash_lsh", n_doc, n_bands))
        .unionByName(stats(isz, "ivf_kmeans", n_emb, len(cents)))
        .orderBy(F.col("structure").asc())
    )


# ---------------------------------------------------------------------------
# embedding-LSH recall audit: auto-widths must not silently cost recall
# ---------------------------------------------------------------------------


def _embedding_lsh_recall_sql() -> str:
    from .similarity import NEARDUP_COSINE, _RHP_SQL, _cos_sql

    truth = f"""
    SELECT a.vec_id AS id_new, b.vec_id AS id_corpus
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 100
      AND {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_COSINE}
    """
    return f"""
    WITH truth AS ({truth}),
    lsh AS (SELECT id_new, id_corpus FROM ({_RHP_SQL})),
    hits AS (
      SELECT t.id_new FROM truth t
      JOIN lsh l ON t.id_new = l.id_new AND t.id_corpus = l.id_corpus
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_baseline,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_common,
           round((SELECT count(*) FROM hits)::DOUBLE
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
    """


@register("embedding_lsh_recall_audit", _embedding_lsh_recall_sql())
def embedding_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth leg of the approximation-audit family: pair recall of the
    SINGLE-PROBE width-laddered random-hyperplane LSH
    (dedup_embedding_lsh_single_probe — the priced cheap path; the
    headline dedup_embedding_lsh is the multi-probe variant audited by
    embedding_lsh_multiprobe_recall_audit) against the exact
    batch-vs-corpus cosine baseline (dedup_embedding_cosine's pair set).
    Widening the tables as the corpus grows buys pruning at the price of
    recall per table — this audit is the regression gate that prices
    what one probe per table leaves on the floor at the auto-chosen bit
    width. Same single full-outer aggregate as lsh_recall_audit: each
    chain referenced once per action. Both pair sets come from the
    materialized embedding pair store when built (stored_pairs)."""
    from ..session import tracked_persist
    from .similarity import (
        dedup_embedding_cosine,
        dedup_embedding_lsh_single_probe,
        stored_pairs,
    )

    t = tracked_persist(
        stored_pairs(spark, sf_dir, "cosine", dedup_embedding_cosine)
    ).select("id_new", "id_corpus")
    l = tracked_persist(
        stored_pairs(
            spark, sf_dir, "single", dedup_embedding_lsh_single_probe
        )
    ).select("id_new", "id_corpus")
    j = t.withColumn("in_t", F.lit(1)).join(
        l.withColumn("in_l", F.lit(1)), ["id_new", "id_corpus"], "full_outer"
    )
    return j.agg(
        F.count("in_t").cast("long").alias("n_baseline"),
        F.count("in_l").cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("in_t").isNotNull() & F.col("in_l").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_common"),
    ).select(
        "n_baseline",
        "n_lsh",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / F.greatest(F.col("n_baseline"), F.lit(1)),
            6,
        ).alias("recall"),
    )




def _pair_recall_sql(lsh_sql: str) -> str:
    """The shared pair-recall oracle template: any (id_new, id_corpus)
    pair-set SQL vs the exact batch-vs-corpus cosine baseline."""
    from .similarity import NEARDUP_COSINE, _cos_sql

    truth = f"""
    SELECT a.vec_id AS id_new, b.vec_id AS id_corpus
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 100
      AND {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_COSINE}
    """
    return f"""
    WITH truth AS ({truth}),
    lsh AS (SELECT id_new, id_corpus FROM ({lsh_sql})),
    hits AS (
      SELECT t.id_new FROM truth t
      JOIN lsh l ON t.id_new = l.id_new AND t.id_corpus = l.id_corpus
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_baseline,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_common,
           round((SELECT count(*) FROM hits)::DOUBLE
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
    """


def _pair_recall_frame(
    spark: SparkSession, sf_dir: str, pairs_fn, variant: str | None = None
) -> DataFrame:
    """The shared pair-recall Spark template (the single full-outer
    aggregate every embedding-LSH recall audit uses): both chains
    tracked-persisted so each is referenced once per action. Pass the
    LSH side's pair-store ``variant`` to read it (and the cosine
    baseline) from the materialized store when built."""
    from ..session import tracked_persist
    from .similarity import dedup_embedding_cosine, stored_pairs

    t = tracked_persist(
        stored_pairs(spark, sf_dir, "cosine", dedup_embedding_cosine)
    ).select("id_new", "id_corpus")
    lsh = (
        stored_pairs(spark, sf_dir, variant, pairs_fn)
        if variant is not None
        else pairs_fn(spark, sf_dir)
    )
    l = tracked_persist(lsh).select("id_new", "id_corpus")
    j = t.withColumn("in_t", F.lit(1)).join(
        l.withColumn("in_l", F.lit(1)), ["id_new", "id_corpus"], "full_outer"
    )
    return j.agg(
        F.count("in_t").cast("long").alias("n_baseline"),
        F.count("in_l").cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("in_t").isNotNull() & F.col("in_l").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_common"),
    ).select(
        "n_baseline",
        "n_lsh",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / F.greatest(F.col("n_baseline"), F.lit(1)),
            6,
        ).alias("recall"),
    )


def _embedding_lsh_mp_recall_sql() -> str:
    from .similarity import _RHP_MP_SQL

    return _pair_recall_sql(_RHP_MP_SQL)


@register(
    "embedding_lsh_multiprobe_recall_audit", _embedding_lsh_mp_recall_sql()
)
def embedding_lsh_multiprobe_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pair recall of the MULTI-PROBE RHP LSH vs the exact cosine
    baseline — read next to embedding_lsh_recall_audit: the delta between
    the two is exactly what the second (lowest-margin-flip) probe buys,
    measured per corpus at the auto-chosen width. This is the number that
    decides between widening tables (more pruning, less per-table recall)
    and probing more buckets (recall back at 2x probe reads, index
    unchanged)."""
    from ..session import tracked_persist
    from .similarity import (
        dedup_embedding_cosine,
        dedup_embedding_lsh_multiprobe,
        stored_pairs,
    )

    t = tracked_persist(
        stored_pairs(spark, sf_dir, "cosine", dedup_embedding_cosine)
    ).select("id_new", "id_corpus")
    l = tracked_persist(
        stored_pairs(
            spark, sf_dir, "mp2", dedup_embedding_lsh_multiprobe
        )
    ).select("id_new", "id_corpus")
    j = t.withColumn("in_t", F.lit(1)).join(
        l.withColumn("in_l", F.lit(1)), ["id_new", "id_corpus"], "full_outer"
    )
    return j.agg(
        F.count("in_t").cast("long").alias("n_baseline"),
        F.count("in_l").cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("in_t").isNotNull() & F.col("in_l").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_common"),
    ).select(
        "n_baseline",
        "n_lsh",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / F.greatest(F.col("n_baseline"), F.lit(1)),
            6,
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# sampled-baseline LSH recall audit: the 100 TB audit shape
# ---------------------------------------------------------------------------
def _smp_pred_sql(col: str) -> str:
    from .dedup import AUDIT_SAMPLE_HEX

    lits = ", ".join(f"'{h}'" for h in AUDIT_SAMPLE_HEX)
    return f"substr(md5('smp:' || CAST({col} AS VARCHAR)), 1, 1) IN ({lits})"


def _lsh_recall_sampled_sql() -> str:
    from .dedup import _JACCARD_PAIRS_SQL, _MINHASH_LSH_SQL

    return f"""
    WITH truth AS (
      SELECT * FROM ({_JACCARD_PAIRS_SQL}) WHERE {_smp_pred_sql('d1')}
    ),
    lsh AS (
      SELECT * FROM ({_MINHASH_LSH_SQL}) WHERE {_smp_pred_sql('d1')}
    ),
    hits AS (SELECT t.d1 FROM truth t JOIN lsh l ON t.d1 = l.d1 AND t.d2 = l.d2),
    agg AS (
      SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_baseline,
             CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
             CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_common
    )
    SELECT n_baseline, n_lsh, n_common,
           round(n_common::DOUBLE / greatest(n_baseline, 1), 6) AS recall,
           round(sqrt(round(n_common::DOUBLE / greatest(n_baseline, 1), 6)
                      * (1.0 - round(n_common::DOUBLE / greatest(n_baseline, 1), 6))
                      / greatest(n_baseline, 1)), 6) AS recall_stderr
    FROM agg
    """


@register("lsh_recall_audit_sampled", _lsh_recall_sampled_sql())
def lsh_recall_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit shape that survives 100 TB (VERDICT r6 next-round #3):
    the exact all-pairs baseline runs on a deterministic 1/8 hash-sample
    of PROBE docs (pairs whose lower id falls in the sample), so its
    posting-list self-join costs ~p of the full chain while the LSH side
    (cheap, store-backed) is filtered to the same probe sample. Reports
    recall over sampled pairs plus a binomial standard error — the stated
    confidence bound: recall_hat ± 2*stderr brackets the true pair recall
    under the pair-level i.i.d. approximation. The FULL audit
    (lsh_recall_audit) stays registered for fixtures; this one is the
    production cadence.

    Scale: the sample predicate pushes into the probe side of the
    self-join (one md5 per posting row, no extra pass); baseline cost
    scales with p * corpus, never the corpus squared."""
    from ..session import tracked_persist
    from .dedup import audit_sample_pred, jaccard_pairs_sampled, lsh_pairs

    t = tracked_persist(jaccard_pairs_sampled(spark, sf_dir)).select("d1", "d2")
    # LSH side store-read when built, like the full audit (VERDICT r10 #5)
    l = tracked_persist(
        lsh_pairs(spark, sf_dir).filter(audit_sample_pred(F.col("d1")))
    ).select("d1", "d2")
    j = t.withColumn("in_t", F.lit(1)).join(
        l.withColumn("in_l", F.lit(1)), ["d1", "d2"], "full_outer"
    )
    agg = j.agg(
        F.count("in_t").cast("long").alias("n_baseline"),
        F.count("in_l").cast("long").alias("n_lsh"),
        F.sum(
            F.when(F.col("in_t").isNotNull() & F.col("in_l").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_common"),
    )
    recall = F.round(
        F.col("n_common").cast("double") / F.greatest(F.col("n_baseline"), F.lit(1)),
        6,
    )
    return agg.select(
        "n_baseline",
        "n_lsh",
        "n_common",
        recall.alias("recall"),
        F.round(
            F.sqrt(
                recall * (F.lit(1.0) - recall)
                / F.greatest(F.col("n_baseline"), F.lit(1))
            ),
            6,
        ).alias("recall_stderr"),
    )


# ---------------------------------------------------------------------------
# planted-pair LSH recall: recall on TRUE near-duplicates at any width
# ---------------------------------------------------------------------------

PLANT_N = 50
PLANT_EPS = 0.001
PLANT_OFF = 900_000


def _planted_recall_sql() -> str:
    from .similarity import (
        DIM,
        _RHP_BANDS_SQL,
        _RHP_PARAMS_SQL,
        _rhp_mp_probe_ctes,
    )

    planted = f"""(
      SELECT vec_id + {PLANT_OFF} AS vec_id,
             list_transform(generate_series(1, {DIM}),
                            j -> CAST(embedding[j] AS DOUBLE)
                                 + CASE WHEN j = 1 THEN {PLANT_EPS}
                                        ELSE 0.0 END) AS embedding
      FROM embeddings WHERE vec_id < {PLANT_N}
    ) planted"""
    return f"""
    WITH p AS ({_RHP_PARAMS_SQL}),
    bands AS ({_RHP_BANDS_SQL}),
    {_rhp_mp_probe_ctes(planted)},
    rec AS (
      SELECT DISTINCT a.vec_id - {PLANT_OFF} AS src
      FROM pb a JOIN bands b
        ON a.tbl = b.tbl AND a.bucket = b.bucket
       AND b.vec_id = a.vec_id - {PLANT_OFF}
    )
    SELECT CAST({PLANT_N} AS BIGINT) AS n_planted,
           CAST((SELECT count(*) FROM rec) AS BIGINT) AS n_recovered,
           round((SELECT count(*) FROM rec)::DOUBLE / {PLANT_N}, 6) AS recall
    """


@register("embedding_lsh_planted_recall_audit", _planted_recall_sql())
@memoize_df
def embedding_lsh_planted_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall of the multi-probe RHP index on PLANTED true duplicates —
    the pairs production dedup actually targets. The multiprobe_curve
    measurement (BENCH_SCALE) shows pair recall at the 0.4-cosine
    threshold decaying as the ladder widens: correct LSH behavior, since
    that synthetic threshold sits at cosine ≈ 0.5 where p_bit ≈ 0.67 and
    a wide table keeps only 0.67^K of true pairs per probe. THIS audit
    completes the story from the other side: each of PLANT_N corpus
    vectors is cloned with a +0.001 perturbation on one component
    (cosine ≈ 1, p_bit ≈ 1), probed through the SAME multi-probe path
    against the SAME stored band table, and counted as recovered if its
    source vector shares a probed bucket. For true duplicates recall
    holds ~1.0 at ANY ladder width — the widening that prices weak pairs
    away costs the actual dedup target nothing.

    Plan: PLANT_N map-side clones, the shared multi-probe bucket
    derivation (rhp_multiprobe_buckets), one join against the stored
    band table keyed (tbl, bucket) with the source-identity filter, one
    distinct + count. At 100 TB this is the canary the index-maintenance
    job runs per rung crossing: plant, probe, alert on misses.

    Reads the materialized "planted" pair set when the embedding pair
    store is built (VERDICT r11 #4 — the probe chain re-ran per cold
    read); the store is built FROM planted_recovered_pairs below, and
    the oracle re-derives the whole plant-probe-recover chain from
    scratch, keeping the store hash-checked."""
    from .similarity import stored_pairs

    rec = tracked_persist(
        stored_pairs(spark, sf_dir, "planted", planted_recovered_pairs)
        .select(F.col("id_new").alias("src"))
        .distinct()
    )
    return rec.agg(F.count("*").cast("long").alias("n_recovered")).select(
        F.lit(PLANT_N).cast("long").alias("n_planted"),
        "n_recovered",
        F.round(
            F.col("n_recovered").cast("double") / PLANT_N, 6
        ).alias("recall"),
    )


def planted_recovered_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_new = src, id_corpus = src + PLANT_OFF, cos) for each planted
    clone RECOVERED by the multi-probe chain against the stored band
    table — the planted audit's candidate set, with the exact verify
    cosine of (source, clone) resolved like every other pair-set
    variant. This is the live derivation the embedding pair store's
    "planted" partition materializes."""
    from .params import corpus_count, rhp_bits_for
    from .similarity import (
        RHP_MP_FLIP,
        dot_fold,
        rhp_band_frame,
        rhp_multiprobe_buckets,
    )

    emb = _t(spark, sf_dir)["embeddings"]
    bits = rhp_bits_for(corpus_count(spark, sf_dir, "embeddings"))
    planted = emb.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + PLANT_OFF).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + F.when(i == 0, F.lit(PLANT_EPS)).otherwise(F.lit(0.0)),
        ).alias("embedding"),
    )
    probes = rhp_multiprobe_buckets(planted, bits, RHP_MP_FLIP)
    bands = tracked_persist(rhp_band_frame(spark, sf_dir))
    rec = tracked_persist(
        probes.join(
            bands.select(F.col("vec_id").alias("src"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .where(F.col("src") == F.col("vec_id") - PLANT_OFF)
        .select("src")
        .distinct()
    )
    e1 = emb.select(F.col("vec_id").alias("src"), F.col("embedding").alias("e1"))
    e2 = planted.select(
        (F.col("vec_id") - PLANT_OFF).alias("src"),
        F.col("embedding").alias("e2"),
    )
    cos = dot_fold(F.col("e1"), F.col("e2")) / (
        F.sqrt(dot_fold(F.col("e1"), F.col("e1")))
        * F.sqrt(dot_fold(F.col("e2"), F.col("e2")))
    )
    return (
        rec.join(e1, "src")
        .join(e2, "src")
        .select(
            F.col("src").alias("id_new"),
            (F.col("src") + PLANT_OFF).alias("id_corpus"),
            cos.alias("cos"),
        )
    )


def _embedding_lsh_flips1_recall_sql() -> str:
    from .similarity import _mp_sql_at

    return _pair_recall_sql(_mp_sql_at(1))


@register(
    "embedding_lsh_flips1_recall_audit", _embedding_lsh_flips1_recall_sql()
)
def embedding_lsh_flips1_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The middle point of the driver-readable recall curve (VERDICT r8
    #7 completed end-to-end): pair recall of the flips=1 (T=2)
    multi-probe chain vs the exact cosine baseline. Read the three
    audits together — single probe (embedding_lsh_recall_audit), T=2
    (this), T=4 (embedding_lsh_multiprobe_recall_audit, the headline) —
    and the recall-vs-probe-cost curve is a set of CORRECTNESS rows,
    not just a BENCH_SCALE measurement. Shares the memoized flips=1
    pair frame with the registered dedup_embedding_lsh_flips1 query
    (pay-once) and the one-full-outer-aggregate template with every
    audit in the family."""
    from .similarity import dedup_embedding_lsh_flips1

    return _pair_recall_frame(
        spark, sf_dir, dedup_embedding_lsh_flips1, variant="mp1"
    )
