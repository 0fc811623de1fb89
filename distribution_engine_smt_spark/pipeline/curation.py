"""Training-data curation operators over the ``documents`` table: sequence
packing, deterministic stratified sampling, rule-based quality filtering,
and near-dup cluster canonicalization.

These are the steps a large-scale LLM data pipeline runs AFTER dedup/stats:
decide what to keep (sample, filter), collapse near-dup clusters to one
canonical doc, and pack what's left into fixed token budgets for training.
All deterministic (md5-keyed sampling, doc_id ordering) so every operator
has an exact DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..driver_queries import _t, memoize_df, register
from .textstats import tokens

PACK_BUDGET = 2048       # tokens per training sequence bin
PACK_SHARD_SPAN = 10_000  # docs per packing shard (doc_id range width)
SAMPLE_HEX = "01234567"  # md5 first hex in this set = keep (50% rate)
MIN_TOKENS = 20          # quality floor: too-short docs
MAX_SUBWORD_RATIO = 8.0  # chars per whitespace token above this = junk


# ---------------------------------------------------------------------------
# sequence packing: contiguous greedy bins per source, fixed token budget
# ---------------------------------------------------------------------------
def pack_sequences_df(
    docs: DataFrame,
    budget: int = PACK_BUDGET,
    shard_span: int = PACK_SHARD_SPAN,
) -> DataFrame:
    """Assign each doc to a training-sequence bin: docs stream in doc_id
    order within a (source, shard) and a bin closes when the running token
    count crosses ``budget`` (streaming-chunking packing — a doc straddling
    the boundary belongs to the bin where it starts).

    Scale: the window partitions on (source, shard), where shard is a
    STABLE doc_id range (doc_id div shard_span) — packing only needs
    contiguity WITHIN a shard, not across the corpus, so a dominant source
    (common-crawl-like, most of a 100 TB corpus) fans out over
    ceil(docs/shard_span) parallel window partitions instead of
    serializing through one task.  Bins are shard-local; (source, shard,
    bin) is the training-sequence key.
    """
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .withColumn("shard", F.floor(F.col("doc_id") / F.lit(shard_span)).cast("long"))
        .withColumn(
            "bin",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / budget
            ).cast("int"),
        )
        .select("doc_id", "source", "n_tokens", "shard", "bin")
        .orderBy(F.col("source").asc(), F.col("doc_id").asc())
    )


@register(
    "pack_sequences",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(doc_id // {PACK_SHARD_SPAN} AS BIGINT) AS shard,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens, shard,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM t
    )
    SELECT doc_id, source, n_tokens, shard,
           CAST(cum_before // {PACK_BUDGET} AS INT) AS bin
    FROM c
    ORDER BY source ASC, doc_id ASC
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded sequence packing over the documents table — see
    :func:`pack_sequences_df` for the scale rationale; the oracle twin
    shards identically (doc_id // span) so the hash matches exactly."""
    return pack_sequences_df(_t(spark, sf_dir)["documents"])


# ---------------------------------------------------------------------------
# stratified sampling: deterministic md5 coin per doc, accounting per source
# ---------------------------------------------------------------------------
@register(
    "stratified_sample",
    f"""
    SELECT source,
           count(*) AS n_total,
           CAST(count(*) FILTER (
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN {tuple(SAMPLE_HEX)}) AS BIGINT) AS n_kept,
           min(doc_id) FILTER (
             WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                   IN {tuple(SAMPLE_HEX)}) AS first_kept
    FROM documents
    GROUP BY source
    ORDER BY source ASC
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 50% sample: keep when the first hex digit of
    md5(doc_id) falls in SAMPLE_HEX. Unlike rand()-based sampling this is
    reproducible across engines and runs, re-runnable incrementally (a doc's
    fate never changes), and per-stratum accountable. Map-side coin +
    one aggregate — no extra shuffle beyond the groupBy."""
    t = _t(spark, sf_dir)
    keep = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1
    ).isin(*SAMPLE_HEX)
    return (
        t["documents"]
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(keep, 1)).cast("long").alias("n_kept"),
            F.min(F.when(keep, F.col("doc_id"))).alias("first_kept"),
        )
        .orderBy(F.col("source").asc())
    )


# ---------------------------------------------------------------------------
# quality filter: first-failing-rule verdict per doc
# ---------------------------------------------------------------------------
@register(
    "quality_filter",
    f"""
    WITH q AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             n_chars
      FROM documents
    )
    SELECT doc_id,
           CASE
             WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
             WHEN n_chars > {MAX_SUBWORD_RATIO} * n_tokens THEN 'junk_tokens'
             ELSE 'keep'
           END AS verdict
    FROM q
    ORDER BY doc_id ASC
    """,
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-cascade keep/drop decision with the FIRST failing rule as the
    audit reason (too_short, junk chars-per-token ratio). Map-only pass;
    at scale the verdict column is written back and every downstream
    operator filters on verdict = 'keep' with predicate pushdown."""
    t = _t(spark, sf_dir)
    n_tokens = F.size(tokens(F.col("text"))).cast("long")
    return (
        t["documents"]
        .select(
            "doc_id",
            F.when(n_tokens < MIN_TOKENS, F.lit("too_short"))
            .when(
                F.col("n_chars") > F.lit(MAX_SUBWORD_RATIO) * n_tokens,
                F.lit("junk_tokens"),
            )
            .otherwise(F.lit("keep"))
            .alias("verdict"),
        )
        .orderBy(F.col("doc_id").asc())
    )


# ---------------------------------------------------------------------------
# near-dup clusters: connected components over the MinHash-LSH pair set
# ---------------------------------------------------------------------------
_CLUSTER_SQL = """
    WITH RECURSIVE pairs AS (
      -- the verified near-dup pairs (same construction as dedup_minhash_lsh)
      {pairs_sql}
    ),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    )
    SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
    FROM reach
    GROUP BY node
    ORDER BY doc_id ASC
"""


def _lsh_pairs_sql() -> str:
    from .dedup import _MINHASH_LSH_SQL

    return _MINHASH_LSH_SQL.replace("ORDER BY d1 ASC, d2 ASC", "")


def cluster_labels(pairs: DataFrame) -> DataFrame:
    """DataFrame-level core: connected-component labels (min node id) for
    an undirected pair set ``(d1, d2)``. See ``dedup_clusters`` for the
    algorithm notes; tests drive this directly with adversarial graphs
    (long chains) the LSH corpus doesn't produce."""
    edges = pairs.unionByName(
        pairs.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("d1").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for _ in range(8):  # with pointer jumping: converges for radius < 2^8
        neighbor_min = (
            edges.join(labels, edges["d2"] == labels["node"])
            .groupBy(edges["d1"].alias("node2"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        labels = labels.join(
            neighbor_min, labels["node"] == F.col("node2"), "left"
        ).select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
        )
        # pointer jumping (label-path compression): replace each label with
        # ITS label, doubling the propagation distance per round — plain
        # one-hop min-propagation needs O(radius) rounds and a long LSH
        # chain (d0~d1~...~dN, min id at one end) would exceed any fixed
        # bound, diverging from the oracle's exact recursive closure
        parent = labels.select(
            F.col("node").alias("p_node"), F.col("lbl").alias("p_lbl")
        )
        labels = (
            labels.join(parent, labels["lbl"] == F.col("p_node"), "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("p_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("lbl").cast("long").alias("cluster_id")
    ).orderBy(F.col("doc_id").asc())


@register("dedup_clusters", _CLUSTER_SQL.format(pairs_sql=_lsh_pairs_sql()))
@memoize_df
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse near-dup pairs into clusters: iterative min-label
    propagation with pointer jumping (each round takes a neighbor-min hop
    AND compresses labels to their labels' labels, doubling propagation
    distance — 8 rounds cover any component of radius < 2^8), then
    cluster_id = min doc_id reachable. The canonical keep-doc per cluster
    is min(doc_id) == cluster_id, matching dedup_exact_keep_first's rule.

    Scale: each round is one self-join shuffle keyed by doc_id over the
    EDGE set (tiny relative to the corpus: only docs with a near-dup);
    localCheckpoint truncates lineage per round like operators/recursive.py.
    The edges come from the materialized pair store when one exists
    (dedup_pairs_with_sources), so clustering never re-derives the LSH
    chain in a session that already ran the dedup job; with a CLUSTER
    store (the labels are a pure function of the pairs) even the
    sequential 8-round propagation is skipped — one parquet read.
    """
    from ..operators import storage
    from .dedup import dedup_pairs_with_sources

    stored = storage.read_dedup_clusters(spark, sf_dir)
    if stored is not None:
        return stored.orderBy(F.col("doc_id").asc())
    return cluster_labels(dedup_pairs_with_sources(spark, sf_dir).select("d1", "d2"))


_CLUSTER_STATS_SQL = f"""
    WITH clusters AS ({{clusters_sql}}),
    sizes AS (SELECT cluster_id, count(*) AS n FROM clusters GROUP BY cluster_id)
    SELECT CAST(n AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n) AS BIGINT) AS n_docs
    FROM sizes GROUP BY n
    ORDER BY cluster_size ASC
"""


@register(
    "dedup_cluster_stats",
    _CLUSTER_STATS_SQL.format(
        clusters_sql=_CLUSTER_SQL.format(pairs_sql=_lsh_pairs_sql())
    ),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-family size histogram — the audit that decides whether dedup
    even matters for a corpus: how many near-dup clusters of each size
    exist and how many documents they hold (docs_removed per size bucket
    = n_docs - n_clusters under any one-survivor policy). Rides the
    memoized dedup_clusters — with a cluster store this is a parquet
    read + two small aggregates; without one it derives through the pair
    chain like every other consumer. Small-key aggregate (|distinct
    sizes| is tiny), decimal-free, deterministic in both engines."""
    sizes = (
        dedup_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        sizes.groupBy(F.col("n").cast("long").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum("n").cast("long").alias("n_docs"),
        )
        .orderBy(F.col("cluster_size").asc())
    )


# ---------------------------------------------------------------------------
# temperature-balanced sampling: downsample dominant languages, sqrt scaling
# ---------------------------------------------------------------------------
_HEX8 = 16 ** 8  # 8 md5 hex chars = 32-bit coin


@register(
    "balanced_sample",
    f"""
    WITH counts AS (
      SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
    ),
    rates AS (
      SELECT lang, n_lang,
             sqrt(CAST(n_lang AS DOUBLE) / max(n_lang) OVER ()) AS rate
      FROM counts
    ),
    coin AS (
      SELECT doc_id, lang,
             list_reduce(list_transform(generate_series(1, 8),
               i -> CAST(strpos('0123456789abcdef',
                                substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                    AS BIGINT)),
               (a, x) -> a * 16 + x) AS hv
      FROM documents
    )
    SELECT c.doc_id, c.lang, round(r.rate, 6) AS rate,
           (CAST(hv AS DOUBLE) / {_HEX8}.0) < r.rate AS keep
    FROM coin c JOIN rates r ON c.lang = r.lang
    ORDER BY c.doc_id ASC
    """,
)
def balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling (alpha = 0.5): keep-rate per language is
    sqrt(n_lang / n_max), so the dominant language is downsampled toward a
    flatter distribution while the smallest languages keep everything —
    the standard multilingual-corpus balancing step.

    Determinism: the coin is the first 32 bits of md5(doc_id) (a doc's
    fate never changes across runs/engines); sqrt is IEEE correctly-rounded
    in both engines (why alpha is 0.5 and not an arbitrary pow()).
    Scale: per-language counts are a tiny aggregate broadcast back into
    the map-side coin pass — no shuffle touches the corpus itself.
    """
    t = _t(spark, sf_dir)
    docs = t["documents"]
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    n_max = counts.agg(F.max("n_lang").alias("n_max"))
    rates = counts.crossJoin(F.broadcast(n_max)).select(
        "lang",
        F.sqrt(F.col("n_lang").cast("double") / F.col("n_max")).alias("rate"),
    )
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    return (
        docs.select("doc_id", "lang", hv.alias("hv"))
        .join(F.broadcast(rates), "lang")
        .select(
            "doc_id",
            "lang",
            F.round(F.col("rate"), 6).alias("rate"),
            (F.col("hv").cast("double") / F.lit(float(_HEX8)) < F.col("rate")).alias(
                "keep"
            ),
        )
        .orderBy(F.col("doc_id").asc())
    )


# ---------------------------------------------------------------------------
# document chunking: fixed-size character chunks for context-window packing
# ---------------------------------------------------------------------------
CHUNK_CHARS = 500


def chunk_frame(docs: DataFrame) -> DataFrame:
    """Frame-level core of the chunker: (doc_id, chunk_idx, chunk_len,
    chunk_md5) for any (doc_id, text) frame — the reusable piece the
    batch query, the excision decision, and the streaming chunk gate all
    share. Map-side only."""
    n_chunks = F.greatest(F.length("text") - 1, F.lit(0)) / CHUNK_CHARS
    idx = F.sequence(F.lit(0), F.floor(n_chunks).cast("int"))
    exploded = docs.select(
        "doc_id",
        F.col("text"),
        F.posexplode(idx).alias("chunk_idx", "_i"),
    )
    piece = F.col("text").substr(
        F.col("chunk_idx") * CHUNK_CHARS + 1, F.lit(CHUNK_CHARS)
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.length(piece).alias("chunk_len"),
        F.md5(piece.cast("binary")).alias("chunk_md5"),
    )


@register(
    "chunk_documents",
    f"""
    SELECT doc_id,
           CAST(i AS INT) AS chunk_idx,
           length(substr(text, i * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS chunk_len,
           md5(substr(text, i * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS chunk_md5
    FROM documents,
         unnest(generate_series(0, CAST(greatest(length(text) - 1, 0) // {CHUNK_CHARS} AS BIGINT))) t(i)
    ORDER BY doc_id ASC, chunk_idx ASC
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed 500-char chunks (the pre-tokenization
    chunking step for embedding / context-window pipelines). Entirely
    map-side: sequence + transform + posexplode, no shuffle except the
    output ORDER BY; at 100 TB this runs as a single scan whose output is
    larger than its input, which is exactly when you want no exchange in
    the middle. Chunks are reported as (len, md5) so the oracle row stays
    narrow while still pinning the exact chunk bytes.
    """
    return chunk_frame(
        _t(spark, sf_dir)["documents"].select("doc_id", "text")
    ).orderBy(F.col("doc_id").asc(), F.col("chunk_idx").asc())


_CHUNK_SQL = f"""
    SELECT doc_id,
           md5(substr(text, i * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS chunk_md5
    FROM documents,
         unnest(generate_series(0, CAST(greatest(length(text) - 1, 0) // {CHUNK_CHARS} AS BIGINT))) t(i)
"""


@register(
    "chunk_dedup",
    f"""
    WITH c AS ({_CHUNK_SQL}),
    cdf AS (SELECT chunk_md5, count(DISTINCT doc_id) AS ndocs FROM c GROUP BY chunk_md5)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN cdf.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           round(sum(CASE WHEN cdf.ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS dup_ratio
    FROM c JOIN cdf USING (chunk_md5)
    GROUP BY c.doc_id
    ORDER BY c.doc_id ASC
    """,
)
def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level duplication audit: the fraction of each document's
    fixed-size chunks that also appear verbatim in ANOTHER document —
    the partial-overlap detector between exact whole-doc dedup (misses
    any edit) and near-dup LSH (a long doc quoting a short one can sit
    under the Jaccard threshold). Training pipelines use this to excise
    copy-pasted blocks rather than whole documents.

    Scale: two shuffles — the chunk-hash document-frequency aggregate
    (map-side combinable; the per-chunk payload is a 32-char md5, never
    the text) and the df join back keyed on the same hash, then one
    doc_id aggregate. Duplicate chunks WITHIN one doc don't count
    (count(DISTINCT doc_id) > 1), matching the cross-document leakage
    semantics."""
    c = chunk_documents(spark, sf_dir).select("doc_id", "chunk_md5")
    cdf = c.groupBy("chunk_md5").agg(
        F.countDistinct("doc_id").alias("ndocs")
    )
    dup = F.when(F.col("ndocs") > 1, 1).otherwise(0)
    return (
        c.join(cdf, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(dup).cast("long").alias("n_dup_chunks"),
            F.round(F.sum(dup).cast("double") / F.count("*"), 6).alias("dup_ratio"),
        )
        .orderBy(F.col("doc_id").asc())
    )


def run_chunk_gate_stream(
    spark,
    source_dir: str,
    schema,
    corpus_chunks: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    max_dup_ratio: float = 0.5,
):
    """Streaming chunk-level dedup gate: arriving documents are admitted
    or rejected by the fraction of their fixed-size chunks already known
    — to the indexed corpus OR to any previously ADMITTED arrival (the
    admitted batches' chunk hashes accumulate under ``{store}/chunks``,
    so a wave-2 copy of a wave-1 arrival is caught; rejected docs never
    pollute the index). Verdicts land under
    ``{store}/verdicts/batch_id=N`` as (doc_id, n_chunks, n_dup,
    dup_ratio, admitted).

    Replay safety (foreachBatch is at-least-once): both writes overwrite
    their own batch partition, and the known-chunk read EXCLUDES the
    current batch's own partition — a replayed batch whose chunk hashes
    landed before the crash would otherwise see its own content and flip
    every verdict to rejected. Scale: the chunk set is md5 hashes only
    (32 bytes/chunk, never text); the membership probe is one hash-keyed
    left join with the batch side small, and the corpus side would be
    bucketed by chunk_md5 at 100 TB."""

    def gate(batch_df, batch_id: int):
        import os as _os

        ch = chunk_frame(batch_df.select("doc_id", "text")).select(
            "doc_id", "chunk_md5"
        )
        known = corpus_chunks.select("chunk_md5")
        chunks_root = f"{store_dir}/chunks"
        if _os.path.isdir(chunks_root):
            prior = (
                spark.read.parquet(chunks_root)
                .filter(F.col("batch_id").cast("string") != str(batch_id))
                .select("chunk_md5")
            )
            known = known.unionByName(prior)
        known = known.distinct().withColumn("known", F.lit(1))
        # within-batch rule: a chunk also counts as duplicated when a
        # LOWER-doc_id document in the same micro-batch contains it (the
        # dedup family's min-id owner rule, single-pass deterministic —
        # ownership ignores the owner's own verdict; an iterative
        # within-batch adjudication would be order-dependent). Without
        # this, two copies arriving in one batch both pass the gate.
        batch_owner = ch.groupBy("chunk_md5").agg(
            F.min("doc_id").alias("batch_owner")
        )
        dup = F.col("known").isNotNull() | (F.col("batch_owner") < F.col("doc_id"))
        verdict = (
            ch.join(known, "chunk_md5", "left")
            .join(batch_owner, "chunk_md5")
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("long").alias("n_chunks"),
                F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_dup"),
            )
            .select(
                "doc_id",
                "n_chunks",
                "n_dup",
                F.round(
                    F.col("n_dup").cast("double") / F.col("n_chunks"), 6
                ).alias("dup_ratio"),
                (
                    F.col("n_dup").cast("double") / F.col("n_chunks")
                    < max_dup_ratio
                ).alias("admitted"),
            )
        )
        verdict.write.mode("overwrite").parquet(
            f"{store_dir}/verdicts/batch_id={batch_id}"
        )
        admitted_chunks = (
            ch.join(
                verdict.filter(F.col("admitted")).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            .select("chunk_md5")
            .distinct()
        )
        admitted_chunks.write.mode("overwrite").parquet(
            f"{store_dir}/chunks/batch_id={batch_id}"
        )

    raw = spark.readStream.schema(schema).parquet(source_dir)
    return (
        raw.select("doc_id", "text")
        .writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


@register(
    "chunk_excise",
    f"""
    WITH c AS (
      SELECT doc_id, CAST(i AS INT) AS chunk_idx,
             md5(substr(text, i * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS chunk_md5
      FROM documents,
           unnest(generate_series(0, CAST(greatest(length(text) - 1, 0) // {CHUNK_CHARS} AS BIGINT))) t(i)
    ),
    own AS (SELECT chunk_md5, min(doc_id) AS owner FROM c GROUP BY chunk_md5),
    k AS (
      SELECT c.doc_id, c.chunk_idx, c.chunk_md5,
             (o.owner = c.doc_id) AS kept
      FROM c JOIN own o USING (chunk_md5)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(string_agg(CASE WHEN kept THEN chunk_md5 END, ''
                          ORDER BY chunk_idx ASC)) AS clean_md5
    FROM k GROUP BY doc_id
    ORDER BY doc_id ASC
    """,
)
def chunk_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation ACTION behind chunk_dedup's audit: excise duplicated
    chunks, keeping each distinct chunk only in its canonical owner (the
    lowest doc_id containing it — the same min-id survivor rule the
    whole dedup family uses; the owner keeps all its occurrences, every
    other doc loses the chunk). Per doc: chunk counts before/after and
    ``clean_md5`` — the md5 over the KEPT chunk hashes in position order,
    which pins the exact post-excision byte sequence in a narrow oracle
    row without shipping text. A doc stripped of every chunk yields NULL
    (both engines: empty aggregation input).

    Scale: one chunk-hash aggregate for ownership (map-side combinable,
    md5 payloads only), the ownership join back on the same key, one
    doc_id fold. The rewrite itself (substr re-assembly from kept
    indices) is map-only at write time — this query is the decision +
    fingerprint layer a 100 TB excision job executes from."""
    c = chunk_documents(spark, sf_dir).select("doc_id", "chunk_idx", "chunk_md5")
    own = c.groupBy("chunk_md5").agg(F.min("doc_id").alias("owner"))
    k = c.join(own, "chunk_md5").select(
        "doc_id", "chunk_idx", "chunk_md5",
        (F.col("owner") == F.col("doc_id")).alias("kept"),
    )
    kept_structs = F.collect_list(
        F.when(F.col("kept"), F.struct("chunk_idx", "chunk_md5"))
    )  # when() yields NULL for excised chunks; collect_list skips NULLs
    folded = k.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.array_sort(kept_structs).alias("kept_arr"),
    )
    joined = F.array_join(
        F.transform(F.col("kept_arr"), lambda s: s["chunk_md5"]), ""
    )
    return (
        folded.select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(
                F.size("kept_arr") > 0, F.md5(joined.cast("binary"))
            ).alias("clean_md5"),
        )
        .orderBy(F.col("doc_id").asc())
    )


# ---------------------------------------------------------------------------
# leakage-free train/val/test split: split by dup-group, not by document
# ---------------------------------------------------------------------------
@register(
    "leakage_free_split",
    """
    WITH g AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY md5(text)) AS group_rep
      FROM documents
    ),
    coin AS (
      SELECT doc_id, group_rep,
             list_reduce(list_transform(generate_series(1, 8),
               i -> CAST(strpos('0123456789abcdef',
                                substr(md5(CAST(group_rep AS VARCHAR)), i, 1)) - 1
                    AS BIGINT)),
               (a, x) -> a * 16 + x) AS hv
      FROM g
    )
    SELECT doc_id, group_rep,
           CASE WHEN hv % 10 < 8 THEN 'train'
                WHEN hv % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM coin
    ORDER BY doc_id ASC
    """,
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that can never leak a duplicate across
    splits: the coin is thrown on the duplicate GROUP's representative
    (min doc_id per content hash), not on the document, so every copy of
    the same text lands in the same split. Splitting i.i.d. per document —
    the common mistake — puts near-identical train/eval pairs in a corpus
    with any duplication and inflates eval scores.

    Determinism: group representative via the md5(text) window; the split
    coin is the first 32 bits of md5(representative) — reproducible across
    runs, engines, and incremental re-runs (adding documents never moves an
    existing group). 80/10/10 by hv mod 10.

    Scale: ONE corpus shuffle (the content-hash window; at 100 TB this is
    the same exchange the exact-dedup pass already does, so a pipeline
    materializes both from one shuffle). The coin and split label are
    map-side expressions on top. Extending the group key from exact-hash
    to near-dup cluster id (dedup_clusters) changes only the window key.
    """
    t = _t(spark, sf_dir)
    return (
        split_manifest(t["documents"])
        .select("doc_id", "group_rep", "split")
        .orderBy(F.col("doc_id").asc())
    )


# ---------------------------------------------------------------------------
# capstone: the composed end-to-end curation decision per document
# ---------------------------------------------------------------------------
@register(
    "curated_corpus",
    f"""
    WITH q AS (
      SELECT doc_id, lang, n_chars,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
             min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
      FROM documents
    ),
    g AS ({{ngram_sql}}),
    bench AS (SELECT DISTINCT h FROM g WHERE doc_id % {{bench_mod}} = 0),
    hits AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT doc_id, h FROM g WHERE doc_id % {{bench_mod}} <> 0) c
      JOIN bench b USING (h)
    ),
    rates AS (
      SELECT lang, sqrt(CAST(count(*) AS DOUBLE) / max(count(*)) OVER ()) AS rate
      FROM documents GROUP BY lang
    ),
    coin AS (
      SELECT doc_id,
             list_reduce(list_transform(generate_series(1, 8),
               i -> CAST(strpos('0123456789abcdef',
                                substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                    AS BIGINT)),
               (a, x) -> a * 16 + x) AS hv
      FROM documents
    )
    SELECT q.doc_id,
           CASE
             WHEN q.doc_id % {{bench_mod}} = 0 THEN 'bench_holdout'
             WHEN n_tokens < {MIN_TOKENS}
                  OR n_chars > {MAX_SUBWORD_RATIO} * n_tokens THEN 'low_quality'
             WHEN q.doc_id > canon_id THEN 'duplicate'
             WHEN hits.doc_id IS NOT NULL THEN 'contaminated'
             WHEN (CAST(hv AS DOUBLE) / {{hex8}}.0) >= rate THEN 'sampled_out'
             ELSE 'kept'
           END AS reason
    FROM q
    LEFT JOIN hits ON q.doc_id = hits.doc_id
    JOIN rates ON q.lang = rates.lang
    JOIN coin ON q.doc_id = coin.doc_id
    ORDER BY q.doc_id ASC
    """.format(
        ngram_sql=__import__("distribution_engine_smt_spark.pipeline.decontam",
                             fromlist=["_ngram_sql"])._ngram_sql(8),
        bench_mod=5,
        hex8=16 ** 8,
    ),
)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-set decision — every curation stage composed
    into one first-failing-reason verdict per document: bench holdout >
    quality rules > exact-dup canonicalization > benchmark contamination >
    temperature sampling. This is the query a data pipeline materializes as
    its manifest; downstream training jobs filter reason = 'kept' with
    predicate pushdown.

    Plan shape: one corpus scan feeds the quality expressions and the
    content-hash window; the benchmark n-gram set and the per-language
    rate table (both tiny) broadcast back in; the only corpus-keyed
    shuffles are the md5(text) window and the n-gram hit count — each
    keyed by doc-identity columns, never all-pairs.
    """
    from .decontam import BENCH_MOD, NGRAM_N, word_ngrams
    from .textstats import tokens

    docs = _t(spark, sf_dir)["documents"]
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.min("doc_id").over(w).alias("canon_id"),
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                word_ngrams(F.col("text"), NGRAM_N),
                lambda g: F.md5(g.cast("binary")),
            )
        ).alias("h"),
    )
    bench = grams.filter(F.col("doc_id") % BENCH_MOD == 0).select("h").distinct()
    hits = (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "h")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_lang"))
    n_max = counts.agg(F.max("n_lang").alias("n_max"))
    rates = counts.crossJoin(F.broadcast(n_max)).select(
        "lang", F.sqrt(F.col("n_lang").cast("double") / F.col("n_max")).alias("rate")
    )
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    reason = (
        F.when(F.col("doc_id") % BENCH_MOD == 0, F.lit("bench_holdout"))
        .when(
            (F.col("n_tokens") < MIN_TOKENS)
            | (F.col("n_chars") > F.lit(MAX_SUBWORD_RATIO) * F.col("n_tokens")),
            F.lit("low_quality"),
        )
        .when(F.col("doc_id") > F.col("canon_id"), F.lit("duplicate"))
        .when(F.col("hit"), F.lit("contaminated"))
        .when(
            F.col("hv").cast("double") / F.lit(float(_HEX8)) >= F.col("rate"),
            F.lit("sampled_out"),
        )
        .otherwise(F.lit("kept"))
    )
    return (
        base.join(hits, "doc_id", "left")
        .join(F.broadcast(rates), "lang")
        .withColumn("hv", hv)
        .select("doc_id", reason.alias("reason"))
        .orderBy(F.col("doc_id").asc())
    )


# ---------------------------------------------------------------------------
# incremental split-manifest maintenance (the production form of the split)
# ---------------------------------------------------------------------------


def _split_coin(rep_col) -> "F.Column":
    """train/val/test from the first 32 bits of md5(group representative) —
    the same coin leakage_free_split throws."""
    hv = F.conv(
        F.substring(F.md5(rep_col.cast("string").cast("binary")), 1, 8), 16, 10
    ).cast("long")
    return (
        F.when(hv % 10 < 8, F.lit("train"))
        .when(hv % 10 == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _split_coin_sql(rep: str) -> str:
    """Spark-SQL text twin of ``_split_coin`` (one parse; canonicalized-
    plan equality pinned in tests/test_sql_expr_parity.py)."""
    hv = (
        "CAST(conv(substring(md5(CAST(CAST(" + rep + " AS STRING) AS "
        "BINARY)), 1, 8), 16, 10) AS BIGINT)"
    )
    return (
        f"CASE WHEN {hv} % 10 < 8 THEN 'train' "
        f"WHEN {hv} % 10 = 8 THEN 'val' ELSE 'test' END"
    )


def split_manifest(docs: DataFrame) -> DataFrame:
    """Batch manifest build: (doc_id, h, group_rep, split) — the
    leakage_free_split assignment with the content hash retained so the
    manifest can be maintained incrementally (update_split_manifest)."""
    w = Window.partitionBy("h")
    return (
        docs.select(
            "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
        )
        .select("doc_id", "h", F.min("doc_id").over(w).alias("group_rep"))
        .withColumn("split", _split_coin(F.col("group_rep")))
    )


def update_split_manifest(manifest: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Incrementally extend a split manifest with newly arrived documents.

    Invariants (what makes the split stable under growth):
    - rows already in the manifest NEVER change — a document's fate is
      decided once;
    - a new document whose content hash matches an existing group joins
      that group: same representative, same split (no eval leakage from a
      duplicate arriving later);
    - a genuinely new group takes rep = min(doc_id among its new members)
      and throws the standard coin on it.

    When waves arrive in doc_id order this reproduces the batch build
    exactly (proven in tests); out-of-order arrival only pins an earlier
    arrival as rep — the coin stays deterministic per corpus history.

    Scale: the delta is hashed map-side; ONE shuffle windows the delta by
    hash (delta-sized, not corpus-sized); membership lookups are left-anti
    / left joins against the manifest keyed on the same hash — at 100 TB
    the manifest is bucketed by h on disk so both joins are shuffle-free
    on the manifest side. This is the standard grow-only dimension-merge
    shape (operators/merge.py) applied to the split table."""
    hashed = new_docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("h")
    )
    fresh = hashed.join(manifest.select("doc_id"), "doc_id", "left_anti")
    groups = manifest.select("h", "group_rep", "split").distinct()
    joined = fresh.join(groups, "h", "left")
    known = joined.where(F.col("split").isNotNull()).select(
        "doc_id", "h", "group_rep", "split"
    )
    unknown = joined.where(F.col("split").isNull()).select("doc_id", "h")
    w = Window.partitionBy("h")
    new_groups = (
        unknown.select("doc_id", "h", F.min("doc_id").over(w).alias("group_rep"))
        .withColumn("split", _split_coin(F.col("group_rep")))
    )
    return manifest.unionByName(known).unionByName(new_groups)


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

WSAMPLE_K = 5  # winners kept per source


@register(
    "weighted_sample",
    f"""
    WITH u AS (
      SELECT doc_id, source, n_chars,
             (CAST(list_reduce(list_transform(generate_series(1, 8),
                i -> CAST(strpos('0123456789abcdef',
                                 substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1
                     AS BIGINT)),
                (a, x) -> a * 16 + x) AS DOUBLE) + 1.0) / {_HEX8}.0 AS coin
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source,
             round(ln(coin) / CAST(n_chars AS DOUBLE), 6) AS es_key
      FROM u
    ),
    ranked AS (
      SELECT source, doc_id, es_key,
             row_number() OVER (PARTITION BY source
                                ORDER BY es_key DESC, doc_id ASC) AS rk
      FROM keyed
    )
    SELECT source, doc_id, es_key, rk
    FROM ranked
    WHERE rk <= {WSAMPLE_K}
    ORDER BY source ASC, rk ASC
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): each
    doc draws the deterministic md5 uniform u and competes with the key
    ln(u)/w (monotone in u^(1/w)); the top-{k} keys per source win —
    longer documents (w = n_chars) win proportionally more often, which is
    the quality- or length-weighted variant of the md5-coin samplers used
    elsewhere (stratified/balanced_sample are the unweighted cousins).

    Determinism: the uniform is (first 32 md5 bits + 1)/2^32 ∈ (0, 1] — no
    zero, so ln is finite; ln and one division are per-row single ops; the
    key is ROUNDED before ranking (round-before-rank, the cross-engine
    tie rule) with doc_id as the final tie-break.

    Scale: map-side keys + one per-source rank window; rk ≤ {k} compiles
    to WindowGroupLimit partial top-k before the exchange, so the shuffle
    carries ~{k} rows per (partition, source) — the same shape as
    tfidf_keywords. Sampling never touches a second corpus pass."""
    t = _t(spark, sf_dir)
    hv = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    coin = (hv.cast("double") + F.lit(1.0)) / F.lit(float(_HEX8))
    key = F.round(F.log(coin) / F.col("n_chars").cast("double"), 6)
    w = Window.partitionBy("source").orderBy(
        F.col("es_key").desc(), F.col("doc_id").asc()
    )
    return (
        t["documents"]
        .select("doc_id", "source", key.alias("es_key"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= WSAMPLE_K)
        .select("source", "doc_id", "es_key", "rk")
        .orderBy(F.col("source").asc(), F.col("rk").asc())
    )


weighted_sample.__doc__ = weighted_sample.__doc__.format(k=WSAMPLE_K)


# ---------------------------------------------------------------------------
# cluster representative selection: keep the best-quality member per
# near-dup cluster (the "which copy survives dedup" policy, quality-aware)
# ---------------------------------------------------------------------------
def _best_rep_sql() -> str:
    from .textstats import quality_sql_expr

    quality_sql = f"""
      SELECT doc_id, {quality_sql_expr()} AS quality
      FROM documents
    """
    clusters_sql = _CLUSTER_SQL.format(pairs_sql=_lsh_pairs_sql())
    return f"""
    WITH m AS (
      SELECT c.cluster_id, c.doc_id, q.quality
      FROM ({clusters_sql}) c JOIN ({quality_sql}) q USING (doc_id)
    ),
    agg AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
             max(quality) AS best_quality
      FROM m GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.n_members, a.best_quality,
           CAST(min(m.doc_id) AS BIGINT) AS best_doc
    FROM agg a JOIN m ON m.cluster_id = a.cluster_id
                     AND m.quality = a.best_quality
    GROUP BY a.cluster_id, a.n_members, a.best_quality
    ORDER BY a.cluster_id ASC
    """


@register("dedup_best_representative", _best_rep_sql())
def dedup_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivor policy: for each near-dup cluster
    (connected components over the verified MinHash pairs), keep the
    member with the highest quality score — not the arbitrary lowest id.
    This is the policy real pipelines want: among mirrored copies, the
    cleanest one survives.

    Composes two memoized operators (dedup_clusters, text_quality_score's
    rounded blend). The argmax is decomposed as max(quality) +
    min(doc_id)-at-max — both order-independent aggregates, so the
    result is engine- and partitioning-independent (quality is rounded
    to 6 decimals BEFORE comparison; a max_by would tie-break
    engine-specifically). Scale: clusters are a tiny fraction of the
    corpus (only docs in near-dup pairs), so every join here is
    broadcast-sized; the heavy lifting already happened in the LSH
    pass."""
    from .textstats import text_quality_score

    clusters = dedup_clusters(spark, sf_dir)
    quality = text_quality_score(spark, sf_dir)
    m = clusters.join(quality, "doc_id")
    agg = (
        m.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.max("quality").alias("best_quality"),
        )
        .select(
            F.col("cluster_id").alias("agg_cid"), "n_members", "best_quality"
        )
    )
    return (
        m.join(
            agg,
            (F.col("cluster_id") == F.col("agg_cid"))
            & (F.col("quality") == F.col("best_quality")),
        )
        .groupBy("agg_cid", "n_members", "best_quality")
        .agg(F.min("doc_id").cast("long").alias("best_doc"))
        .select(
            F.col("agg_cid").alias("cluster_id"),
            "n_members",
            "best_quality",
            "best_doc",
        )
        .orderBy(F.col("cluster_id").asc())
    )


# ---------------------------------------------------------------------------
# split-leakage audit: near-dup pairs crossing the train/val/test boundary
# ---------------------------------------------------------------------------


def _coin_case_sql(rep: str) -> str:
    """DuckDB twin of _split_coin over an arbitrary representative
    expression: first 32 bits of md5(rep) -> 80/10/10 CASE."""
    hv = (
        "list_reduce(list_transform(generate_series(1, 8), "
        "i -> CAST(strpos('0123456789abcdef', "
        f"substr(md5(CAST({rep} AS VARCHAR)), i, 1)) - 1 AS BIGINT)), "
        "(a, x) -> a * 16 + x)"
    )
    return (
        f"CASE WHEN {hv} % 10 < 8 THEN 'train' "
        f"WHEN {hv} % 10 = 8 THEN 'val' ELSE 'test' END"
    )


def _split_leakage_sql() -> str:
    cluster_sql = _CLUSTER_SQL.format(pairs_sql=_lsh_pairs_sql())
    return f"""
    WITH pairs AS ({_lsh_pairs_sql()}),
    labels AS (SELECT doc_id, cluster_id FROM ({cluster_sql}) t),
    reps AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS group_rep
      FROM documents
    ),
    splits AS (
      SELECT r.doc_id,
             {_coin_case_sql('r.doc_id')} AS doc_split,
             {_coin_case_sql('r.group_rep')} AS group_split,
             {_coin_case_sql('coalesce(l.cluster_id, r.doc_id)')} AS cluster_split
      FROM reps r LEFT JOIN labels l ON r.doc_id = l.doc_id
    ),
    j AS (
      SELECT s1.doc_split AS ds1, s2.doc_split AS ds2,
             s1.group_split AS gs1, s2.group_split AS gs2,
             s1.cluster_split AS cs1, s2.cluster_split AS cs2
      FROM pairs p
      JOIN splits s1 ON p.d1 = s1.doc_id
      JOIN splits s2 ON p.d2 = s2.doc_id
    ),
    agg AS (
      SELECT count(*) AS n_pairs,
             coalesce(sum(CASE WHEN ds1 <> ds2 THEN 1 ELSE 0 END), 0) AS doc_cross,
             coalesce(sum(CASE WHEN gs1 <> gs2 THEN 1 ELSE 0 END), 0) AS group_cross,
             coalesce(sum(CASE WHEN cs1 <> cs2 THEN 1 ELSE 0 END), 0) AS cluster_cross
      FROM j
    )
    SELECT 'cluster_coin' AS method, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(cluster_cross AS BIGINT) AS n_cross,
           CASE WHEN n_pairs > 0
                THEN round(cluster_cross::DOUBLE / n_pairs, 6)
                ELSE 0.0 END AS leak_rate FROM agg
    UNION ALL
    SELECT 'doc_coin', CAST(n_pairs AS BIGINT), CAST(doc_cross AS BIGINT),
           CASE WHEN n_pairs > 0
                THEN round(doc_cross::DOUBLE / n_pairs, 6)
                ELSE 0.0 END FROM agg
    UNION ALL
    SELECT 'group_coin', CAST(n_pairs AS BIGINT), CAST(group_cross AS BIGINT),
           CASE WHEN n_pairs > 0
                THEN round(group_cross::DOUBLE / n_pairs, 6)
                ELSE 0.0 END FROM agg
    ORDER BY method ASC
    """


@register("split_leakage_audit", _split_leakage_sql())
@memoize_df
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many VERIFIED near-dup pairs cross the train/val/test boundary
    under three split coins: per-document i.i.d. (``doc_coin`` — the
    common mistake), exact-content group representative (``group_coin`` —
    leakage_free_split's rule, immune to exact copies but not near-dups),
    and near-dup cluster representative (``cluster_coin`` — zero leakage
    by construction, the rule this audit motivates). The audit turns
    "our split is leakage-free" from an assumption into a measured
    number per split policy.

    Scale: the pair set (store-aware via dedup_pairs_with_sources) is
    orders of magnitude smaller than the corpus and is BROADCAST into the
    split-label lookups — the corpus-sized side never reshuffles beyond
    the content-hash window the split itself requires; cluster labels
    come from the materialized cluster store when present. One final
    single-row aggregate is exploded into the three method rows (integer
    sums — exact at any partitioning)."""
    from .dedup import dedup_pairs_with_sources

    pairs = dedup_pairs_with_sources(spark, sf_dir).select("d1", "d2")
    docs = _t(spark, sf_dir)["documents"]
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    reps = docs.select("doc_id", F.min("doc_id").over(w).alias("group_rep"))
    labels = dedup_clusters(spark, sf_dir)
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    splits = reps.join(labels, "doc_id", "left").selectExpr(
        "doc_id",
        _split_coin_sql("doc_id") + " AS doc_split",
        _split_coin_sql("group_rep") + " AS group_split",
        _split_coin_sql("coalesce(cluster_id, doc_id)") + " AS cluster_split",
    )
    s1 = splits.selectExpr(
        "doc_id AS d1", "doc_split AS ds1",
        "group_split AS gs1", "cluster_split AS cs1",
    )
    s2 = splits.selectExpr(
        "doc_id AS d2", "doc_split AS ds2",
        "group_split AS gs2", "cluster_split AS cs2",
    )
    half = s1.join(F.broadcast(pairs), "d1")
    j = s2.join(F.broadcast(half), "d2")
    cross = lambda a, b: f"sum(CAST(({a} != {b}) AS BIGINT))"  # noqa: E731
    # zero-pair corpora yield an explicit (n_pairs=0, n_cross=0, rate=0.0)
    # row per method, not NULLs: sum() over the empty aggregate is NULL in
    # both engines, so both twins coalesce the sums and gate the ratio
    agg = j.agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_pairs"),
        F.expr(f"coalesce({cross('ds1', 'ds2')}, 0) AS doc_cross"),
        F.expr(f"coalesce({cross('gs1', 'gs2')}, 0) AS group_cross"),
        F.expr(f"coalesce({cross('cs1', 'cs2')}, 0) AS cluster_cross"),
    )
    stacked = agg.selectExpr(
        "explode(array("
        "struct('cluster_coin' AS method, n_pairs, cluster_cross AS n_cross), "
        "struct('doc_coin' AS method, n_pairs, doc_cross AS n_cross), "
        "struct('group_coin' AS method, n_pairs, group_cross AS n_cross)"
        ")) AS r"
    ).select("r.*")
    return stacked.withColumn(
        "leak_rate",
        F.expr(
            "CASE WHEN n_pairs > 0 "
            "THEN round(CAST(n_cross AS DOUBLE) / n_pairs, 6) "
            "ELSE 0.0D END"
        ),
    ).orderBy(F.col("method").asc())
