"""Mergeable approximate-aggregate sketches: HyperLogLog distinct,
count-min frequency estimation, and KMV set operations (union /
intersection / Jaccard).

These are the aggregates that replace exact COUNT(DISTINCT) / exact
frequency tables when the key space no longer fits anywhere: the sketch
state is fixed-size, merges associatively across partitions (max for HLL
registers, cell-wise sum for CMS, min-merge for KMV), so every one of
them runs as ONE map-side-combinable shuffle regardless of input size.
The reference's Postgres DAO answers these questions with exact scans
(e.g. the holder/balance roll-ups in its market tables); at 100 TB the
sketch is the only shape that survives.

Determinism contract (the whole point of this file's design): every
sketch is built from md5 — the one hash both engines share — and all
register/bucket math stays in INTEGER space (bit-length via ``bin()``,
power-of-two sums via left shifts) until a single final float division,
so the DuckDB oracle replays the identical sketch bit-for-bit. No
engine-specific approx functions (approx_count_distinct / approx_top_k)
are used precisely because their sketches are not portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..driver_queries import _t, register
from ..functions.text import sql_word

# --- HyperLogLog layout -----------------------------------------------------
# 60-bit md5 prefix (15 hex chars): low P bits pick the register, the
# remaining W_BITS form the pattern whose leading-zero run is counted.
HLL_P = 5                      # 2^5 = 32 registers
HLL_M = 1 << HLL_P
HLL_W_BITS = 60 - HLL_P        # 55 pattern bits
HLL_RHO_MAX = HLL_W_BITS + 1   # rho for pattern == 0
HLL_ALPHA = 0.697              # standard alpha constant for m = 32

# --- count-min layout -------------------------------------------------------
CMS_DEPTH = 4                  # independent hash rows
CMS_WIDTH = 512                # buckets per row

# --- KMV --------------------------------------------------------------------
# same sketch family as temporal.kmv_distinct: one k and one hash-scale
# definition, so the two KMV queries can never silently desynchronize
from .temporal import _HEX15, KMV_K  # noqa: E402

# DuckDB-side md5 -> 60-bit bigint (identical to F.conv(substr(md5,1,15)))
_DUCK_HV = (
    "list_reduce(list_transform(generate_series(1, 15), "
    "i -> CAST(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1 "
    "AS BIGINT)), (a, x) -> a * 16 + x)"
)


# Spark-SQL text twin of the Column form below (one parse; see
# similarity.dot_fold_sql for the construction-cost rationale)
_HV_SQL = "CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"

# the shared user-id sketch key, as Spark-SQL text
HLL_KEY = "CAST(CAST(user_id AS STRING) AS BINARY)"


def _hv(col):
    """Spark-side 60-bit md5 hash, bit-identical to ``_DUCK_HV``.
    Accepts Spark-SQL text (preferred — one parse) or a Column."""
    if isinstance(col, str):
        return F.expr(_HV_SQL.format(expr=col))
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hll_registers(df: DataFrame, group_cols: list[str], key_expr: str) -> DataFrame:
    """HLL register table for key ``key_expr`` (Spark-SQL text) per group:
    (group..., bucket, m_j). No pre-distinct — max(rho) absorbs duplicate
    keys, so this is ONE map-side-combinable shuffle however often a key
    repeats. Registers merge by max, which is exactly what a streaming
    update-mode agg or a cross-partition combine does — shared by the
    batch query and ``streaming.windows.run_hll_stream``."""
    h = df.selectExpr("*", _HV_SQL.format(expr=key_expr) + " AS __hv")
    r = h.selectExpr(
        *group_cols,
        f"pmod(__hv, {HLL_M}) AS bucket",
        f"CASE WHEN (__hv div {HLL_M}) = 0 THEN {HLL_RHO_MAX} "
        f"ELSE {HLL_RHO_MAX} - length(bin(__hv div {HLL_M})) END AS rho",
    )
    return r.groupBy(*group_cols, "bucket").agg(F.expr("max(rho) AS m_j"))


def hll_estimate(reg: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold a register table into (group..., v_empty, s_int, est_distinct).
    Z is accumulated as an exact shifted-integer sum (engine-portable);
    one float division at the end, round(2); standard linear-counting
    branch below 2.5m when empty registers remain."""
    s = reg.groupBy(*group_cols).agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_present"),
        F.expr(
            f"sum(shiftleft(CAST(1 AS BIGINT), {HLL_RHO_MAX} - m_j)) + "
            f"(CAST({HLL_M} AS BIGINT) - count(*)) * "
            f"CAST({1 << HLL_RHO_MAX}L AS BIGINT) AS s_int"
        ),
    )
    e = s.selectExpr(
        *group_cols,
        f"CAST({HLL_M} AS BIGINT) - n_present AS v_empty",
        "s_int",
        f"{repr(HLL_ALPHA)}D * {repr(float(HLL_M * HLL_M))}D * "
        f"{repr(float(1 << HLL_RHO_MAX))}D / CAST(s_int AS DOUBLE) AS raw_e",
    )
    est = (
        f"CASE WHEN raw_e <= {repr(2.5 * HLL_M)}D AND v_empty > 0 "
        f"THEN {HLL_M} * ln({repr(float(HLL_M))}D / CAST(v_empty AS DOUBLE)) "
        f"ELSE raw_e END"
    )
    return e.selectExpr(
        *group_cols, "v_empty", "s_int", f"round({est}, 2) AS est_distinct"
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct count per event_type
# ---------------------------------------------------------------------------
@register(
    "hll_distinct",
    f"""
    WITH h AS (
      SELECT event_type,
             {_DUCK_HV.format(expr="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    r AS (
      SELECT event_type, hv % {HLL_M} AS bucket,
             CASE WHEN hv // {HLL_M} = 0 THEN {HLL_RHO_MAX}
                  ELSE {HLL_RHO_MAX} - length(bin(hv // {HLL_M}))
             END AS rho
      FROM h
    ),
    reg AS (
      SELECT event_type, bucket, max(rho) AS m_j
      FROM r GROUP BY event_type, bucket
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_present,
             CAST(sum(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - m_j))
                  + (CAST({HLL_M} AS BIGINT) - count(*))
                    * (CAST(1 AS BIGINT) << {HLL_RHO_MAX}) AS BIGINT) AS s_int
      FROM reg GROUP BY event_type
    ),
    e AS (
      SELECT event_type, n_present, s_int,
             CAST({HLL_M} AS BIGINT) - n_present AS v_empty,
             CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
               * CAST({1 << HLL_RHO_MAX} AS DOUBLE)
               / CAST(s_int AS DOUBLE) AS raw_e
      FROM s
    ),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, e.v_empty, e.s_int,
           round(CASE WHEN e.raw_e <= {2.5 * HLL_M!r} AND e.v_empty > 0
                      THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE)
                                        / CAST(e.v_empty AS DOUBLE))
                      ELSE e.raw_e END, 2) AS est_distinct,
           ex.n_exact
    FROM e JOIN ex ON e.event_type = ex.event_type
    ORDER BY e.event_type ASC
    """,
)
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog COUNT(DISTINCT) per event_type, replayable in any
    engine with md5 (reference analog: the exact holder-count scans in
    its market DAO — e.g. ``server/app.py``'s token-holder roll-ups —
    which stop being viable past memory scale).

    Register math stays integer end-to-end: bucket = low 5 hash bits,
    rho = leading-zero count of the remaining 55 bits via ``bin()``
    string length (both engines print unpadded binary), register = max
    rho, and Z is accumulated as ``sum(1 << (rho_max - M_j))`` — exact
    BIGINT — instead of the float ``sum(2^-M_j)`` whose summation order
    would differ between engines. One float division at the end, then
    round(2). The standard small-range linear-counting branch kicks in
    below 2.5m when empty registers remain.

    At 100 TB: per-group state is 32 registers regardless of
    cardinality; the register build is a groupBy(group, bucket) max —
    map-side combinable, one shuffle — and registers merge by max, so
    the same sketch works for partial/streaming accumulation. The exact
    count rides along to make the ~1.04/sqrt(32) error visible."""
    ev = _t(spark, sf_dir)["events"]
    reg = hll_registers(
        ev, ["event_type"], HLL_KEY
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        hll_estimate(reg, ["event_type"])
        .join(F.broadcast(exact), "event_type")
        .select("event_type", "v_empty", "s_int", "est_distinct", "n_exact")
        .orderBy(F.col("event_type").asc())
    )


def salted_positions(col, prefix: str, depth: int, width: int):
    """Array of ``depth`` salted md5 bucket positions for a string
    column: md5('<prefix><j>:' || col) % width — the one definition of
    the cross-engine salt format, shared by the CMS grid and the Bloom
    filter (and mirrored by their DuckDB oracles)."""
    return F.array(
        *[
            F.pmod(
                _hv(F.concat(F.lit(f"{prefix}{j}:"), col).cast("binary")),
                F.lit(width),
            )
            for j in range(depth)
        ]
    )


def salted_positions_sql(col: str, prefix: str, depth: int, width: int) -> str:
    """Spark-SQL text twin of ``salted_positions`` (one parse;
    canonicalized-plan equality pinned in tests/test_sql_expr_parity.py)."""
    prefix = sql_word(prefix)
    terms = ", ".join(
        "pmod("
        + _HV_SQL.format(
            expr=f"CAST(concat('{prefix}{j}:', {col}) AS BINARY)"
        )
        + f", {width})"
        for j in range(depth)
    )
    return f"array({terms})"


def cms_bucket_array():
    """The CMS_DEPTH salted bucket positions for column ``tok``."""
    return salted_positions(F.col("tok"), "cms", CMS_DEPTH, CMS_WIDTH)


def _cms_bucket_array_sql() -> str:
    """SQL-text twin of ``cms_bucket_array`` (one parse)."""
    return salted_positions_sql("tok", "cms", CMS_DEPTH, CMS_WIDTH)


def cms_cells(tok_df: DataFrame, weight_col: str | None = None) -> DataFrame:
    """Count-min cell grid (j, bucket, cell) from a frame with a ``tok``
    column: per-occurrence adds when ``weight_col`` is None (the
    streaming path), weighted adds otherwise (the batch path over a
    pre-counted token frame). Cells are additive, so both routes produce
    identical grids — asserted by the streaming drain test."""
    hashed = tok_df.selectExpr(
        *([weight_col] if weight_col else []),
        f"posexplode({_cms_bucket_array_sql()}) AS (j, bucket)",
    )
    agg_sql = (
        f"CAST(sum({weight_col}) AS BIGINT)" if weight_col
        else "CAST(count(*) AS BIGINT)"
    )
    return hashed.groupBy("j", "bucket").agg(F.expr(agg_sql + " AS cell"))


# ---------------------------------------------------------------------------
# count-min sketch: frequency estimates for the top-20 tokens
# ---------------------------------------------------------------------------
@register(
    "cms_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents
    ),
    cnt AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_exact FROM toks GROUP BY tok
    ),
    hashed AS (
      SELECT tok, n_exact, j,
             {_DUCK_HV.format(expr="'cms' || j || ':' || tok")}
               % {CMS_WIDTH} AS bucket
      FROM cnt, generate_series(0, {CMS_DEPTH - 1}) AS g(j)
    ),
    sketch AS (
      SELECT j, bucket, CAST(sum(n_exact) AS BIGINT) AS cell
      FROM hashed GROUP BY j, bucket
    ),
    top AS (
      SELECT tok, n_exact FROM cnt
      ORDER BY n_exact DESC, tok ASC LIMIT 20
    )
    SELECT t.tok, t.n_exact, CAST(min(s.cell) AS BIGINT) AS est_cms
    FROM top t
    JOIN hashed h ON h.tok = t.tok
    JOIN sketch s ON s.j = h.j AND s.bucket = h.bucket
    GROUP BY t.tok, t.n_exact
    ORDER BY t.n_exact DESC, t.tok ASC
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over document tokens: a 4x512 cell grid of
    salted-md5 bucket sums; a token's frequency estimate is the MIN of
    its 4 cells (always >= the true count — the one-sided CMS error).
    Probed here for the exact top-20 tokens so the overestimate is
    directly visible next to the truth.

    At 100 TB the sketch is the point: 2048 longs of state total,
    cell-wise additive (mergeable across partitions/streams), built by
    ONE map-side-combinable groupBy((j, bucket)) whatever the token
    cardinality. Building from the per-token count frame here is
    equivalent by associativity to adding per occurrence — same cells,
    one fewer explode pass (the streaming twin
    ``streaming.windows.run_cms_stream`` takes the per-occurrence route
    and the drain test asserts identical cells). Salted buckets use
    md5('cms<j>:' || tok), portable to the DuckDB oracle."""
    docs = _t(spark, sf_dir)["documents"]
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    toks = docs.selectExpr("explode(split(trim(text), ' ')) AS tok")
    cnt = toks.groupBy("tok").agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_exact")
    )
    sketch = cms_cells(cnt, weight_col="n_exact")
    top = cnt.orderBy(F.col("n_exact").desc(), F.col("tok").asc()).limit(20)
    probe = top.selectExpr(
        "tok", "n_exact",
        f"posexplode({_cms_bucket_array_sql()}) AS (j, bucket)",
    )
    return (
        probe.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("tok", "n_exact")
        .agg(F.expr("CAST(min(cell) AS BIGINT) AS est_cms"))
        .orderBy(F.col("n_exact").desc(), F.col("tok").asc())
    )


# ---------------------------------------------------------------------------
# KMV set operations: union / intersection / Jaccard from two sketches
# ---------------------------------------------------------------------------
_KMV_SET_A = "click"
_KMV_SET_B = "purchase"


@register(
    "kmv_set_ops",
    f"""
    WITH ha AS (
      SELECT DISTINCT {_DUCK_HV.format(expr="CAST(user_id AS VARCHAR)")} AS hv
      FROM events WHERE event_type = '{_KMV_SET_A}'
    ),
    hb AS (
      SELECT DISTINCT {_DUCK_HV.format(expr="CAST(user_id AS VARCHAR)")} AS hv
      FROM events WHERE event_type = '{_KMV_SET_B}'
    ),
    sa AS (SELECT hv FROM ha ORDER BY hv ASC LIMIT {KMV_K}),
    sb AS (SELECT hv FROM hb ORDER BY hv ASC LIMIT {KMV_K}),
    u AS (
      SELECT coalesce(sa.hv, sb.hv) AS hv,
             CASE WHEN sa.hv IS NOT NULL THEN 1 ELSE 0 END AS in_a,
             CASE WHEN sb.hv IS NOT NULL THEN 1 ELSE 0 END AS in_b
      FROM sa FULL OUTER JOIN sb ON sa.hv = sb.hv
    ),
    ku AS (SELECT * FROM u ORDER BY hv ASC LIMIT {KMV_K}),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS k_used,
             max(hv) AS kth_hash,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
             CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_a_only,
             CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_b_only
      FROM ku
    ),
    eu AS (
      SELECT agg.*,
             CASE WHEN k_used < {KMV_K}
                  THEN CAST(k_used AS DOUBLE)
                  ELSE ({KMV_K} - 1)
                       / (CAST(kth_hash AS DOUBLE) / {_HEX15}.0)
             END AS est_u
      FROM agg
    ),
    ex AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_union_exact,
             CAST(count(DISTINCT CASE WHEN cnt = 2 THEN user_id END)
                  AS BIGINT) AS n_intersect_exact,
             CAST(count(DISTINCT CASE WHEN has_b = 0 THEN user_id END)
                  AS BIGINT) AS n_a_minus_b_exact
      FROM (
        SELECT user_id, count(DISTINCT event_type) AS cnt,
               max(CASE WHEN event_type = '{_KMV_SET_B}' THEN 1 ELSE 0 END)
                 AS has_b
        FROM events WHERE event_type IN ('{_KMV_SET_A}', '{_KMV_SET_B}')
        GROUP BY user_id
      )
    )
    SELECT eu.k_used, eu.kth_hash,
           round(eu.est_u, 4) AS est_union,
           round(CAST(eu.n_both AS DOUBLE)
                 / CAST(eu.k_used AS DOUBLE), 4) AS jaccard_est,
           round(CAST(eu.n_both AS DOUBLE) / CAST(eu.k_used AS DOUBLE)
                 * eu.est_u, 4) AS est_intersect,
           round(CAST(eu.n_a_only AS DOUBLE) / CAST(eu.k_used AS DOUBLE)
                 * eu.est_u, 4) AS est_a_minus_b,
           round(CAST(eu.n_b_only AS DOUBLE) / CAST(eu.k_used AS DOUBLE)
                 * eu.est_u, 4) AS est_b_minus_a,
           ex.n_union_exact, ex.n_intersect_exact, ex.n_a_minus_b_exact
    FROM eu CROSS JOIN ex
    """,
)
def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on KMV (bottom-k / theta) sketches: estimate
    |A ∪ B|, Jaccard(A, B), and |A ∩ B| for two user sets (clickers vs
    purchasers) from two 32-hash sketches — the reason theta sketches
    exist: exact distinct-intersection over 100 TB needs a full
    co-shuffle of both sides, while the sketch route ships 32 longs per
    side and answers any union/intersection/difference combination
    after the fact.

    Mechanics: bottom-k md5 hashes per side (TakeOrdered — no global
    sort), merged k-smallest of the union gives the union estimate
    (k-1)/h_k; the fraction of those k present in BOTH sketches is an
    unbiased Jaccard estimate, and the one-sided fractions give the set
    DIFFERENCES the same way — intersection / A\\B / B\\A are all
    fraction * union, which is the whole theta-sketch API. Complete
    sketches (fewer than k distinct union hashes) degrade to exact
    counts — the standard KMV contract, keeps sf0.001 first-class. One
    final float division per estimate, round(4), integer everywhere
    else; exact counts ride along."""
    ev = _t(spark, sf_dir)["events"]
    hv = _hv(HLL_KEY)

    def sketch(event_type: str) -> DataFrame:
        # distinct AFTER hashing (on hv, matching the oracle's DISTINCT hv):
        # a prefix collision between two user_ids must collapse to one slot
        # in both engines, not consume two here and one there
        return (
            ev.filter(F.col("event_type") == event_type)
            .select(hv.alias("hv"))
            .distinct()
            .orderBy(F.col("hv").asc())
            .limit(KMV_K)
        )

    sa = sketch(_KMV_SET_A).withColumn("in_a", F.lit(1))
    sb = sketch(_KMV_SET_B).withColumn("in_b", F.lit(1))
    u = (
        sa.join(sb, "hv", "full_outer")
        .select(
            "hv",
            F.coalesce(F.col("in_a"), F.lit(0)).alias("in_a"),
            F.coalesce(F.col("in_b"), F.lit(0)).alias("in_b"),
        )
    )
    # incomplete union sketch iff fewer than K rows survived the cut:
    # k_used = min(|u|, K), so k_used < K exactly when |u| < K — no
    # separate count over u needed
    ku = u.orderBy(F.col("hv").asc()).limit(KMV_K)
    # one-parse SQL text (r13): same trees as the old Column-DSL agg
    agg = ku.agg(
        F.expr("CAST(count(*) AS BIGINT) AS k_used"),
        F.expr("max(hv) AS kth_hash"),
        F.expr("CAST(sum(in_a * in_b) AS BIGINT) AS n_both"),
        F.expr("CAST(sum(in_a * (1 - in_b)) AS BIGINT) AS n_a_only"),
        F.expr("CAST(sum((1 - in_a) * in_b) AS BIGINT) AS n_b_only"),
    )
    both = ev.filter(
        F.col("event_type").isin(_KMV_SET_A, _KMV_SET_B)
    )
    ex = (
        both.groupBy("user_id")
        .agg(
            F.expr("count(DISTINCT event_type) AS cnt"),
            F.expr(
                f"max(CASE WHEN event_type = '{_KMV_SET_B}' THEN 1 ELSE 0 "
                "END) AS has_b"
            ),
        )
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_union_exact"),
            F.expr(
                "CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) "
                "AS n_intersect_exact"
            ),
            F.expr(
                "CAST(sum(CASE WHEN has_b = 0 THEN 1 ELSE 0 END) AS BIGINT) "
                "AS n_a_minus_b_exact"
            ),
        )
    )
    est_union = (
        f"CASE WHEN k_used < {KMV_K} THEN CAST(k_used AS DOUBLE) "
        f"ELSE {repr(float(KMV_K - 1))}D / "
        f"(CAST(kth_hash AS DOUBLE) / {repr(float(_HEX15))}D) END"
    )

    def frac(col_name: str) -> str:
        return f"(CAST({col_name} AS DOUBLE) / CAST(k_used AS DOUBLE))"

    return agg.crossJoin(F.broadcast(ex)).selectExpr(
        "k_used",
        "kth_hash",
        f"round({est_union}, 4) AS est_union",
        f"round({frac('n_both')}, 4) AS jaccard_est",
        f"round({frac('n_both')} * {est_union}, 4) AS est_intersect",
        f"round({frac('n_a_only')} * {est_union}, 4) AS est_a_minus_b",
        f"round({frac('n_b_only')} * {est_union}, 4) AS est_b_minus_a",
        "n_union_exact",
        "n_intersect_exact",
        "n_a_minus_b_exact",
    )


# ---------------------------------------------------------------------------
# Bloom filter: build from the join's small side, probe the big scan
# ---------------------------------------------------------------------------
BLOOM_K = 4        # salted hash rows
BLOOM_BITS = 256   # bits per row (sized so the false-positive rate is
                   # visible at sf0.01: ~150 keys -> ~44% row fill -> ~4% fp)


@register(
    "bloom_membership",
    f"""
    WITH keys AS (
      SELECT DISTINCT user_id AS k FROM events
    ),
    bits AS (
      SELECT DISTINCT j,
             {_DUCK_HV.format(expr="'bf' || j || ':' || CAST(k AS VARCHAR)")}
               % {BLOOM_BITS} AS pos
      FROM keys, generate_series(0, {BLOOM_K - 1}) AS g(j)
    ),
    probe AS (
      SELECT c_custkey AS k FROM customer
    ),
    probed AS (
      SELECT p.k, j,
             {_DUCK_HV.format(expr="'bf' || j || ':' || CAST(p.k AS VARCHAR)")}
               % {BLOOM_BITS} AS pos
      FROM probe p, generate_series(0, {BLOOM_K - 1}) AS g(j)
    ),
    verdict AS (
      SELECT p.k,
             CASE WHEN count(b.pos) = {BLOOM_K} THEN 1 ELSE 0 END AS flagged,
             CASE WHEN max(CASE WHEN p.k IN (SELECT k FROM keys)
                                THEN 1 ELSE 0 END) = 1
                  THEN 1 ELSE 0 END AS is_member
      FROM probed p LEFT JOIN bits b ON b.j = p.j AND b.pos = p.pos
      GROUP BY p.k
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM keys) AS n_keys,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(flagged) AS BIGINT) AS n_flagged,
           CAST(sum(is_member) AS BIGINT) AS n_true_members,
           CAST(sum(CASE WHEN flagged = 1 AND is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
           CAST(sum(CASE WHEN flagged = 0 AND is_member = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negative,
           round(CAST(sum(CASE WHEN flagged = 1 AND is_member = 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(greatest(count(*) - sum(is_member), 1) AS DOUBLE),
                 4) AS fp_rate
    FROM verdict
    """,
)
def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning, measured: build a 4x256-bit filter
    from the DISTINCT event user_ids (the join's small side), probe every
    customer key, and report flagged / true-member / false-positive /
    false-negative counts plus the realized fp rate. False negatives must
    be zero — a Bloom filter's one hard guarantee — and the oracle checks
    exactly that.

    This is the runtime-filter shape Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects under a
    selective join: at 100 TB you build the filter from the dimension /
    active-key side (fixed-size state: the SET bit positions, mergeable by
    union — a distinct-union groupBy here), broadcast it, and prune the
    fact scan BEFORE the shuffle, turning a 1500-row scan into the ~150
    rows that can actually join. Salted md5 bit positions keep the filter
    bit-identical across engines; the filter table is at most k * m rows
    regardless of input size, and the probe is a broadcast join against
    it. BLOOM_BITS is deliberately small so the false-positive band is
    nonzero and visible at sf0.01 instead of a vacuous 0.0."""
    t = _t(spark, sf_dir)
    keys = t["events"].select(F.col("user_id").alias("k")).distinct()

    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    positions_sql = (
        "posexplode("
        + salted_positions_sql(
            "CAST(k AS STRING)", "bf", BLOOM_K, BLOOM_BITS
        )
        + ") AS (j, pos)"
    )
    bits = (
        keys.selectExpr(positions_sql)
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probe = t["customer"].select(F.col("c_custkey").alias("k"))
    probed = probe.selectExpr("k", positions_sql)
    member = keys.withColumn("is_member", F.lit(1))
    verdict = (
        probed.join(F.broadcast(bits), ["j", "pos"], "left")
        .groupBy("k")
        .agg(
            F.when(F.sum(F.coalesce(F.col("hit"), F.lit(0))) == BLOOM_K, 1)
            .otherwise(0)
            .alias("flagged")
        )
        .join(F.broadcast(member), "k", "left")
        .withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(0)))
    )
    n_keys = keys.agg(F.count("*").cast("long").alias("n_keys"))
    n_bits = bits.agg(F.count("*").cast("long").alias("n_bits_set"))
    fp = F.sum(
        F.when((F.col("flagged") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
    )
    return (
        verdict.agg(
            F.count("*").cast("long").alias("n_probed"),
            F.sum("flagged").cast("long").alias("n_flagged"),
            F.sum("is_member").cast("long").alias("n_true_members"),
            fp.cast("long").alias("n_false_positive"),
            F.sum(
                F.when(
                    (F.col("flagged") == 0) & (F.col("is_member") == 1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_false_negative"),
            # greatest(...,1) (mirrored in the oracle): when every probed
            # key is a member the non-member denominator is 0 and fp must
            # be 0 too — 0/1 = 0.0 in both engines instead of NULL-vs-inf
            F.round(
                fp.cast("double")
                / F.greatest(
                    F.count("*") - F.sum("is_member"), F.lit(1)
                ).cast("double"),
                4,
            ).alias("fp_rate"),
        )
        .crossJoin(F.broadcast(n_keys))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_keys",
            "n_bits_set",
            "n_probed",
            "n_flagged",
            "n_true_members",
            "n_false_positive",
            "n_false_negative",
            "fp_rate",
        )
    )


# ---------------------------------------------------------------------------
# HLL reaggregability: daily register rollup merges to the direct sketch
# ---------------------------------------------------------------------------
def _duck_hll_finalize(reg_cte: str, alias: str) -> str:
    """DuckDB finalize fragment: fold a (bucket, m_j) register CTE into a
    single-row estimate — the SQL twin of ``hll_estimate`` with no group."""
    return f"""
      SELECT round(CASE WHEN raw_e <= {2.5 * HLL_M!r} AND v_empty > 0
                        THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE)
                                          / CAST(v_empty AS DOUBLE))
                        ELSE raw_e END, 2) AS {alias}
      FROM (
        SELECT CAST({HLL_M} AS BIGINT) - count(*) AS v_empty,
               CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
                 * CAST({1 << HLL_RHO_MAX} AS DOUBLE)
                 / CAST(CAST(sum(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - m_j))
                             + (CAST({HLL_M} AS BIGINT) - count(*))
                               * (CAST(1 AS BIGINT) << {HLL_RHO_MAX})
                        AS BIGINT) AS DOUBLE) AS raw_e
        FROM {reg_cte}
      )
    """


@register(
    "hll_daily_merge",
    f"""
    WITH h AS (
      SELECT date_trunc('day', ts) AS day,
             {_DUCK_HV.format(expr="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    r AS (
      SELECT day, hv % {HLL_M} AS bucket,
             CASE WHEN hv // {HLL_M} = 0 THEN {HLL_RHO_MAX}
                  ELSE {HLL_RHO_MAX} - length(bin(hv // {HLL_M}))
             END AS rho
      FROM h
    ),
    daily AS (
      SELECT day, bucket, max(rho) AS m_j FROM r GROUP BY day, bucket
    ),
    merged AS (
      SELECT bucket, max(m_j) AS m_j FROM daily GROUP BY bucket
    ),
    direct AS (
      SELECT bucket, max(rho) AS m_j FROM r GROUP BY bucket
    ),
    em AS ({_duck_hll_finalize("merged", "est_merged")}),
    ed AS ({_duck_hll_finalize("direct", "est_direct")}),
    nd AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM daily),
    ex AS (
      SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
    )
    SELECT nd.n_days, em.est_merged, ed.est_direct, ex.n_exact
    FROM nd CROSS JOIN em CROSS JOIN ed CROSS JOIN ex
    """,
)
def hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reason HLL wins at 100 TB: REAGGREGABILITY. Build per-day
    register tables once (the nightly rollup), then answer any date-range
    distinct question by max-merging the stored registers — never
    rescanning raw events. This query proves the algebra end-to-end:
    est_merged (daily registers max-merged) and est_direct (one pass over
    all events) are computed independently and the oracle checks they are
    IDENTICAL, because max is associative over any partitioning of the
    input.

    The rollup shape: one groupBy(day, bucket) pass (map-side combinable;
    at scale, day is also the parquet partition key so the rollup is
    incremental per day), then the merge reads days x 32 register rows —
    kilobytes — instead of the raw corpus. An exact distinct rollup can't
    do this: distinct counts don't add across days when users repeat."""
    ev = _t(spark, sf_dir)["events"]
    key = HLL_KEY
    daily = hll_registers(
        ev.withColumn("day", F.date_trunc("day", F.col("ts"))), ["day"], key
    )
    merged = daily.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    direct = hll_registers(ev, [], key)
    em = hll_estimate(merged, []).select(
        F.col("est_distinct").alias("est_merged")
    )
    ed = hll_estimate(direct, []).select(
        F.col("est_distinct").alias("est_direct")
    )
    # day count read off the kilobyte-sized register table (a day appears
    # in `daily` iff it has >= 1 event) — not a fourth scan of events
    nd = daily.agg(F.count_distinct("day").cast("long").alias("n_days"))
    ex = ev.agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    return (
        nd.crossJoin(F.broadcast(em))
        .crossJoin(F.broadcast(ed))
        .crossJoin(F.broadcast(ex))
        .select("n_days", "est_merged", "est_direct", "n_exact")
    )


# ---------------------------------------------------------------------------
# quantiles by deterministic hash-sampling: sort the sample, not the corpus
# ---------------------------------------------------------------------------
SQ_SHIFT = 2           # keep keys with hash < 2^60 / 2^SQ_SHIFT (p = 1/4)
_SQ_THRESHOLD = 1 << (60 - SQ_SHIFT)
# quantiles as integer fractions — ceil(q*n) computed in INTEGER space;
# float 0.99*n rounds differently across engines near integer boundaries
SQ_QUANTILES = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]
_SQ_VALUES = ", ".join(f"('{l}', {a}, {b})" for l, a, b in SQ_QUANTILES)


def _rank_quantiles_sql(src: str, n_col: str) -> str:
    """DuckDB fragment: per (event_type, quantile fraction), the value at
    ascending rank ceil(qnum*n/qden) of ``src``."""
    return f"""
      SELECT s.event_type, q.label,
             s.value, s.n AS {n_col}
      FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value ASC, event_id ASC) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM {src}
      ) s
      JOIN (VALUES {_SQ_VALUES}) AS q(label, qnum, qden)
        ON s.rn = (q.qnum * s.n + q.qden - 1) // q.qden
    """


def quantile_sample_predicate():
    """The deterministic sampling predicate: md5(event_id) under the
    fixed threshold keeps p = 1/2^SQ_SHIFT of rows. Shared by the batch
    query and the sample store so both select the identical rows."""
    return (
        _hv(F.col("event_id").cast("string").cast("binary")) < _SQ_THRESHOLD
    )


def rank_quantiles(spark: SparkSession, df: DataFrame, n_name: str) -> DataFrame:
    """Per-(event_type, quantile fraction): the value at ascending rank
    ceil(qnum*n/qden) of ``df`` — integer-fraction positions, values
    selected never averaged. One per-group sort window; at scale you run
    this over a SAMPLE, never the corpus."""
    from pyspark.sql import Window

    # literal VALUES, not createDataFrame(list): the latter round-trips
    # through a Python RDD (applySchemaToPythonRDD — a Python worker spinup
    # per call); a 5-row constant belongs JVM-side
    qdf = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"('{lb}', {qn}, {qd})" for lb, qn, qd in SQ_QUANTILES)
        + " AS q(label, qnum, qden)"
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = df.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        ranked.join(F.broadcast(qdf))
        .filter(
            F.col("rn") == F.expr("(qnum * n + qden - 1) div qden").cast("int")
        )
        .select(
            "event_type",
            "label",
            "value",
            F.col("n").cast("long").alias(n_name),
        )
    )


@register(
    "sampled_quantiles",
    f"""
    WITH sample AS (
      SELECT event_type, event_id, value FROM events
      WHERE {_DUCK_HV.format(expr="CAST(event_id AS VARCHAR)")}
            < {_SQ_THRESHOLD}
    ),
    est AS ({_rank_quantiles_sql("sample", "n_sample")})
    SELECT event_type, label AS q,
           value AS est_value, CAST(n_sample AS BIGINT) AS n_sample
    FROM est
    ORDER BY event_type ASC, q ASC
    """,
)
def sampled_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quantiles by deterministic hash-sampling: keep the
    rows whose md5(event_id) falls below a fixed threshold (p = 1/4) and
    take exact rank-quantiles of the SAMPLE — the corpus is never
    globally sorted. Hash-sampling is the property that makes this a
    sketch: the sample is deterministic and MERGEABLE (the sample of a
    union is the union of the samples — no coordination, no RNG state),
    so partitions/streams/days sample independently and combine.

    Rank positions are computed as ceil(qnum*n/qden) in INTEGER
    fraction space — float 0.99*n lands on either side of an integer
    boundary depending on the engine's literal type, which is exactly
    the class of bug the oracle exists to catch. Values are selected,
    never averaged, so no float arithmetic touches the output.

    At 100 TB: the sample path sorts n*p rows per group (a per-group
    window over the sample only). The tunable SQ_SHIFT trades sample
    size for rank error like a KLL/t-digest accuracy knob — those
    sketches beat sampling asymptotically but their state is not
    engine-portable, so they cannot be oracle-checked. The exact-rank
    companion (the thing you STOP computing at scale) lives in the
    separate ``quantile_error_audit`` query so the default/benched path
    never sorts the full corpus per group."""
    ev = _t(spark, sf_dir)["events"].select("event_type", "event_id", "value")
    sample = ev.filter(quantile_sample_predicate())
    return (
        rank_quantiles(spark, sample, "n_sample")
        .select(
            "event_type",
            F.col("label").alias("q"),
            F.col("value").alias("est_value"),
            "n_sample",
        )
        .orderBy(F.col("event_type").asc(), F.col("q").asc())
    )


@register(
    "quantile_error_audit",
    f"""
    WITH sample AS (
      SELECT event_type, event_id, value FROM events
      WHERE {_DUCK_HV.format(expr="CAST(event_id AS VARCHAR)")}
            < {_SQ_THRESHOLD}
    ),
    est AS ({_rank_quantiles_sql("sample", "n_sample")}),
    exact AS ({_rank_quantiles_sql("events", "n_total")})
    SELECT est.event_type, est.label AS q,
           est.value AS est_value, CAST(est.n_sample AS BIGINT) AS n_sample,
           exact.value AS exact_value, CAST(exact.n_total AS BIGINT) AS n_total
    FROM est JOIN exact
      ON est.event_type = exact.event_type AND est.label = exact.label
    ORDER BY est.event_type ASC, q ASC
    """,
)
def quantile_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-rank companion to ``sampled_quantiles``: estimate and
    TRUE rank-quantile side by side so the sampling error is visible.
    The exact half sorts every group in full (one per-group window over
    the whole corpus) — this is an audit you run on a slice or at low SF,
    never the production path, which is why it is a separate query from
    the sample-only default."""
    ev = _t(spark, sf_dir)["events"].select("event_type", "event_id", "value")
    sample = ev.filter(quantile_sample_predicate())
    est = rank_quantiles(spark, sample, "n_sample").withColumnsRenamed(
        {"value": "est_value"}
    )
    exact = rank_quantiles(spark, ev, "n_total").withColumnsRenamed(
        {"value": "exact_value"}
    )
    return (
        est.join(exact, ["event_type", "label"])
        .select(
            "event_type",
            F.col("label").alias("q"),
            "est_value",
            "n_sample",
            "exact_value",
            "n_total",
        )
        .orderBy(F.col("event_type").asc(), F.col("q").asc())
    )


# ---------------------------------------------------------------------------
# windowed HLL: approximate distinct users per hour — the dashboard query
# ---------------------------------------------------------------------------
@register(
    "hourly_hll_distinct",
    f"""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour,
             {_DUCK_HV.format(expr="CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    r AS (
      SELECT hour, hv % {HLL_M} AS bucket,
             CASE WHEN hv // {HLL_M} = 0 THEN {HLL_RHO_MAX}
                  ELSE {HLL_RHO_MAX} - length(bin(hv // {HLL_M}))
             END AS rho
      FROM h
    ),
    reg AS (SELECT hour, bucket, max(rho) AS m_j FROM r GROUP BY hour, bucket),
    s AS (
      SELECT hour,
             CAST({HLL_M} AS BIGINT) - count(*) AS v_empty,
             CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M}
               * CAST({1 << HLL_RHO_MAX} AS DOUBLE)
               / CAST(CAST(sum(CAST(1 AS BIGINT) << ({HLL_RHO_MAX} - m_j))
                           + (CAST({HLL_M} AS BIGINT) - count(*))
                             * (CAST(1 AS BIGINT) << {HLL_RHO_MAX})
                      AS BIGINT) AS DOUBLE) AS raw_e
      FROM reg GROUP BY hour
    ),
    ex AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT s.hour,
           round(CASE WHEN s.raw_e <= {2.5 * HLL_M!r} AND s.v_empty > 0
                      THEN {HLL_M} * ln(CAST({HLL_M} AS DOUBLE)
                                        / CAST(s.v_empty AS DOUBLE))
                      ELSE s.raw_e END, 2) AS est_distinct,
           ex.n_exact
    FROM s JOIN ex ON s.hour = ex.hour
    ORDER BY s.hour ASC
    """,
)
def hourly_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per hour — the shape every analytics
    dashboard runs continuously, and the one whose exact form
    (count-distinct per window) keeps per-window key sets in memory.
    Here each hour holds 32 registers, period: thousands of windows cost
    kilobytes, and per-hour sketches ALSO merge upward (hour -> day ->
    month) by the same max, so one register store serves every grain —
    see ``hll_daily_merge`` for the merge proof at day grain.

    With ~3 events per hour at sf0.01 most windows exercise the
    linear-counting branch; the ln argument takes only 31 distinct
    values (32/V for integer V), so cross-engine libm skew is bounded to
    31 evaluations, all landing far from round(2) boundaries. One
    groupBy(hour, bucket) pass + a per-hour fold — the streaming twin
    maintains the identical register table."""
    ev = _t(spark, sf_dir)["events"]
    hour = F.date_trunc("hour", F.col("ts"))
    reg = hll_registers(
        ev.withColumn("hour", hour),
        ["hour"],
        HLL_KEY,
    )
    exact = ev.groupBy(hour.alias("hour")).agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return (
        hll_estimate(reg, ["hour"])
        .join(exact, "hour")
        .select("hour", "est_distinct", "n_exact")
        .orderBy(F.col("hour").asc())
    )


# ---------------------------------------------------------------------------
# register store: day-partitioned sketch parquet, range reads prune partitions
# ---------------------------------------------------------------------------
def build_hll_register_store(spark: SparkSession, sf_dir: str, out_dir: str):
    """Materialize the daily HLL register tables as a parquet store
    PARTITIONED BY day (ISO string) — the nightly-rollup artifact
    ``hll_daily_merge`` reasons about, actually written. Each partition
    holds <= 32 rows; rewriting one day is idempotent (dynamic overwrite
    of that day's directory is the production move; a full overwrite
    here keeps the demo deterministic)."""
    ev = _t(spark, sf_dir)["events"]
    daily = hll_registers(
        ev.withColumn(
            "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
        ),
        ["day"],
        HLL_KEY,
    )
    daily.write.mode("overwrite").partitionBy("day").parquet(out_dir)


def range_distinct_estimate(
    spark: SparkSession, store_dir: str, start_day: str, end_day: str
) -> DataFrame:
    """Distinct-users estimate for [start_day, end_day) answered from the
    register store alone: the day filter is a PARTITION filter (ISO
    strings compare lexicographically), so the scan touches only the
    requested days' directories — kilobytes — and never the raw events.
    Registers max-merge across the surviving days; ``hll_daily_merge``
    proves the merge is lossless vs the direct sketch."""
    reg = (
        spark.read.parquet(store_dir)
        .filter((F.col("day") >= start_day) & (F.col("day") < end_day))
        .groupBy("bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    return hll_estimate(reg, [])


# ---------------------------------------------------------------------------
# sample store: day-partitioned hash sample, range quantiles prune partitions
# ---------------------------------------------------------------------------
def build_quantile_sample_store(spark: SparkSession, sf_dir: str, out_dir: str):
    """Materialize the deterministic hash sample as a parquet store
    PARTITIONED BY day — the quantile companion of
    ``build_hll_register_store``. Because the sampling predicate is a
    pure hash threshold, the union of per-day samples IS the sample of
    any day range (no coordination, no reweighting), so stored samples
    answer range-quantile questions exactly as a fresh sample would.
    Per-day volume is n_day / 2^SQ_SHIFT rows; each day rewrites
    idempotently."""
    ev = _t(spark, sf_dir)["events"].select(
        "event_type", "event_id", "value", "ts"
    )
    sample = ev.filter(quantile_sample_predicate()).withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    sample.drop("ts").write.mode("overwrite").partitionBy("day").parquet(
        out_dir
    )


def range_quantile_estimate(
    spark: SparkSession, store_dir: str, start_day: str, end_day: str
) -> DataFrame:
    """Per-type quantile estimates for [start_day, end_day) answered from
    the sample store alone: the day range is a PARTITION filter, the rank
    window sorts only the surviving sample rows, and the result equals
    rank-quantiles of a directly-drawn sample of that range (hash
    sampling commutes with union — the store test asserts the equality
    row-for-row)."""
    sample = spark.read.parquet(store_dir).filter(
        (F.col("day") >= start_day) & (F.col("day") < end_day)
    )
    return rank_quantiles(spark, sample, "n_sample")


# ---------------------------------------------------------------------------
# CMS store: day-partitioned cell grids, range heavy-hitter probes sum-merge
# ---------------------------------------------------------------------------
def build_cms_store(spark: SparkSession, sf_dir: str, out_dir: str):
    """Materialize per-day CMS cell grids as a day-partitioned parquet
    store — the third merge class materialized (HLL registers max-merge,
    hash samples union-merge, CMS cells SUM-merge). Documents have no
    timestamp, so the synthetic day key is doc_id-derived; a real corpus
    uses its ingest date. Each day's grid is <= depth x width rows."""
    docs = _t(spark, sf_dir)["documents"]
    toks = docs.select(
        # deterministic synthetic ingest day: 100 docs per day
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("doc_id") / 100).cast("int")
        )
        .cast("string")
        .alias("day"),
        F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"),
    )
    cells = (
        toks.select("day", F.posexplode(cms_bucket_array()).alias("j", "bucket"))
        .groupBy("day", "j", "bucket")
        .agg(F.count("*").cast("long").alias("cell"))
    )
    cells.write.mode("overwrite").partitionBy("day").parquet(out_dir)


def range_token_frequency_estimate(
    spark: SparkSession,
    store_dir: str,
    tokens: list[str],
    start_day: str,
    end_day: str,
) -> DataFrame:
    """Frequency estimates for ``tokens`` over [start_day, end_day)
    answered from the cell store alone: the day range prunes partitions,
    the surviving grids SUM-merge cell-wise (CMS additivity), and each
    probe token reads its depth cells for the min — identical to a grid
    built fresh over the range (the store test asserts it). One-sided
    error (est >= truth) is preserved by the merge."""
    merged = (
        spark.read.parquet(store_dir)
        .filter((F.col("day") >= start_day) & (F.col("day") < end_day))
        .groupBy("j", "bucket")
        .agg(F.sum("cell").cast("long").alias("cell"))
    )
    probe = (
        spark.createDataFrame([(t,) for t in tokens], "tok string")
        .select("tok", F.posexplode(cms_bucket_array()).alias("j", "bucket"))
    )
    return (
        probe.join(F.broadcast(merged), ["j", "bucket"], "left")
        .groupBy("tok")
        .agg(
            F.min(F.coalesce(F.col("cell"), F.lit(0)))
            .cast("long")
            .alias("est_count")
        )
        .orderBy(F.col("tok").asc())
    )
