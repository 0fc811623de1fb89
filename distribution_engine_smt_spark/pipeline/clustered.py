"""Clustered-embedding fixture: pricing IVF-PQ variants on data with
real coarse structure (VERDICT r8 #3).

The synthetic corpus (`embeddings.parquet`) is near-uniform, so round 8's
honest finding — "residuals rank no tighter than plain codes" — was a
property of the DATA, not of residual IVF-PQ, and the trained/residual
variants' claimed advantages were unpriceable. This module registers a
deterministic MIXTURE-OF-CLUSTERS corpus generated from seeded md5
arithmetic (the planted-pair audit's technique, audit.py) so the DuckDB
oracle replays generation exactly, and prices the variants on it:

- ``clustered_fixture_stats``: proves the fixture HAS coarse structure
  (mean cosine to own center ≈ 0.999 vs best other center ≈ 0.19).
- ``clustered_pq_variant_audit``: recall@10 of plain-PQ vs residual-PQ
  ADC at two candidate cuts on the SAME fixture, same codebook budget.
  Measured: residual 0.64 vs plain 0.23 at cut 50 (1.00 vs 0.77 at
  cut 200) — the measured statement of when residual beats plain (when
  cells capture coarse structure, the codebook spends its codewords on
  within-cell detail the quantizer already removed; on the near-uniform
  corpus the same audit trio reads plain 0.9 / residual 1.0 at CAND 250
  — no gap).
- ``clustered_semdedup_audit``: SemDeDup's cell-blocking on true coarse
  structure — blocked pair discovery misses ZERO duplicate pairs vs the
  unblocked probe-sample baseline, and keeps exactly one representative
  per cluster.
- ``clustered_kmeans_agreement_audit``: the bridge claim — the shared
  Lloyd fit recovers the generative cells at agreement 1.0 with
  balanced occupancy, so the generative centers the other audits
  quantize against ARE the trained quantizer's cells on this fixture.

Generation: point i = center[i % C] + noise[i], with
center[c][j] = (md5int("cc:c:j") % 2001 - 1000) / 1000.0   (coords ±1)
noise[i][j] = (md5int("cn:i:j") % 2001 - 1000) / 20000.0   (coords ±0.05)
where md5int = first 8 md5 hex chars as an integer. Every engine (and
driver-side Python, for the bounded codebook/LUT state) computes the
same integers and the same correctly-rounded double divisions, so the
fixture is bit-identical across Spark, DuckDB, and the driver — no
parquet, no RNG, no collected corpus.

Reference parity: extension surface (no reference counterpart); the
residual/trained composition docstrings in pipeline/pq.py carry the
family citations (Jegou et al. 2011 product quantization; Abbas et al.
2023 SemDeDup).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..driver_queries import memoize_df, register
from ..session import tracked_persist
from .similarity import (
    DIM,
    PQ_DSUB,
    PQ_K,
    PQ_S,
    RecallBaseline,
    _cos_sql,
    adc_cut,
    brute_force_sql,
    dot_fold,
    exact_topk,
    pq_encode,
    pq_query_lut,
    recall_at_k,
    route,
)

CF_N = 2048  # fixture corpus size
CF_C = 8  # mixture components; cluster of point i = i % CF_C
CF_Q = 10  # probe queries (vec_id 0..9)
CF_TOP = 10  # exact neighbors per query the recall is measured over
CF_CUTS = (50, 200)  # ADC candidate cuts the variants are priced at
CF_SEM_COS = 0.9  # same-cluster members sit ≈0.997; cross ≈0.19
CF_SEM_PROBE = 256  # probe-side sample for the unblocked baseline


# ---------------------------------------------------------------------------
# generation: identical integers + identical double arithmetic in
# Python (driver-side codebook state), Spark expressions, and DuckDB SQL
# ---------------------------------------------------------------------------


def _h8_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def cf_center(c: int) -> list[float]:
    return [
        (_h8_py(f"cc:{c}:{j}") % 2001 - 1000) / 1000.0 for j in range(DIM)
    ]


def cf_point(i: int) -> list[float]:
    cent = cf_center(i % CF_C)
    return [
        cent[j] + (_h8_py(f"cn:{i}:{j}") % 2001 - 1000) / 20000.0
        for j in range(DIM)
    ]


def _h8_col(s) -> F.Column:
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


@memoize_df
def clustered_fixture_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cl, embedding) generated DISTRIBUTED (map-only expressions
    over spark.range — at 100 TB a fixture/benchmark corpus is generated
    exactly like this, never collected). ``sf_dir`` is ignored (the
    fixture is self-contained) but kept so the memo key and the query
    signature match the registry contract.

    Shape: one row per (vec_id, coordinate) via explode — each row's
    expression is TWO small md5 terms, so the whole projection stays
    inside whole-stage codegen — then one groupBy(vec_id) assembles the
    array in j-order (array_sort over (j, v) structs, the established
    ordered-collect pattern). The first cut generated all 64 coordinates
    as one 1500-node array projection: janino refused the >64KB method
    (interpreted fallback) and Catalyst planning alone cost ~12 s — the
    round-7 wide-literal-projection lesson, relearned and measured."""
    base = spark.range(CF_N).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % CF_C).cast("int").alias("cl"),
    )
    coords = base.select(
        "vec_id", "cl", F.explode(F.sequence(F.lit(0), F.lit(DIM - 1))).alias("j")
    )
    cterm = (
        _h8_col(
            F.concat(
                F.lit("cc:"),
                F.col("cl").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        )
        % 2001
        - 1000
    ) / F.lit(1000.0)
    nterm = (
        _h8_col(
            F.concat(
                F.lit("cn:"),
                F.col("vec_id").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        )
        % 2001
        - 1000
    ) / F.lit(20000.0)
    vals = coords.select("vec_id", "cl", "j", (cterm + nterm).alias("v"))
    return vals.groupBy("vec_id", "cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "v"))), lambda s: s["v"]
        ).alias("embedding")
    )


def _h8_sql(expr: str) -> str:
    """DuckDB twin of _h8_col / _h8_py: first 8 md5 hex chars as BIGINT
    (the sketches.py _DUCK_HV idiom at width 8). Lambda variables are
    hx/ha/hb: ``expr`` is evaluated INSIDE the hex-digit lambda, so a
    bare ``i``/``j``/``a`` here would shadow the caller's generator
    columns of the same name (measured: every fixture row hashed the
    digit index instead of its vec_id)."""
    return (
        "list_reduce(list_transform(generate_series(1, 8), "
        f"hx -> CAST(strpos('0123456789abcdef', substr(md5({expr}), hx, 1)) - 1 "
        "AS BIGINT)), (ha, hb) -> ha * 16 + hb)"
    )


def _cfx_coord_sql(tag: str, key: str, denom: str) -> str:
    """One generated coordinate term: (md5int % 2001 - 1000) / denom,
    with the same long->double widening order as the Spark/Python sides."""
    h = _h8_sql(f"'{tag}:' || CAST({key} AS VARCHAR) || ':' || CAST(j - 1 AS VARCHAR)")
    return f"(CAST({h} % 2001 - 1000 AS DOUBLE) / CAST({denom} AS DOUBLE))"


# the fixture + generative-centers CTEs every clustered oracle starts with
_CFX_CTES = f"""cfx AS (
      SELECT i AS vec_id, CAST(i % {CF_C} AS INT) AS cl,
             list_transform(generate_series(1, {DIM}), j ->
               {_cfx_coord_sql('cc', f'i % {CF_C}', '1000.0')}
               + {_cfx_coord_sql('cn', 'i', '20000.0')}) AS embedding
      FROM generate_series(0, {CF_N - 1}) t(i)
    ),
    cctr AS (
      SELECT CAST(c AS INT) AS c,
             list_transform(generate_series(1, {DIM}), j ->
               {_cfx_coord_sql('cc', 'c', '1000.0')}) AS cent
      FROM generate_series(0, {CF_C - 1}) t(c)
    )"""

# ---------------------------------------------------------------------------
# fixture structure proof
# ---------------------------------------------------------------------------

_CF_STATS_SQL = f"""
    WITH {_CFX_CTES},
    pc AS (
      SELECT f.vec_id, f.cl, c.c,
             {_cos_sql('f.embedding', 'c.cent')} AS cos
      FROM cfx f CROSS JOIN cctr c
    ),
    pr AS (
      SELECT vec_id, cl,
             max(CASE WHEN c = cl THEN cos END) AS cos_own,
             max(CASE WHEN c <> cl THEN cos END) AS cos_other
      FROM pc GROUP BY vec_id, cl
    )
    SELECT cl, count(*) AS n,
           round(CAST(sum(CAST(cos_own AS DECIMAL(20,6))) AS DOUBLE)
                 / count(*), 6) AS mean_cos_own,
           round(CAST(sum(CAST(cos_other AS DECIMAL(20,6))) AS DOUBLE)
                 / count(*), 6) AS mean_cos_best_other
    FROM pr GROUP BY cl ORDER BY cl ASC
    """


def _cf_frame_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cl, embedding) for the balanced fixture: the cf-fit
    store's materialized ``fit`` table when built (its rows ARE the
    generator's output — content equality vs the live derivation pinned
    by test_clustered_cf_fit_store_matches_derived), else the live
    generation. The read-or-compute discipline every fixture audit uses
    (VERDICT r11 #1, extended to the stats queries per VERDICT r12 #5);
    oracles always re-derive from scratch, keeping the store
    hash-checked."""
    from ..operators.storage import read_clustered_cf_fit

    stored, _meta = read_clustered_cf_fit(spark)
    if stored is not None:
        return stored.select("vec_id", "cl", "embedding")
    return clustered_fixture_frame(spark, sf_dir)


def _cm_frame_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass-fixture twin of ``_cf_frame_stored`` (cmass-fit store's
    (vec_id, cl, embedding) columns when built, else live generation;
    content pinned by test_mass_fit_store tests, oracles re-derive)."""
    from ..operators.storage import read_clustered_mass_fit

    stored, _meta = read_clustered_mass_fit(spark)
    if stored is not None:
        return stored.select("vec_id", "cl", "embedding")
    return clustered_mass_fixture_frame(spark, sf_dir)


@register("clustered_fixture_stats", _CF_STATS_SQL)
@memoize_df
def clustered_fixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure proof for the mixture fixture: per generative cluster,
    the mean cosine of members to their OWN center vs to the best OTHER
    center. Measured ≈0.999 vs ≈0.19 — the coarse structure the synthetic
    corpus lacks, and the precondition for every variant priced on this
    fixture. Decimal(20,6) sums for the order-free cross-engine mean
    (the embedding_kmeans parity pattern); max() per row is order-free.

    Scale shape: fixture scan x C-row broadcast centers, one (vec_id)
    partial-agg shuffle + one (cl) rollup — no corpus self-join. Reads
    the cf-fit store's materialized fixture when built (VERDICT r12 #5 —
    the warm cost WAS re-running the 2048 x 64 md5 generation + its
    assembly shuffle every run); cosine is one-parse SQL text (same
    tree, parity pinned in tests/test_sql_expr_parity.py)."""
    from .similarity import cosine_sql

    fx = _cf_frame_stored(spark, sf_dir)
    cents = F.broadcast(
        spark.createDataFrame(
            [(c, cf_center(c)) for c in range(CF_C)],
            "c int, cent array<double>",
        )
    )
    pc = fx.crossJoin(cents).selectExpr(
        "vec_id", "cl", "c", cosine_sql("embedding", "cent") + " AS cos"
    )
    pr = pc.groupBy("vec_id", "cl").agg(
        F.max(F.when(F.col("c") == F.col("cl"), F.col("cos"))).alias("cos_own"),
        F.max(F.when(F.col("c") != F.col("cl"), F.col("cos"))).alias("cos_other"),
    )
    dec = lambda col: col.cast("decimal(20,6)")  # noqa: E731
    return (
        pr.groupBy("cl")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(dec(F.col("cos_own"))).cast("double") / F.count("*"), 6
            ).alias("mean_cos_own"),
            F.round(
                F.sum(dec(F.col("cos_other"))).cast("double") / F.count("*"), 6
            ).alias("mean_cos_best_other"),
        )
        .orderBy(F.col("cl").asc())
    )


# ---------------------------------------------------------------------------
# plain vs residual PQ, priced on coarse structure
# ---------------------------------------------------------------------------


def _cf_pq_sql() -> str:
    """Oracle replaying BOTH PQ variants end-to-end on the generated
    fixture: seed-sliced codebooks (plain: fixture vectors 0..K-1;
    residual: their residuals to the generative centers), the shared
    _ds_expr/_ARGMIN encode kernels from pipeline/pq.py, in-SQL query
    LUTs (same i-order folds as pq_query_lut), fixed-subspace-order ADC
    sums (pq_adc_col's addition order), rank windows, and count-ratio
    recalls (integer counts — no float-sum ordering anywhere)."""
    from .pq import _ARGMIN, _GRID, _ds_expr

    grid_s = _GRID % (PQ_S - 1, "s")
    grid_k = _GRID % (PQ_K - 1, "k")
    lut_fold = (
        f"list_reduce(list_transform(generate_series(1, {PQ_DSUB}), "
        "li -> (qsl[li] - cw[li]) * (qsl[li] - cw[li])), (la, lb) -> la + lb)"
    )
    adc_sum = " + ".join(f"ls[{s + 1}][cs[{s + 1}] + 1]" for s in range(PQ_S))

    def codec(p: str, src: str) -> str:
        """slice -> seed codebook -> encode -> per-vector code list CTEs,
        prefixed so the plain and residual replays compose in one WITH."""
        return f"""{p}sl AS (
      SELECT e.vec_id, t.s,
             list_slice(e.embedding, t.s * {PQ_DSUB} + 1, t.s * {PQ_DSUB} + {PQ_DSUB}) AS sl
      FROM {src} e, {grid_s} t
    ),
    {p}cw AS (
      SELECT t.s, t2.k,
             list_slice(kv.embedding, t.s * {PQ_DSUB} + 1, t.s * {PQ_DSUB} + {PQ_DSUB}) AS cw
      FROM {grid_s} t, {grid_k} t2
      JOIN {src} kv ON kv.vec_id = t2.k
    ),
    {p}cwl AS (SELECT s, list(cw ORDER BY k) AS cws FROM {p}cw GROUP BY s),
    {p}a AS (
      SELECT sl.vec_id, sl.s, {_ds_expr()} AS ds
      FROM {p}sl sl JOIN {p}cwl USING (s)
    ),
    {p}g AS (SELECT vec_id, s, {_ARGMIN} AS code FROM {p}a),
    {p}cs AS (SELECT vec_id, list(code ORDER BY s) AS cs FROM {p}g GROUP BY vec_id)"""

    recalls = ", ".join(
        f"round(CAST(sum(CASE WHEN {v}rk <= {cut} THEN 1 ELSE 0 END) AS DOUBLE)"
        f" / count(*), 6) AS recall_{name}_{cut}"
        for name, v in (("plain", "p"), ("residual", "r"))
        for cut in CF_CUTS
    )
    return f"""
    WITH {_CFX_CTES},
    rfx AS (
      SELECT f.vec_id, f.cl,
             list_transform(generate_series(1, {DIM}),
                            j -> f.embedding[j] - c.cent[j]) AS embedding
      FROM cfx f JOIN cctr c ON c.c = f.cl
    ),
    {codec('p', 'cfx')},
    {codec('r', 'rfx')},
    rcl AS (SELECT vec_id, cl FROM cfx),
    qsl AS (
      SELECT q.vec_id AS qid, t.s,
             list_slice(q.embedding, t.s * {PQ_DSUB} + 1, t.s * {PQ_DSUB} + {PQ_DSUB}) AS qsl
      FROM cfx q, {grid_s} t WHERE q.vec_id < {CF_Q}
    ),
    plut AS (
      SELECT qsl.qid, qsl.s, c.k, {lut_fold} AS v
      FROM qsl JOIN pcw c USING (s)
    ),
    plutl AS (SELECT qid, s, list(v ORDER BY k) AS vs FROM plut GROUP BY qid, s),
    plutm AS (SELECT qid, list(vs ORDER BY s) AS ls FROM plutl GROUP BY qid),
    rqsl AS (
      SELECT q.vec_id AS qid, c.c, t.s,
             list_slice(list_transform(generate_series(1, {DIM}),
                                       j -> q.embedding[j] - c.cent[j]),
                        t.s * {PQ_DSUB} + 1, t.s * {PQ_DSUB} + {PQ_DSUB}) AS qsl
      FROM cfx q CROSS JOIN cctr c, {grid_s} t WHERE q.vec_id < {CF_Q}
    ),
    rlut AS (
      SELECT rqsl.qid, rqsl.c, rqsl.s, cb.k, {lut_fold} AS v
      FROM rqsl JOIN rcw cb USING (s)
    ),
    rlutl AS (SELECT qid, c, s, list(v ORDER BY k) AS vs FROM rlut GROUP BY qid, c, s),
    rlutm AS (SELECT qid, c, list(vs ORDER BY s) AS ls FROM rlutl GROUP BY qid, c),
    padc AS (
      SELECT cc.vec_id, l.qid, {adc_sum} AS adc
      FROM pcs cc CROSS JOIN plutm l WHERE cc.vec_id <> l.qid
    ),
    radc AS (
      SELECT cc.vec_id, l.qid, {adc_sum} AS adc
      FROM rcs cc JOIN rcl ON rcl.vec_id = cc.vec_id
      JOIN rlutm l ON l.c = rcl.cl
      WHERE cc.vec_id <> l.qid
    ),
    prk AS (
      SELECT vec_id, qid,
             row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rk
      FROM padc
    ),
    rrk AS (
      SELECT vec_id, qid,
             row_number() OVER (PARTITION BY qid ORDER BY adc ASC, vec_id ASC) AS rk
      FROM radc
    ),
    tr AS (
      SELECT q.vec_id AS qid, e.vec_id,
             {_cos_sql('e.embedding', 'q.embedding')} AS cos
      FROM cfx e JOIN cfx q ON q.vec_id < {CF_Q} AND e.vec_id <> q.vec_id
    ),
    truth AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rk
        FROM tr
      ) WHERE rk <= {CF_TOP}
    ),
    joined AS (
      SELECT t.qid, t.vec_id, p.rk AS prk, r.rk AS rrk
      FROM truth t
      LEFT JOIN prk p ON p.qid = t.qid AND p.vec_id = t.vec_id
      LEFT JOIN rrk r ON r.qid = t.qid AND r.vec_id = t.vec_id
    )
    SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_q,
           CAST(count(*) AS BIGINT) AS n_true,
           {recalls}
    FROM joined
    """


@register("clustered_pq_variant_audit", _cf_pq_sql())
@memoize_df
def clustered_pq_variant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE pricing experiment VERDICT r8 #3 asked for: plain-PQ vs
    residual-PQ recall@10 at two ADC candidate cuts, on a corpus whose
    coarse structure the quantizer's cells actually capture (here the
    generative mixture centers — isolating codebook quality from
    coarse-fit quality). Same codebook budget both sides (K=8 seeded
    codewords per subspace: fixture vectors 0..7, resp. their residuals).

    Measured (the statement round 8 could not make): residual recall
    0.64 vs plain 0.23 at cut 50; 1.00 vs 0.77 at cut 200. WHY: all
    same-cluster members quantize to nearly the SAME plain codes (the
    codeword grid is spread over ±1 coordinates while within-cluster
    detail lives at ±0.05), so plain ADC cannot rank within a cluster;
    residual codes spend the identical budget entirely on that ±0.05
    structure. On the near-uniform synthetic corpus the audit trio reads
    plain 0.9 / residual 1.0 at CAND 250 — residuals only pay when cells
    remove real coarse structure, and this fixture is the measured
    boundary of "when".

    Scale shape: encode = map-only folds over the fixture scan (the
    pq_encode kernel); LUTs are bounded driver floats; ADC = literal
    lookups; two rank windows partitioned by qid; recalls are integer
    count ratios (no float aggregation order anywhere).

    Reads the fit store's codes-plain/codes-residgen tables when built
    (VERDICT r11 #1 — on the 2k-row fixture the cold cost is PLANNING
    the two S x K encode expression trees, paid once at store build);
    the truth side reads the store's fit frame (same vec_id/cl/
    embedding rows the generator emits); the oracle re-derives both
    encodes and the corpus from scratch."""
    from ..operators.storage import (
        read_clustered_cf_codes,
        read_clustered_cf_fit,
    )

    _stored, _m = read_clustered_cf_fit(spark)
    fx = tracked_persist(
        _stored.select("vec_id", "cl", "embedding")
        if _stored is not None
        else clustered_fixture_frame(spark, sf_dir)
    )
    seeds = [cf_point(k) for k in range(PQ_K)]
    cents = [cf_center(c) for c in range(CF_C)]
    rseeds = [
        [seeds[k][j] - cents[k % CF_C][j] for j in range(DIM)]
        for k in range(PQ_K)
    ]
    qs = [cf_point(q) for q in range(CF_Q)]

    codes_p = read_clustered_cf_codes(spark, "plain")
    codes_r = read_clustered_cf_codes(spark, "residgen")
    if codes_p is None or codes_r is None:
        codes_p = pq_encode(fx, seeds)
        cdf = F.broadcast(
            spark.createDataFrame(
                [(c, cents[c]) for c in range(CF_C)],
                "c int, cent array<double>",
            )
        )
        resid = (
            fx.join(cdf, fx["cl"] == cdf["c"])
            .select(
                "vec_id",
                "cl",
                F.zip_with("embedding", "cent", lambda x, y: x - y).alias(
                    "embedding"
                ),
            )
        )
        codes_r = pq_encode(resid, rseeds, keep=("cl",))

    # LUTs ride in as BROADCAST FRAMES (10 rows plain, 80 rows residual)
    # and the ADC is eight subspace-ordered getItems per row — the first
    # cut inlined every LUT as literal arrays inside per-query CASE
    # chains (≈640 literals), which janino refused (>64KB method ->
    # interpreted) and Catalyst planned for seconds: the same structure
    # as the SQL twin's plutm/rlutm relations is also the fast plan.
    # One-parse SQL text (r13): the same left-assoc sum of
    # try_element_at terms the old per-Column loop built.
    adc_sql = " + ".join(
        f"try_element_at(try_element_at(ls, {s + 1}), c{s} + 1)"
        for s in range(PQ_S)  # pq_adc_col's subspace addition order
    )

    luts_p = [pq_query_lut(seeds, qs[q]) for q in range(CF_Q)]
    plutm = F.broadcast(
        spark.createDataFrame(
            [(q, luts_p[q]) for q in range(CF_Q)],
            "qid int, ls array<array<double>>",
        )
    )
    plain = (
        codes_p.crossJoin(plutm)
        .filter(F.col("vec_id") != F.col("qid"))
        .selectExpr("qid", "vec_id", adc_sql + " AS adc")
    )

    rlutm = F.broadcast(
        spark.createDataFrame(
            [
                (
                    q,
                    c,
                    pq_query_lut(
                        rseeds, [qs[q][j] - cents[c][j] for j in range(DIM)]
                    ),
                )
                for q in range(CF_Q)
                for c in range(CF_C)
            ],
            "qid int, c int, ls array<array<double>>",
        )
    )
    residual = (
        codes_r.join(rlutm, codes_r["cl"] == rlutm["c"])
        .filter(F.col("vec_id") != F.col("qid"))
        .selectExpr("qid", "vec_id", adc_sql + " AS adc")
    )

    w = Window.partitionBy("qid").orderBy(
        F.col("adc").asc(), F.col("vec_id").asc()
    )
    prk = plain.select(
        "qid", "vec_id", F.row_number().over(w).alias("prk")
    )
    rrk = residual.select(
        "qid", "vec_id", F.row_number().over(w).alias("rrk")
    )

    from .similarity import cosine_sql

    q = fx.filter(F.col("vec_id") < CF_Q).selectExpr(
        "CAST(vec_id AS INT) AS qid",
        "embedding AS q_emb",
    )
    wt = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    truth = (
        fx.join(F.broadcast(q), fx["vec_id"] != q["qid"])
        .selectExpr(
            "qid", "vec_id", cosine_sql("embedding", "q_emb") + " AS cos"
        )
        .select("qid", "vec_id", F.row_number().over(wt).alias("rk"))
        .filter(F.col("rk") <= CF_TOP)
        .select("qid", "vec_id")
    )
    joined = truth.join(prk, ["qid", "vec_id"], "left").join(
        rrk, ["qid", "vec_id"], "left"
    )
    recalls = [
        F.expr(
            f"round(CAST(sum(CASE WHEN {v} <= {cut} THEN 1 ELSE 0 END) "
            f"AS DOUBLE) / count(*), 6)"
        ).alias(f"recall_{name}_{cut}")
        for name, v in (("plain", "prk"), ("residual", "rrk"))
        for cut in CF_CUTS
    ]
    return joined.agg(
        F.count_distinct(F.col("qid")).cast("long").alias("n_q"),
        F.count("*").cast("long").alias("n_true"),
        *recalls,
    )


# ---------------------------------------------------------------------------
# SemDeDup cell-blocking priced on true coarse structure
# ---------------------------------------------------------------------------

_CF_SEM_SQL = f"""
    WITH {_CFX_CTES},
    bp AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cfx a JOIN cfx b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {CF_SEM_COS}
    ),
    pall AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cfx a JOIN cfx b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {CF_SEM_PROBE}
        AND {_cos_sql('a.embedding', 'b.embedding')} >= {CF_SEM_COS}
    ),
    pblk AS (SELECT * FROM bp WHERE id_a < {CF_SEM_PROBE}),
    keepers AS (
      SELECT count(*) AS n FROM cfx s
      LEFT JOIN (SELECT DISTINCT id_b FROM bp) d ON s.vec_id = d.id_b
      WHERE d.id_b IS NULL
    )
    SELECT (SELECT n FROM keepers) AS n_keep,
           CAST((SELECT count(*) FROM pblk) AS BIGINT) AS n_probe_pairs_blocked,
           CAST((SELECT count(*) FROM pall) AS BIGINT) AS n_probe_pairs_all,
           CAST((SELECT count(*) FROM pall) -
                (SELECT count(*) FROM pblk) AS BIGINT) AS n_missed_by_blocking
    """


@register("clustered_semdedup_audit", _CF_SEM_SQL)
@memoize_df
def clustered_semdedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's cell-blocking priced on data with REAL coarse structure
    (the r8 gap: cell-blocking had only been exercised on the
    near-uniform corpus, where cells don't mean anything). Blocking key =
    the generative cluster; duplicates at cos >= 0.9 (same-cluster
    members sit ≈0.997, cross-cluster ≤0.26). Reports the keeper count
    under the lowest-id-survives rule (semdedup's contract) and — the
    audit's point — how many duplicate pairs the blocked discovery
    MISSES vs an unblocked probe-sample baseline (probe side = vec_id <
    {CF_SEM_PROBE}, the lsh_recall_audit_sampled shape). Measured: 0
    missed, n_keep = 8 (exactly one representative per mixture
    component — vec_ids 0..7, the lowest id of each cluster).

    Scale shape: blocked pair work shuffles on cl (cell interiors only);
    the unblocked baseline is probe-sample x corpus, the quadratic term
    you only ever pay at audit cadence on a sample. Reads the cf-fit
    store's materialized fixture when built and scores with one-parse
    SQL text (r13 — generation off the hot path, same trees for the
    pair cosines)."""
    from .similarity import dot_fold_sql

    fx = tracked_persist(_cf_frame_stored(spark, sf_dir))
    sides = fx.selectExpr(
        "vec_id",
        "cl",
        "embedding",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS norm",
    )
    a = sides.selectExpr(
        "vec_id AS id_a", "cl AS cl_a", "embedding AS e_a", "norm AS n_a"
    )
    b = sides.selectExpr(
        "vec_id AS id_b", "cl AS cl_b", "embedding AS e_b", "norm AS n_b"
    )
    cos = F.expr(f"({dot_fold_sql('e_a', 'e_b')} / (n_a * n_b))")
    bp = tracked_persist(
        a.join(b, (F.col("cl_a") == F.col("cl_b")) & (F.col("id_a") < F.col("id_b")))
        .filter(cos >= CF_SEM_COS)
        .select("id_a", "id_b")
    )
    pall = (
        a.filter(F.col("id_a") < CF_SEM_PROBE)
        .join(b, F.col("id_a") < F.col("id_b"))
        .filter(cos >= CF_SEM_COS)
        .select("id_a", "id_b")
    )
    n_keep = (
        fx.join(
            bp.select(F.col("id_b").alias("vec_id")).distinct(),
            "vec_id",
            "left_anti",
        )
        .agg(F.count("*").alias("n_keep"))
    )
    counts = (
        bp.filter(F.col("id_a") < CF_SEM_PROBE)
        .agg(F.count("*").cast("long").alias("n_probe_pairs_blocked"))
        .crossJoin(pall.agg(F.count("*").cast("long").alias("n_probe_pairs_all")))
    )
    return (
        n_keep.crossJoin(counts)
        .select(
            "n_keep",
            "n_probe_pairs_blocked",
            "n_probe_pairs_all",
            (F.col("n_probe_pairs_all") - F.col("n_probe_pairs_blocked"))
            .cast("long")
            .alias("n_missed_by_blocking"),
        )
    )


# ---------------------------------------------------------------------------
# END-TO-END trained / residual IVF-PQ probes on the fixture (r10 #1):
# the variant audit above prices CODEBOOK quality with the generative
# centers standing in for the coarse quantizer; these two queries run the
# full production compositions — Lloyd coarse fit over the fixture, cell
# routing at NPROBE, ADC scan of the probed cells only, exact rerank —
# so the residual-vs-plain statement is measured under real cell pruning,
# with the trained (not generative) quantizer.
# ---------------------------------------------------------------------------

CF_IVFPQ_CAND = 200  # ADC cut: the upper CF_CUTS point (residual 1.0 there)

# every fixture oracle shadows the registered ``embeddings`` view with the
# generated corpus; composed as the ``pre`` CTE block of the shared
# pq.py oracle builders (cctr rides along for the residual-free oracles
# that don't use it — DuckDB ignores unreferenced CTEs)
_CF_SHADOW = (
    f"{_CFX_CTES},\n    "
    "embeddings AS (SELECT vec_id, embedding FROM cfx),\n    "
)


def _cf_coarse_fit(spark: SparkSession, sf_dir: str):
    """(fixture frame, (assignments, fitted centroids)) — the shared
    Lloyd contract at k = CF_C seeded from fixture vectors 0..C-1, the
    exact fit clustered_kmeans_agreement_audit proved recovers the
    generative cells (agreement 1.0). The probes below route and
    residual-encode against THESE fitted centroids (means of members),
    not the generative centers — the end-to-end trained pipeline.

    Reads the materialized fit store when built (read-or-compute, the
    mass-fixture discipline: VERDICT r10 #4) — content equality vs the
    live derivation is pinned by
    test_clustered_cf_fit_store_matches_derived, and every oracle
    re-derives from scratch, keeping the store hash-checked."""
    from ..operators.storage import read_clustered_cf_fit
    from .clustering import _lloyd_fit_frame

    stored, meta = read_clustered_cf_fit(spark)
    if stored is not None:
        return (
            stored.select("vec_id", "cl", "embedding"),
            stored.select("vec_id", "cid"),
            meta["cents"],
        )
    fx = clustered_fixture_frame(spark, sf_dir)
    seeds = [cf_point(k) for k in range(CF_C)]
    asg, cents = _lloyd_fit_frame(fx.select("vec_id", "embedding"), seeds)
    return fx, asg, cents


def _cf_pq_train_fit(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """pq.pq_train_fit re-pointed at the fixture: PQT_ITERS per-subspace
    Lloyd rounds (seeds = slices of fixture vectors 0..PQ_K-1) through the
    shared _assigned_slices kernel, returning trained virtual-seed
    vectors. No module cache — the callers are @memoize_df queries, so
    the fit runs once per session and release_caches keeps bench cold
    numbers honest. Reads the fit store's pq_vseeds when built (exact
    JSON double round-trip; oracles re-derive from scratch)."""
    from ..operators.storage import read_clustered_cf_fit
    from .clustering import _dec
    from .pq import PQT_ITERS, _assigned_slices

    _stored, _meta = read_clustered_cf_fit(spark)
    if _meta is not None:
        return [list(c) for c in _meta["pq_vseeds"]]
    fx = clustered_fixture_frame(spark, sf_dir).select("vec_id", "embedding")
    vseeds = [cf_point(k) for k in range(PQ_K)]
    for _ in range(PQT_ITERS - 1):
        means = (
            _assigned_slices(fx, vseeds)
            .groupBy("s", "code")
            .agg(
                F.count("*").alias("n"),
                *[
                    F.sum(_dec(F.try_element_at("sl", F.lit(i)))).alias(f"d{i}")
                    for i in range(1, PQ_DSUB + 1)
                ],
            )
            .select(
                "s",
                "code",
                *[
                    (F.col(f"d{i}").cast("double") / F.col("n")).alias(f"c{i}")
                    for i in range(1, PQ_DSUB + 1)
                ],
            )
            .collect()  # bounded: <= PQ_S * PQ_K = 64 codebook rows
        )
        for r in means:  # empty cells keep their previous codeword
            o = r["s"] * PQ_DSUB
            for i in range(PQ_DSUB):
                vseeds[r["code"]][o + i] = r[f"c{i + 1}"]
    return vseeds


def _cf_residual_parts(
    spark: SparkSession, fx: DataFrame, asg: DataFrame, cents: list[list[float]]
):
    """(residual frame, residual-seeded codebooks) — the shared residual
    derivation of clustered_ivfpq_residual_topk and the fit-store build
    (both must encode against the SAME rseeds or codes aren't
    comparable). Residuals are x − centroid(cell); seeds are the first
    PQ_K fixture vectors re-expressed as residuals of THEIR cells."""
    cdf = F.broadcast(
        spark.createDataFrame(
            [(i, cents[i]) for i in range(len(cents))],
            "cid int, cent array<double>",
        )
    )
    resid = (
        fx.select("vec_id", "embedding")
        .join(asg.select("vec_id", "cid"), "vec_id")
        .join(cdf, "cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with(
                "embedding", "cent", lambda x, y: x.cast("double") - y
            ).alias("embedding"),
        )
    )
    cid_of = {
        r["vec_id"]: r["cid"]
        for r in asg.filter(F.col("vec_id") < PQ_K).collect()  # 8 rows
    }
    seeds = [cf_point(k) for k in range(PQ_K)]
    rseeds = [
        [seeds[k][j] - cents[cid_of[k]][j] for j in range(DIM)]
        for k in range(PQ_K)
    ]
    return resid, rseeds


def _cf_ivfpq_trained_sql() -> str:
    from .clustering import _fit_ctes
    from .pq import _ivfpq_trained_sql

    return _ivfpq_trained_sql(
        pre=_CF_SHADOW, fit=_fit_ctes(CF_C), cand=CF_IVFPQ_CAND
    )


@register("clustered_ivfpq_trained_topk", _cf_ivfpq_trained_sql())
@memoize_df
def clustered_ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-TRAINED IVF-PQ end-to-end on the clustered fixture: Lloyd
    coarse fit (k = CF_C) routes query vec 0 to its NPROBE nearest fitted
    cells; the ADC scan ranks those cells' codes encoded through PQ
    codebooks TRAINED on the fixture (per-subspace Lloyd, pq.py kernels);
    exact rerank of the CF_IVFPQ_CAND survivors. Same plan family as
    ann_ivfpq_trained_topk — only the corpus differs.

    The measured point (clustered_ivfpq_trained_recall_audit): recall@10
    0.9 — training the PLAIN fine codebook on structured data spends
    codewords re-learning the coarse structure the quantizer already
    removed, so within a probed cell the codes discriminate weakly and
    one true neighbor ranks past the 200-candidate cut; the residual twin
    below reads 1.0 at the identical budget and cut. The pair is the
    end-to-end, cell-pruned version of clustered_pq_variant_audit's
    rank-level statement (residual 0.64 vs plain 0.23 at cut 50)."""
    from ..operators.storage import read_clustered_cf_codes
    from .clustering import NPROBE

    fx, asg, cents = _cf_coarse_fit(spark, sf_dir)
    fx = tracked_persist(fx)
    vseeds = _cf_pq_train_fit(spark, sf_dir)
    q_vec = cf_point(0)
    sel = route(q_vec, cents, NPROBE)
    # codes are store-read when built: planning the S x K encode
    # expressions dominates this 2k-row fixture's cold time, and a real
    # deployment encodes once at ingest (the pq_codes_frame discipline)
    codes = read_clustered_cf_codes(spark, "trained")
    if codes is None:
        codes = pq_encode(fx.select("vec_id", "embedding"), vseeds).join(
            asg.select("vec_id", "cid"), "vec_id"
        )
    lut = pq_query_lut(vseeds, q_vec)
    cand = tracked_persist(adc_cut(codes, sel, lut, CF_IVFPQ_CAND))
    return exact_topk(fx.join(F.broadcast(cand), "vec_id"), fx, CF_TOP)


def _cf_ivfpq_residual_sql() -> str:
    from .clustering import _fit_ctes
    from .pq import _ivfpq_residual_sql

    return _ivfpq_residual_sql(
        pre=_CF_SHADOW, fit=_fit_ctes(CF_C), cand=CF_IVFPQ_CAND
    )


@register("clustered_ivfpq_residual_topk", _cf_ivfpq_residual_sql())
@memoize_df
def clustered_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ end-to-end on the clustered fixture: the same
    fitted coarse quantizer as the trained twin, but PQ encodes
    x − centroid(cell) with residual-seeded codebooks and the query
    builds one LUT per probed cell from (q − centroid(cell)) — the
    production composition of ann_ivfpq_residual_topk, on data where
    cells capture real structure. Read with
    clustered_ivfpq_residual_recall_audit vs the trained twin's audit."""
    from ..operators.storage import read_clustered_cf_codes, read_clustered_cf_fit
    from .clustering import NPROBE

    fx, asg, cents = _cf_coarse_fit(spark, sf_dir)
    fx = tracked_persist(fx)
    q_vec = cf_point(0)
    sel = route(q_vec, cents, NPROBE)
    # residual codes + rseeds are store-read when built (same planning
    # economics as the trained twin; rseeds round-trip exactly via JSON)
    codes = read_clustered_cf_codes(spark, "residual")
    if codes is not None:
        _f, _meta = read_clustered_cf_fit(spark)
        rseeds = _meta["pq_rseeds"]
    else:
        resid, rseeds = _cf_residual_parts(spark, fx, asg, cents)
        codes = pq_encode(resid, rseeds, keep=("cid",))
    luts = {
        c: pq_query_lut(rseeds, [q_vec[j] - cents[c][j] for j in range(DIM)])
        for c in sel
    }
    cand = tracked_persist(adc_cut(codes, sel, luts, CF_IVFPQ_CAND))
    return exact_topk(fx.join(F.broadcast(cand), "vec_id"), fx, CF_TOP)


def _cf_exact_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id) of the fixture's exact cosine top-CF_TOP for vec 0. Reads
    the stored fit rows when built (same vectors; equality pinned by the
    fit-store test) instead of re-generating the fixture — the oracle
    still derives from scratch."""
    from ..operators.storage import read_clustered_cf_fit
    from .similarity import cosine_sql

    _stored, _ = read_clustered_cf_fit(spark)
    fx = tracked_persist(
        _stored.select("vec_id", "cl", "embedding")
        if _stored is not None
        else clustered_fixture_frame(spark, sf_dir)
    )
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    q = fx.filter(F.col("vec_id") == 0).selectExpr("embedding AS q_emb")
    return (
        fx.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .selectExpr("vec_id", cosine_sql("embedding", "q_emb") + " AS cos")
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(CF_TOP)
        .select("vec_id")
    )


# the clustered fixture as a recall baseline: brute force over the
# generated cfx relation, the probe's ids read unheld
CF_FIXTURE = RecallBaseline(
    oracle=lambda k: f"WITH {_CFX_CTES}{brute_force_sql(k, 'cfx').rstrip()}",
    exact=_cf_exact_ids,
    hold=lambda df: df,
)


_CF_TRAINED_RECALL_SQL, _cf_trained_recall = recall_at_k(
    _cf_ivfpq_trained_sql(), clustered_ivfpq_trained_topk, CF_FIXTURE, CF_TOP
)


@register("clustered_ivfpq_trained_recall_audit", _CF_TRAINED_RECALL_SQL)
def clustered_ivfpq_trained_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of the fully-trained end-to-end probe vs fixture brute
    force — measured 0.9 vs the residual twin's 1.0: the driver-checkable
    end-to-end form of clustered_pq_variant_audit's residual-beats-plain
    statement (trained plain codewords re-learn the coarse structure the
    quantizer already removed, so within-cell ranking stays loose)."""
    return _cf_trained_recall(spark, sf_dir)


_CF_RESIDUAL_RECALL_SQL, _cf_residual_recall = recall_at_k(
    _cf_ivfpq_residual_sql(), clustered_ivfpq_residual_topk, CF_FIXTURE, CF_TOP
)


@register("clustered_ivfpq_residual_recall_audit", _CF_RESIDUAL_RECALL_SQL)
def clustered_ivfpq_residual_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@10 of the residual end-to-end probe vs fixture brute force
    — the residual side of the pair."""
    return _cf_residual_recall(spark, sf_dir)


# ---------------------------------------------------------------------------
# cell-occupancy skew under real structure (r10 #2): fit at a width that
# does NOT match the generative component count
# ---------------------------------------------------------------------------

CF_KSPLIT = 16  # 2 seeds per generative component (i % C construction)


def _cf_occ_sql() -> str:
    from .clustering import _fit_ctes

    return f"""
    WITH {_CF_SHADOW}{_fit_ctes(CF_KSPLIT)},
    sizes AS (SELECT cid, count(*) AS sz FROM g2 GROUP BY cid)
    SELECT CAST({CF_KSPLIT} AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(sz) AS BIGINT) AS min_cell,
           CAST(max(sz) AS BIGINT) AS max_cell,
           round(CAST(max(sz) AS DOUBLE) * {CF_KSPLIT} / {CF_N}, 6)
             AS max_over_avg,
           CAST({CF_N // CF_KSPLIT} AS BIGINT) AS cand_per_probe_balanced,
           round(CAST(sum(sz * sz) AS DOUBLE) / {CF_N}, 6)
             AS cand_per_probe_weighted
    FROM sizes
    """


@register("clustered_ivf_occupancy_audit", _cf_occ_sql())
@memoize_df
def clustered_ivf_occupancy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cell-size skew when the IVF width does NOT match the data's coarse
    structure: the shared Lloyd fit at k = 2·CF_C over the 8-component
    fixture (seeds = fixture vectors 0..15, i.e. two per component).
    Lloyd must SPLIT tight clusters between seed pairs, and how the
    members fall is set by the noise — the occupancy imbalance the
    near-uniform corpus structurally hides (its audit always reads
    near-balanced cells), and the exact effect behind the sharded-IVF
    crossing's 9% prediction gap (BENCH_SCALE: the prediction assumes
    balanced cells).

    Columns: min/max cell size, max/avg ratio, and the scan-cost
    consequence — candidates per probe under the balanced-cell assumption
    (N/k) vs occupancy-weighted routing (Σ sz² / N, queries landing in
    cells proportionally to their mass). Measured: min 53 / max 203
    (avg 128, max/avg 1.586); weighted 137.2 vs balanced 128 — a +7%
    mean scan tax and a 1.6x worst-cell latency tail, the numbers a
    100 TB capacity plan must budget for (and the balanced-cell
    assumption's error the sharded crossing's 9% gap already showed).
    All inputs are integer counts; the two doubles are single exact
    divisions — no float aggregation order.

    Reads the fit store's materialized CF_KSPLIT assignment when built
    (VERDICT r11 #1 — this audit's cold cost WAS the re-fit); the
    oracle re-derives the fit from scratch, keeping the store
    hash-checked."""
    from ..operators.storage import read_clustered_cf_ksplit
    from .clustering import _lloyd_fit_frame

    asg = read_clustered_cf_ksplit(spark)
    if asg is None:
        fx = tracked_persist(clustered_fixture_frame(spark, sf_dir))
        seeds = [cf_point(k) for k in range(CF_KSPLIT)]
        asg, _cents = _lloyd_fit_frame(fx.select("vec_id", "embedding"), seeds)
    sizes = asg.groupBy("cid").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.lit(CF_KSPLIT).cast("int").alias("k"),
        F.count("*").cast("long").alias("n_cells"),
        F.min("sz").cast("long").alias("min_cell"),
        F.max("sz").cast("long").alias("max_cell"),
        F.round(
            F.max("sz").cast("double") * CF_KSPLIT / F.lit(CF_N), 6
        ).alias("max_over_avg"),
        F.lit(CF_N // CF_KSPLIT).cast("long").alias("cand_per_probe_balanced"),
        F.round(
            F.sum(F.col("sz") * F.col("sz")).cast("double") / F.lit(CF_N), 6
        ).alias("cand_per_probe_weighted"),
    )


# ---------------------------------------------------------------------------
# MASS-IMBALANCE fixture: skew from imbalanced category sizes at a
# STRUCTURE-MATCHED width. The width-mismatch audit above manufactures
# skew by giving Lloyd too many cells; real corpora skew the other way —
# the categories themselves are imbalanced (web data: a few giant
# languages/domains, a long tail), so even a perfectly-sized index has
# hot cells. Component sizes here follow a halving ladder
# (1021, 511, 256, 129, 65, 33, 17, 16 — component of point i >= 8 is
# the trailing-zero count of i-7, capped; points 0..7 seed one per
# component so the shared fixed-width fit's vec_id<k seeding lands one
# seed per component).
# ---------------------------------------------------------------------------


def cm_cl(i: int) -> int:
    if i < CF_C:
        return i
    m = i - 7
    for c in range(CF_C - 1):
        if m % (2 << c) == (1 << c):
            return c
    return CF_C - 1


def cm_point(i: int) -> list[float]:
    cent = cf_center(cm_cl(i))
    return [
        cent[j] + (_h8_py(f"cm:{i}:{j}") % 2001 - 1000) / 20000.0
        for j in range(DIM)
    ]


def _cm_cl_col(i_col) -> F.Column:
    c = F.when(i_col < CF_C, i_col.cast("int"))
    m = i_col - 7
    for cc_ in range(CF_C - 1):
        c = c.when(m % (2 << cc_) == (1 << cc_), F.lit(cc_))
    return c.otherwise(F.lit(CF_C - 1)).cast("int")


def _cm_cl_sql() -> str:
    whens = "\n               ".join(
        f"WHEN (i - 7) % {2 << c} = {1 << c} THEN {c}"
        for c in range(CF_C - 1)
    )
    return (
        f"CAST(CASE WHEN i < {CF_C} THEN i\n               "
        f"{whens}\n               ELSE {CF_C - 1} END AS INT)"
    )


@memoize_df
def clustered_mass_fixture_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cl, embedding) for the mass-imbalance mixture — the
    clustered_fixture_frame generation shape (explode-per-coordinate,
    ordered-collect assembly, everything in codegen) with the
    trailing-zeros component map and the 'cm' noise namespace."""
    return clustered_mass_corpus_frame(spark, CF_N)


def clustered_mass_corpus_frame(spark: SparkSession, n: int) -> DataFrame:
    """The mass-imbalance mixture at an arbitrary corpus size ``n`` —
    the trailing-zeros component map is SCALE-FREE (component
    proportions are independent of n), so growing n keeps the halving
    ladder's category imbalance intact with fresh per-row noise. This
    is how the scale probe feeds the adaptive store genuinely skewed
    data at 30x+ (VERDICT r10 #3) instead of the near-uniform driver
    corpus whose hot-cell count is structurally zero."""
    base = spark.range(n).select(
        F.col("id").alias("vec_id"), _cm_cl_col(F.col("id")).alias("cl")
    )
    coords = base.select(
        "vec_id", "cl", F.explode(F.sequence(F.lit(0), F.lit(DIM - 1))).alias("j")
    )
    cterm = (
        _h8_col(
            F.concat(
                F.lit("cc:"),
                F.col("cl").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        )
        % 2001
        - 1000
    ) / F.lit(1000.0)
    nterm = (
        _h8_col(
            F.concat(
                F.lit("cm:"),
                F.col("vec_id").cast("string"),
                F.lit(":"),
                F.col("j").cast("string"),
            )
        )
        % 2001
        - 1000
    ) / F.lit(20000.0)
    vals = coords.select("vec_id", "cl", "j", (cterm + nterm).alias("v"))
    return vals.groupBy("vec_id", "cl").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "v"))), lambda s: s["v"]
        ).alias("embedding")
    )


def _cmx_ctes_at(n: int, materialized: bool = False) -> str:
    """The mass-fixture generation CTEs at an arbitrary corpus size
    (the construction is scale-free — see clustered_mass_corpus_frame).
    ``materialized`` pins cmx for oracles whose CTE chains reference it
    many times (the g2m AS MATERIALIZED lesson applied to the corpus
    itself — at the wide fixture's 16384 x DIM md5 terms, re-inlining
    the generation per consumer dominates the oracle)."""
    mat = " MATERIALIZED" if materialized else ""
    return f"""cmx AS{mat} (
      SELECT i AS vec_id, {_cm_cl_sql()} AS cl,
             list_transform(generate_series(1, {DIM}), j ->
               {_cfx_coord_sql('cc', _cm_cl_sql(), '1000.0')}
               + {_cfx_coord_sql('cm', 'i', '20000.0')}) AS embedding
      FROM generate_series(0, {n - 1}) t(i)
    ),
    cctr AS (
      SELECT CAST(c AS INT) AS c,
             list_transform(generate_series(1, {DIM}), j ->
               {_cfx_coord_sql('cc', 'c', '1000.0')}) AS cent
      FROM generate_series(0, {CF_C - 1}) t(c)
    )"""


_CMX_CTES = _cmx_ctes_at(CF_N)

_CM_STATS_SQL = f"""
    WITH {_CMX_CTES},
    pc AS (
      SELECT f.vec_id, f.cl, c.c,
             {_cos_sql('f.embedding', 'c.cent')} AS cos
      FROM cmx f CROSS JOIN cctr c
    ),
    pr AS (
      SELECT vec_id, cl,
             max(CASE WHEN c = cl THEN cos END) AS cos_own,
             max(CASE WHEN c <> cl THEN cos END) AS cos_other
      FROM pc GROUP BY vec_id, cl
    )
    SELECT cl, count(*) AS n,
           round(CAST(sum(CAST(cos_own AS DECIMAL(20,6))) AS DOUBLE)
                 / count(*), 6) AS mean_cos_own,
           round(CAST(sum(CAST(cos_other AS DECIMAL(20,6))) AS DOUBLE)
                 / count(*), 6) AS mean_cos_best_other
    FROM pr GROUP BY cl ORDER BY cl ASC
    """


@register("clustered_mass_fixture_stats", _CM_STATS_SQL)
@memoize_df
def clustered_mass_fixture_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure + mass profile of the imbalanced fixture: per component,
    the halving-ladder size (1021 down to 16) and the same tight/loose
    cosine separation as the balanced fixture (own ≈0.999, best-other
    ≈0.19) — real coarse structure with REALISTIC category imbalance.
    Reads the cmass-fit store's materialized fixture when built and
    scores with one-parse SQL text (VERDICT r12 #5, same treatment as
    clustered_fixture_stats)."""
    from .similarity import cosine_sql

    fx = _cm_frame_stored(spark, sf_dir)
    cents = F.broadcast(
        spark.createDataFrame(
            [(c, cf_center(c)) for c in range(CF_C)],
            "c int, cent array<double>",
        )
    )
    pc = fx.crossJoin(cents).selectExpr(
        "vec_id", "cl", "c", cosine_sql("embedding", "cent") + " AS cos"
    )
    pr = pc.groupBy("vec_id", "cl").agg(
        F.max(F.when(F.col("c") == F.col("cl"), F.col("cos"))).alias("cos_own"),
        F.max(F.when(F.col("c") != F.col("cl"), F.col("cos"))).alias("cos_other"),
    )
    dec = lambda col: col.cast("decimal(20,6)")  # noqa: E731
    return (
        pr.groupBy("cl")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(dec(F.col("cos_own"))).cast("double") / F.count("*"), 6
            ).alias("mean_cos_own"),
            F.round(
                F.sum(dec(F.col("cos_other"))).cast("double") / F.count("*"), 6
            ).alias("mean_cos_best_other"),
        )
        .orderBy(F.col("cl").asc())
    )


def _cm_occ_sql() -> str:
    from .clustering import _fit_ctes

    return f"""
    WITH {_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    sizes AS (SELECT cid, count(*) AS sz FROM g2 GROUP BY cid)
    SELECT CAST({CF_C} AS INT) AS k,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(sz) AS BIGINT) AS min_cell,
           CAST(max(sz) AS BIGINT) AS max_cell,
           round(CAST(max(sz) AS DOUBLE) * {CF_C} / {CF_N}, 6)
             AS max_over_avg,
           CAST({CF_N // CF_C} AS BIGINT) AS cand_per_probe_balanced,
           round(CAST(sum(sz * sz) AS DOUBLE) / {CF_N}, 6)
             AS cand_per_probe_weighted
    FROM sizes
    """


@register("clustered_mass_occupancy_audit", _cm_occ_sql())
@memoize_df
def clustered_mass_occupancy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Occupancy skew from MASS imbalance at the structure-matched width:
    the shared Lloyd fit at k = CF_C (one seed per component by
    construction) on the halving-ladder fixture. Unlike the
    width-mismatch audit — where skew came from Lloyd splitting tight
    clusters arbitrarily — here the fit recovers the components
    perfectly and the skew IS the data: measured max_over_avg 3.988
    (1021-row hot cell vs 256 average), occupancy-weighted scan cost
    679.5 vs the balanced-cell 256 — a 2.7x mean scan tax from category
    imbalance alone. This is the regime a real corpus (dominant
    language/domain + long tail) puts an IVF index in even when the
    ladder width is exactly right, and the regime the adaptive
    hot-cell store exists for (its BENCH_SCALE entry measures the
    mitigation on generated skew of this exact shape).

    Reads the mass fit store's level-1 assignment when built (VERDICT
    r11 #1 — the 4.98 s cold cost was this audit re-running the exact
    fit the store materializes); the oracle re-derives the fit from
    scratch, keeping the store hash-checked."""
    from ..operators.storage import read_clustered_mass_fit
    from .clustering import _lloyd_fit_frame

    stored, _meta = read_clustered_mass_fit(spark)
    if stored is not None:
        asg = stored.select("vec_id", "cid")
    else:
        fx = tracked_persist(clustered_mass_fixture_frame(spark, sf_dir))
        seeds = [cm_point(k) for k in range(CF_C)]
        asg, _cents = _lloyd_fit_frame(fx.select("vec_id", "embedding"), seeds)
    sizes = asg.groupBy("cid").agg(F.count("*").alias("sz"))
    return sizes.agg(
        F.lit(CF_C).cast("int").alias("k"),
        F.count("*").cast("long").alias("n_cells"),
        F.min("sz").cast("long").alias("min_cell"),
        F.max("sz").cast("long").alias("max_cell"),
        F.round(F.max("sz").cast("double") * CF_C / F.lit(CF_N), 6).alias(
            "max_over_avg"
        ),
        F.lit(CF_N // CF_C).cast("long").alias("cand_per_probe_balanced"),
        F.round(
            F.sum(F.col("sz") * F.col("sz")).cast("double") / F.lit(CF_N), 6
        ).alias("cand_per_probe_weighted"),
    )


# ---------------------------------------------------------------------------
# adaptive hot-cell economics as a DRIVER-CHECKABLE row: the oracle
# replays the whole adaptive build plan — matched-width coarse fit,
# integer hot-threshold, a per-cell DYNAMIC-width level-2 fit gated to
# hot cells only — and reports the same accounting the store build
# writes to its meta.
# ---------------------------------------------------------------------------

CF_HOT_PCT = 125  # = storage.ADAPTIVE_HOT_FACTOR * 100 (pinned by test)


def _cm_hot_pred(c: int, n: int = CF_N) -> str:
    """Integer-exact hot test for cell c: sz * k1 * 100 > PCT * N."""
    return (
        f"(SELECT n FROM szc WHERE cid = {c}) * {CF_C * 100} "
        f"> {CF_HOT_PCT * n}"
    )


def _cm_cell_fit_ctes(c: int, n: int = CF_N) -> str:
    """Level-2 dyn-width Lloyd replay INSIDE cell ``c``, gated on the
    hot predicate (cold cells produce empty CTEs and cost nothing —
    the _fit_ctes guard idea applied per cell). Width = the ladder of
    the CELL's size (ivf_cells_sql); seeds = the cell's first k2
    members by vec_id (the build's cell.orderBy(vec_id).limit(k2));
    assignment/means/argmin are the _fit_ctes_dyn idioms, so the leaf
    layout is bit-identical to _lloyd_fit_frame's."""
    from .clustering import _cent_sql, _dist_sql, _sums_sql
    from .params import ivf_cells_sql

    p = f"h{c}"
    d = _dist_sql("e.embedding", "s.c")
    return f"""cell{c} AS (
      SELECT vec_id, embedding FROM g2m
      WHERE cid = {c} AND {_cm_hot_pred(c, n)}
    ),
    {p}k AS (SELECT {ivf_cells_sql(f'(SELECT count(*) FROM cell{c})')} AS k),
    {p}seeds AS (
      SELECT rn - 1 AS scid, cvec AS c FROM (
        SELECT row_number() OVER (ORDER BY vec_id) AS rn,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM cell{c}
      ) t, {p}k WHERE rn <= {p}k.k
    ),
    {p}a0 AS (
      SELECT e.vec_id, e.embedding,
             min(struct_pack(d := {d}, c := s.scid)) AS mn
      FROM cell{c} e, {p}seeds s
      GROUP BY e.vec_id, e.embedding
    ),
    {p}g1 AS (SELECT vec_id, embedding, CAST(mn.c AS INT) AS cid FROM {p}a0),
    {_sums_sql(f'{p}g1', f'{p}s1')},
    {_cent_sql(f'{p}s1', f'{p}c1v')},
    {p}a1 AS (
      SELECT e.vec_id, e.embedding,
             min(struct_pack(d := {d}, c := s.cid)) AS mn
      FROM {p}g1 e, {p}c1v s
      GROUP BY e.vec_id, e.embedding
    ),
    {p}g2 AS (SELECT vec_id, CAST(mn.c AS INT) AS cid FROM {p}a1),
    {p}leaves AS (SELECT cid, count(*) AS sz FROM {p}g2 GROUP BY cid)"""


def _cm_adaptive_sql() -> str:
    """g2m/szc are AS MATERIALIZED: eight per-cell fit chains each
    reference the coarse fit, and DuckDB's default CTE inlining
    re-evaluates the whole Lloyd replay inside every chain — measured
    131.7 s for ONE cell chain, 1.4 s with the hint (the SQL-side twin
    of the wide-literal-projection lesson: shared expensive state must
    be pinned, not re-derived per consumer)."""
    from .clustering import _fit_ctes
    from .params import ivf_cells_sql

    cells = ",\n    ".join(_cm_cell_fit_ctes(c) for c in range(CF_C))
    terms = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid, "
        f"COALESCE((SELECT sum(sz * sz) FROM h{c}leaves), "
        f"(SELECT n * n FROM szc WHERE cid = {c})) AS s2, "
        f"COALESCE(NULLIF((SELECT count(*) FROM h{c}leaves), 0), 1) AS nl"
        for c in range(CF_C)
    )
    return f"""
    WITH {_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    g2m AS MATERIALIZED (SELECT vec_id, embedding, cid FROM g2),
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2m GROUP BY cid),
    {cells},
    terms AS (
      {terms}
    )
    SELECT CAST({CF_C} AS INT) AS k1,
           (SELECT CAST(count(*) AS BIGINT) FROM szc
            WHERE n * {CF_C * 100} > {CF_HOT_PCT * CF_N}) AS n_hot_cells,
           CAST((SELECT sum(nl) FROM terms) AS BIGINT) AS n_leaves_adaptive,
           (SELECT CAST(sum({ivf_cells_sql('n')}) AS BIGINT) FROM szc)
             AS n_leaves_full_shard,
           round((SELECT CAST(sum(n * n) AS DOUBLE) FROM szc) / {CF_N}, 6)
             AS cand_per_probe_flat,
           round((SELECT CAST(sum(s2) AS DOUBLE) FROM terms) / {CF_N}, 6)
             AS cand_per_probe_adaptive
    """


@register("clustered_adaptive_occupancy_audit", _cm_adaptive_sql())
@memoize_df
def clustered_adaptive_occupancy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The adaptive hot-cell store's economics as a driver-verifiable
    row, on the realistic mass-imbalance regime: matched-width coarse
    fit (k1 = CF_C), integer hot threshold (sz·k1·100 > 125·N — the
    build's hot_factor 1.25), level-2 dyn-width Lloyd fits inside hot
    cells ONLY, and the resulting scan economics. Measured: 2 of 8
    cells hot (the 1021- and 511-row dominant categories),
    cand-per-probe 679.5 flat → 229.5 adaptive (3.0x) at 14 leaves vs
    the 32 an everything-split layout costs — the BENCH_SCALE
    `adaptive_skew_mitigation.mass_imbalance` numbers, now hash-checked
    against a DuckDB replay of the full two-level fit plan every round.

    Spark side mirrors build_adaptive_ivf_store's derivation exactly
    (shared _lloyd_fit_frame contracts, first-k2-by-vec_id seeds,
    ladder widths); driver state is bounded (k centroids + k2 seeds
    per hot cell + per-leaf counts). Reads the materialized fit
    (operators/storage.py build_clustered_mass_fit_store) when built —
    a fit is an index-build artifact, not per-audit work — and the
    DuckDB oracle still re-derives the whole two-level fit from
    scratch, so the store content stays hash-checked every round."""
    from ..operators.storage import read_clustered_mass_fit
    from .clustering import _lloyd_fit_frame
    from .params import ivf_cells_for

    stored, meta = read_clustered_mass_fit(spark)
    if stored is not None:
        sizes = meta["sizes"]
        n_hot = len(meta["level2"])
        leaf_rows = (
            stored.groupBy("cid", "cid2").agg(F.count("*").alias("n")).collect()
        )
        leaf_s2 = sum(r["n"] * r["n"] for r in leaf_rows)
        n_leaves = len(leaf_rows)
    else:
        fx = tracked_persist(clustered_mass_fixture_frame(spark, sf_dir))
        emb = fx.select("vec_id", "embedding")
        asg, _cents = _lloyd_fit_frame(
            emb, [cm_point(k) for k in range(CF_C)]
        )
        asg = tracked_persist(asg)
        sizes = {
            r["cid"]: r["n"]
            for r in asg.groupBy("cid").agg(F.count("*").alias("n")).collect()
        }
        leaf_s2 = 0
        n_leaves = 0
        n_hot = 0
        for c in range(CF_C):
            sz = sizes[c]
            if sz * CF_C * 100 > CF_HOT_PCT * CF_N:
                n_hot += 1
                cell = emb.join(
                    asg.filter(F.col("cid") == c).select("vec_id"), "vec_id"
                )
                k2 = ivf_cells_for(sz)
                seeds2 = [
                    [float(x) for x in r["embedding"]]
                    for r in cell.orderBy("vec_id").limit(k2).collect()
                ]
                asg2, _ = _lloyd_fit_frame(cell, seeds2)
                for r in (
                    asg2.groupBy("cid").agg(F.count("*").alias("n")).collect()
                ):
                    leaf_s2 += r["n"] * r["n"]
                    n_leaves += 1
            else:
                leaf_s2 += sz * sz
                n_leaves += 1
    full = sum(ivf_cells_for(sz) for sz in sizes.values())
    flat = round(sum(sz * sz for sz in sizes.values()) / CF_N, 6)
    adaptive = round(leaf_s2 / CF_N, 6)
    return spark.createDataFrame(
        [(CF_C, n_hot, n_leaves, full, flat, adaptive)],
        "k1 int, n_hot_cells long, n_leaves_adaptive long, "
        "n_leaves_full_shard long, cand_per_probe_flat double, "
        "cand_per_probe_adaptive double",
    )


# ---------------------------------------------------------------------------
# dedup pair work under mass imbalance: blocked all-pairs is QUADRATIC
# in the hot cell, so category skew hits dedup harder than scans
# ---------------------------------------------------------------------------

_CM_SEM_SQL = f"""
    WITH {_CMX_CTES},
    sz AS (SELECT cl, count(*) AS n FROM cmx GROUP BY cl),
    pw AS (SELECT cl, n * (n - 1) / 2 AS pairs FROM sz),
    bp AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cmx a JOIN cmx b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {CF_SEM_COS}
    ),
    keepers AS (
      SELECT count(*) AS n FROM cmx s
      LEFT JOIN (SELECT DISTINCT id_b FROM bp) d ON s.vec_id = d.id_b
      WHERE d.id_b IS NULL
    )
    SELECT (SELECT n FROM keepers) AS n_keep,
           CAST((SELECT count(*) FROM bp) AS BIGINT) AS n_dup_pairs,
           CAST((SELECT sum(pairs) FROM pw) AS BIGINT) AS n_blocked_pairs,
           CAST((SELECT max(pairs) FROM pw) AS BIGINT) AS max_cell_pairs,
           round((SELECT max(pairs) FROM pw)::DOUBLE
                 / (SELECT sum(pairs) FROM pw), 6) AS max_cell_pair_share
    """


@register("clustered_mass_semdedup_audit", _CM_SEM_SQL)
@memoize_df
def clustered_mass_semdedup_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup's blocked pair work under category imbalance: pair work
    inside a cell is sz·(sz−1)/2 — QUADRATIC — so the skew that costs a
    scan 2.7x (clustered_mass_occupancy_audit) costs dedup far more.
    Measured: the dominant 1021-row component holds 520,710 of the
    694,775 blocked pairs — **74.9% of all pair work in one cell**
    (cell share of rows: 49.9%) — while correctness is unchanged
    (n_keep = 8, one representative per component, every same-component
    pair a duplicate at cos >= 0.9). At 100 TB this is the straggler
    task: the hot cell's pair stage runs ~10x the median cell, and the
    adaptive split that fixed the scan is ALSO the right pair-blocking
    refinement (level-2 cells cut pair work quadratically, at the
    recall price clustered_adaptive_probe_recall_audit measures for
    neighbors — for >= 0.9 near-duplicates the planted-pair pattern
    shows clones co-route, so the practical loss is far smaller).

    Scale shape: pair work shuffles on cl (cell interiors only); the
    blocked-pair counts are integer arithmetic off group sizes, not an
    enumerated cross join."""
    from ..operators.storage import read_clustered_mass_fit

    _stored, _ = read_clustered_mass_fit(spark)
    fx = tracked_persist(
        _stored.select("vec_id", "cl", "embedding")
        if _stored is not None
        else clustered_mass_fixture_frame(spark, sf_dir)
    )
    sz = fx.groupBy("cl").agg(F.count("*").alias("n"))
    pw = sz.select(
        "cl", (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("pairs")
    )
    bp = _cm_sem_truth_pairs(spark, sf_dir)
    n_keep = (
        fx.join(
            bp.select(F.col("id_b").alias("vec_id")).distinct(),
            "vec_id",
            "left_anti",
        ).agg(F.count("*").alias("n_keep"))
    )
    work = pw.agg(
        F.sum("pairs").cast("long").alias("n_blocked_pairs"),
        F.max("pairs").cast("long").alias("max_cell_pairs"),
        F.round(
            F.max("pairs").cast("double") / F.sum("pairs").cast("double"), 6
        ).alias("max_cell_pair_share"),
    )
    dup = bp.agg(F.count("*").cast("long").alias("n_dup_pairs"))
    return n_keep.crossJoin(dup).crossJoin(work).select(
        "n_keep",
        "n_dup_pairs",
        "n_blocked_pairs",
        "max_cell_pairs",
        "max_cell_pair_share",
    )


def _cm_adaptive_sem_sql() -> str:
    from .clustering import _fit_ctes

    cells = ",\n    ".join(_cm_cell_fit_ctes(c) for c in range(CF_C))
    l2g = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid1, vec_id, cid AS cid2 FROM h{c}g2"
        for c in range(CF_C)
    )
    return f"""
    WITH {_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    g2m AS MATERIALIZED (SELECT vec_id, embedding, cid FROM g2),
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2m GROUP BY cid),
    {cells},
    l2g AS MATERIALIZED (
      {l2g}
    ),
    leafasg AS MATERIALIZED (
      SELECT g.vec_id, g.cid, COALESCE(h.cid2, 0) AS cid2
      FROM g2m g LEFT JOIN l2g h
        ON g.cid = h.cid1 AND g.vec_id = h.vec_id
    ),
    lsz AS (SELECT cid, cid2, count(*) AS n FROM leafasg GROUP BY cid, cid2),
    csz AS (SELECT cl, count(*) AS n FROM cmx GROUP BY cl),
    bp AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cmx a JOIN cmx b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {CF_SEM_COS}
    ),
    miss AS (
      SELECT count(*) AS n FROM bp
      JOIN leafasg la ON bp.id_a = la.vec_id
      JOIN leafasg lb ON bp.id_b = lb.vec_id
      WHERE la.cid <> lb.cid OR la.cid2 <> lb.cid2
    )
    SELECT
      CAST((SELECT sum(n * (n - 1) / 2) FROM csz) AS BIGINT)
        AS blocked_pairs_cl,
      CAST((SELECT sum(n * (n - 1) / 2) FROM lsz) AS BIGINT)
        AS blocked_pairs_leaf,
      CAST((SELECT max(n * (n - 1) / 2) FROM lsz) AS BIGINT)
        AS max_leaf_pairs,
      round((SELECT sum(n * (n - 1) / 2) FROM csz)::DOUBLE
            / (SELECT sum(n * (n - 1) / 2) FROM lsz), 6)
        AS pair_work_ratio,
      CAST((SELECT count(*) FROM bp) AS BIGINT) AS n_dup_pairs,
      CAST((SELECT n FROM miss) AS BIGINT) AS missed_dup_pairs,
      round(1.0 - (SELECT n FROM miss)::DOUBLE
            / (SELECT count(*) FROM bp), 6) AS pair_recall
    """


@register("clustered_adaptive_semdedup_audit", _cm_adaptive_sem_sql())
@memoize_df
def clustered_adaptive_semdedup_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Is the adaptive split the right PAIR-BLOCKING key too (VERDICT
    r10 #8 / PLANS r13 #4)? clustered_mass_semdedup_audit showed the
    dominant category holds 74.9% of blocked pair work; this row blocks
    the SAME verified duplicates by the fitted adaptive (cid, cid2)
    leaves instead of the generative category and reports both sides of
    the trade. Measured: pair work drops 2.97x (694,775 -> 233,970
    blocked pairs; the worst leaf carries 79,401 vs the hot cell's
    520,710) but pair recall is 0.34 — 460,805 of the 694,775 verified
    >= 0.9-cos pairs land in DIFFERENT level-2 leaves and are never
    compared. The answer to PLANS r13 #4 is therefore a measured NO
    with a boundary: hot-cell interiors are structureless (the probe
    recall audit's same finding), so category-level near-duplicates
    cross leaves freely and the adaptive split alone is the wrong
    SemDeDup blocking key; it is only safe for clone-like duplicates
    that co-route by construction (the planted-pair regime), and a
    leaf-blocked pass needs neighboring-leaf expansion — exactly the
    nprobe2-style widening the topk variants price — to buy recall
    back. Leaf assignments are the exact build layout (stored mass fit
    when built, else the live two-level derivation); truth pairs
    re-derive from the generative components, so the oracle hash-checks
    both the fit REPLAY and the miss accounting from scratch."""
    fx, leaf = _cm_leaf_assignments(spark, sf_dir)
    csz = fx.groupBy("cl").agg(F.count("*").alias("n"))
    lsz = leaf.groupBy("cid", "cid2").agg(F.count("*").alias("n"))
    pairs = lambda col: (col * (col - 1) / 2).cast("long")  # noqa: E731
    bp = _cm_sem_truth_pairs(spark, sf_dir)
    la = leaf.select(
        F.col("vec_id").alias("id_a"),
        F.col("cid").alias("ca"),
        F.col("cid2").alias("ca2"),
    )
    lb = leaf.select(
        F.col("vec_id").alias("id_b"),
        F.col("cid").alias("cb"),
        F.col("cid2").alias("cb2"),
    )
    miss = (
        bp.join(F.broadcast(la), "id_a")
        .join(F.broadcast(lb), "id_b")
        .filter((F.col("ca") != F.col("cb")) | (F.col("ca2") != F.col("cb2")))
        .agg(F.count("*").cast("long").alias("missed"))
    )
    work_cl = csz.agg(F.sum(pairs(F.col("n"))).alias("blocked_pairs_cl"))
    work_leaf = lsz.agg(
        F.sum(pairs(F.col("n"))).alias("blocked_pairs_leaf"),
        F.max(pairs(F.col("n"))).alias("max_leaf_pairs"),
    )
    dup = bp.agg(F.count("*").cast("long").alias("n_dup_pairs"))
    return (
        work_cl.crossJoin(work_leaf).crossJoin(dup).crossJoin(miss).select(
            F.col("blocked_pairs_cl").cast("long"),
            F.col("blocked_pairs_leaf").cast("long"),
            F.col("max_leaf_pairs").cast("long"),
            F.round(
                F.col("blocked_pairs_cl").cast("double")
                / F.col("blocked_pairs_leaf"),
                6,
            ).alias("pair_work_ratio"),
            "n_dup_pairs",
            F.col("missed").alias("missed_dup_pairs"),
            F.round(
                F.lit(1.0)
                - F.col("missed").cast("double") / F.col("n_dup_pairs"),
                6,
            ).alias("pair_recall"),
        )
    )



def _cm_adaptive_sem_w2_sql() -> str:
    from .clustering import _dist_sql, _fit_ctes

    cells = ",\n    ".join(_cm_cell_fit_ctes(c) for c in range(CF_C))
    d = _dist_sql("e.embedding", "s.c")
    w2 = "\n      UNION ALL ".join(
        f"""SELECT {c} AS cid, vec_id, cid2 FROM (
        SELECT e.vec_id, s.cid AS cid2,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d} ASC, s.cid ASC) AS rk
        FROM h{c}g1 e, h{c}c1v s
      ) WHERE rk <= 2"""
        for c in range(CF_C)
    )
    return f"""
    WITH {_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    g2m AS MATERIALIZED (SELECT vec_id, embedding, cid FROM g2),
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2m GROUP BY cid),
    {cells},
    hotw2 AS MATERIALIZED (
      {w2}
    ),
    asgw AS MATERIALIZED (
      SELECT cid, vec_id, cid2 FROM hotw2
      UNION ALL
      SELECT g.cid, g.vec_id, 0 AS cid2 FROM g2m g
      WHERE g.cid NOT IN (SELECT DISTINCT cid FROM hotw2)
    ),
    lsz AS (SELECT cid, cid2, count(*) AS n FROM asgw GROUP BY cid, cid2),
    csz AS (SELECT cl, count(*) AS n FROM cmx GROUP BY cl),
    bp AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cmx a JOIN cmx b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {CF_SEM_COS}
    ),
    hit AS (
      SELECT DISTINCT bp.id_a, bp.id_b FROM bp
      JOIN asgw la ON bp.id_a = la.vec_id
      JOIN asgw lb ON bp.id_b = lb.vec_id
       AND la.cid = lb.cid AND la.cid2 = lb.cid2
    )
    SELECT
      CAST((SELECT sum(n * (n - 1) / 2) FROM csz) AS BIGINT)
        AS blocked_pairs_cl,
      CAST((SELECT sum(n * (n - 1) / 2) FROM lsz) AS BIGINT)
        AS blocked_pairs_w2,
      CAST((SELECT max(n * (n - 1) / 2) FROM lsz) AS BIGINT)
        AS max_leaf_pairs_w2,
      round((SELECT sum(n * (n - 1) / 2) FROM csz)::DOUBLE
            / (SELECT sum(n * (n - 1) / 2) FROM lsz), 6)
        AS pair_work_ratio,
      CAST((SELECT count(*) FROM bp) AS BIGINT) AS n_dup_pairs,
      CAST((SELECT count(*) FROM bp) - (SELECT count(*) FROM hit) AS BIGINT)
        AS missed_dup_pairs,
      round((SELECT count(*) FROM hit)::DOUBLE
            / (SELECT count(*) FROM bp), 6) AS pair_recall
    """


@register("clustered_adaptive_semdedup_w2_audit", _cm_adaptive_sem_w2_sql())
@memoize_df
def clustered_adaptive_semdedup_w2_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Leaf-WIDENED pair blocking — the buy-back knob for the recall
    clustered_adaptive_semdedup_audit showed the plain split loses
    (pair recall 0.34): every hot-cell member is assigned to its TWO
    nearest level-2 cells (the pair analog of the probe's nprobe2 —
    multi-assignment at index time instead of multi-probe at query
    time), cold cells stay single-leaf, and a candidate pair is any
    co-occurrence in some assigned leaf. Measured, with the width-1 row
    as the other bracket: recall recovers 0.34 -> 0.90 but blocked
    pair work rises to 782,523 — MORE than the 694,775 the unsplit
    cl-blocking costs (ratio 0.89). The arithmetic generalizes: width-w
    assignment into k2 leaves costs ~(w^2/k2)·sz^2 per hot cell, so the
    quadratic win survives only when k2 >> w^2 — and the ladder width
    at this cell size is k2 = 4, exactly w^2. Conclusion for the 100 TB
    SemDeDup stage (completing the width-1 row's NO): under
    structureless interiors the adaptive split is not a usable pair-
    blocking refinement at ladder widths in EITHER width — level-1
    (category) blocking with straggler-aware scheduling remains the
    right key; leaf blocking pays only for clone-like duplicates or
    cells split far wider than the assignment width. Assignment
    tie-break is (distance, cid2) ascending in BOTH engines."""
    fx2, asgw = _cm_w2_assignments(spark, sf_dir)
    return _cm_sem_w2_report(spark, sf_dir, fx2, asgw)


def _cm_w2_assignments(spark: SparkSession, sf_dir: str, n: int = CF_N):
    """(fixture frame, width-2 (vec_id, cid, cid2) multi-assignment)
    for the mass fixture at size ``n``: every hot-cell member assigned
    to its TWO nearest level-2 leaves ((distance, cid2) ascending tie-
    break), cold cells single-leaf. Reads the l2-layout fit store when
    built (cid2 = nearest, cid2b = second-nearest), else replays the
    per-cell fits + distance ranking live — shared by the w2 audit
    (n = CF_N) and the wide k2 >= 16 audit (n = CW_N)."""
    from ..operators.storage import read_clustered_mass_fit
    from .clustering import _lloyd_fit_frame, dist_struct_array_expr
    from .params import ivf_cells_for
    from pyspark.sql import Window

    stored, meta = read_clustered_mass_fit(spark, n=n)
    fx2 = tracked_persist(
        stored.select("vec_id", "cl", "embedding")
        if stored is not None
        else clustered_mass_corpus_frame(spark, n)
    )
    emb = fx2.select("vec_id", "embedding")
    if stored is not None:
        # the l2-layout fit store materializes the width-2 assignment
        # (cid2 = nearest, cid2b = second-nearest leaf for hot cells):
        # the audit reads it back instead of re-deriving the per-cell
        # distance ranking each cold run
        hot_rows = stored.where(F.col("cid2b") != F.col("cid2")).select(
            "vec_id", "cid", "cid2"
        ).unionByName(
            stored.where(F.col("cid2b") != F.col("cid2")).select(
                "vec_id", "cid", F.col("cid2b").alias("cid2")
            )
        )
        cold_rows = stored.where(F.col("cid2b") == F.col("cid2")).select(
            "vec_id", "cid", "cid2"
        )
        return fx2, tracked_persist(hot_rows.unionByName(cold_rows))
    asg, _cents = _lloyd_fit_frame(
        emb, [cm_point(k) for k in range(CF_C)]
    )
    asg = tracked_persist(asg)
    sizes = {
        r["cid"]: r["n"]
        for r in asg.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    level2 = {}
    for c in range(CF_C):
        if sizes[c] * CF_C * 100 > CF_HOT_PCT * n:
            cell = emb.join(
                asg.filter(F.col("cid") == c).select("vec_id"), "vec_id"
            )
            k2 = ivf_cells_for(sizes[c])
            seeds2 = [
                [float(x) for x in r["embedding"]]
                for r in cell.orderBy("vec_id").limit(k2).collect()
            ]
            _asg2, cents2c = _lloyd_fit_frame(cell, seeds2)
            level2[c] = cents2c
    parts = []
    for c in sorted(level2):
        cell = emb.join(
            asg.filter(F.col("cid") == c).select("vec_id"), "vec_id"
        )
        dists = cell.selectExpr(
            "vec_id",
            "explode("
            + dist_struct_array_expr("embedding", level2[c], "cid2")
            + ") AS dc",
        ).select("vec_id", F.col("dc.d").alias("d"), F.col("dc.cid2").alias("cid2"))
        w = Window.partitionBy("vec_id").orderBy(
            F.col("d").asc(), F.col("cid2").asc()
        )
        parts.append(
            dists.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 2)
            .select("vec_id", F.lit(c).alias("cid"), "cid2")
        )
    import functools

    hot_set = sorted(level2)
    cold = asg.filter(~F.col("cid").isin(hot_set)).select(
        "vec_id", "cid", F.lit(0).alias("cid2")
    )
    asgw = tracked_persist(
        functools.reduce(lambda x, y: x.unionByName(y), parts + [cold])
    )
    return fx2, asgw


def _cm_sem_w2_report(
    spark: SparkSession,
    sf_dir: str,
    fx2: DataFrame,
    asgw: DataFrame,
    bp: DataFrame | None = None,
    with_k2: bool = False,
) -> DataFrame:
    """Shared report tail of the width-2 blocking audits: pair-work and
    recall accounting over a (vec_id, cid, cid2) multi-assignment frame
    (two rows per hot-cell member, one per cold) — identical whether
    the assignment came from the fit store's cid2b column or the live
    per-cell distance ranking. ``bp`` overrides the truth-pair set (the
    wide audit's probe-sampled baseline); ``with_k2`` prepends the
    widest per-cell leaf count (the k2 the crossover claim is about),
    derived from the assignment frame in BOTH engines."""
    lsz = asgw.groupBy("cid", "cid2").agg(F.count("*").alias("n"))
    csz = fx2.groupBy("cl").agg(F.count("*").alias("n"))
    pairs = lambda col: (col * (col - 1) / 2).cast("long")  # noqa: E731
    if bp is None:
        bp = _cm_sem_truth_pairs(spark, sf_dir)
    la = asgw.select(
        F.col("vec_id").alias("id_a"), "cid", "cid2"
    )
    lb = asgw.select(
        F.col("vec_id").alias("id_b"), "cid", "cid2"
    )
    hit = (
        bp.join(F.broadcast(la), "id_a")
        .join(F.broadcast(lb), ["id_b", "cid", "cid2"])
        .select("id_a", "id_b")
        .distinct()
    )
    work_cl = csz.agg(F.sum(pairs(F.col("n"))).alias("blocked_pairs_cl"))
    work_leaf = lsz.agg(
        F.sum(pairs(F.col("n"))).alias("blocked_pairs_w2"),
        F.max(pairs(F.col("n"))).alias("max_leaf_pairs_w2"),
    )
    dup = bp.agg(F.count("*").cast("long").alias("n_dup_pairs"))
    nh = hit.agg(F.count("*").cast("long").alias("n_hit"))
    out = (
        work_cl.crossJoin(work_leaf).crossJoin(dup).crossJoin(nh).select(
            F.col("blocked_pairs_cl").cast("long"),
            F.col("blocked_pairs_w2").cast("long"),
            F.col("max_leaf_pairs_w2").cast("long"),
            F.round(
                F.col("blocked_pairs_cl").cast("double")
                / F.col("blocked_pairs_w2"),
                6,
            ).alias("pair_work_ratio"),
            "n_dup_pairs",
            (F.col("n_dup_pairs") - F.col("n_hit"))
            .cast("long")
            .alias("missed_dup_pairs"),
            F.round(
                F.col("n_hit").cast("double") / F.col("n_dup_pairs"), 6
            ).alias("pair_recall"),
        )
    )
    if not with_k2:
        return out
    k2m = (
        asgw.groupBy("cid")
        .agg(F.count_distinct("cid2").alias("k2"))
        .agg(F.max("k2").cast("long").alias("k2_max"))
    )
    return k2m.crossJoin(out)



# ---------------------------------------------------------------------------
# WIDE mass fixture: the w2/k2 crossover MEASURED, not extrapolated
# (VERDICT r11 #5). The w2 audit's "width-2 loses at k2 = w^2" conclusion
# came from one point (the 1021-row hot cell, ladder k2 = 4 = w^2); the
# arithmetic says width-w assignment costs ~(w^2/k2) x the cell's pair
# work, so width-2 should WIN once k2 >> 4. The trailing-zeros fixture is
# scale-free, so the same construction at CW_N = 16384 puts the dominant
# component at ~8189 rows (ladder k2 = 16) and the second at ~4095
# (k2 = 8) — two crossover points in one row. Truth pairs are probe-
# sampled (id_a < CW_PROBE): the full pair set is ~45M, and recall over a
# probe sample is the lsh_recall_audit_sampled discipline.
# ---------------------------------------------------------------------------

CW_N = 16384   # wide fixture size: dominant component ~8189 -> k2 = 16
CW_PROBE = 128  # sampled probe side for the truth-pair baseline


def _cmw_sem_w2k16_sql() -> str:
    from .clustering import _dist_sql, _fit_ctes

    cells = ",\n    ".join(
        _cm_cell_fit_ctes(c, n=CW_N) for c in range(CF_C)
    )
    d = _dist_sql("e.embedding", "s.c")
    w2 = "\n      UNION ALL ".join(
        f"""SELECT {c} AS cid, vec_id, cid2 FROM (
        SELECT e.vec_id, s.cid AS cid2,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d} ASC, s.cid ASC) AS rk
        FROM h{c}g1 e, h{c}c1v s
      ) WHERE rk <= 2"""
        for c in range(CF_C)
    )
    return f"""
    WITH {_cmx_ctes_at(CW_N, materialized=True)},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    g2m AS MATERIALIZED (SELECT vec_id, embedding, cid FROM g2),
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2m GROUP BY cid),
    {cells},
    hotw2 AS MATERIALIZED (
      {w2}
    ),
    asgw AS MATERIALIZED (
      SELECT cid, vec_id, cid2 FROM hotw2
      UNION ALL
      SELECT g.cid, g.vec_id, 0 AS cid2 FROM g2m g
      WHERE g.cid NOT IN (SELECT DISTINCT cid FROM hotw2)
    ),
    lsz AS (SELECT cid, cid2, count(*) AS n FROM asgw GROUP BY cid, cid2),
    csz AS (SELECT cl, count(*) AS n FROM cmx GROUP BY cl),
    bp AS MATERIALIZED (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM cmx a JOIN cmx b ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE a.vec_id < {CW_PROBE}
        AND {_cos_sql('a.embedding', 'b.embedding')} >= {CF_SEM_COS}
    ),
    hit AS (
      SELECT DISTINCT bp.id_a, bp.id_b FROM bp
      JOIN asgw la ON bp.id_a = la.vec_id
      JOIN asgw lb ON bp.id_b = lb.vec_id
       AND la.cid = lb.cid AND la.cid2 = lb.cid2
    )
    SELECT
      CAST((SELECT max(k2) FROM (
        SELECT count(DISTINCT cid2) AS k2 FROM asgw GROUP BY cid
      )) AS BIGINT) AS k2_max,
      CAST((SELECT sum(n * (n - 1) / 2) FROM csz) AS BIGINT)
        AS blocked_pairs_cl,
      CAST((SELECT sum(n * (n - 1) / 2) FROM lsz) AS BIGINT)
        AS blocked_pairs_w2,
      CAST((SELECT max(n * (n - 1) / 2) FROM lsz) AS BIGINT)
        AS max_leaf_pairs_w2,
      round((SELECT sum(n * (n - 1) / 2) FROM csz)::DOUBLE
            / (SELECT sum(n * (n - 1) / 2) FROM lsz), 6)
        AS pair_work_ratio,
      CAST((SELECT count(*) FROM bp) AS BIGINT) AS n_dup_pairs,
      CAST((SELECT count(*) FROM bp) - (SELECT count(*) FROM hit) AS BIGINT)
        AS missed_dup_pairs,
      round((SELECT count(*) FROM hit)::DOUBLE
            / (SELECT count(*) FROM bp), 6) AS pair_recall
    """


@register("clustered_adaptive_semdedup_w2k16_audit", _cmw_sem_w2k16_sql())
@memoize_df
def clustered_adaptive_semdedup_w2k16_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The w2/k2 crossover MEASURED (VERDICT r11 #5): width-2 leaf
    blocking on a fixture whose dominant cell splits k2 = 16 ways
    (8189-row component; the second splits k2 = 8). The width-2
    arithmetic — ~(w^2/k2) x sz^2 pair work per hot cell — predicted a
    COST win for k2 >> w^2 from the CF_N fixture's single losing point
    (k2 = 4 = w^2, ratio 0.89), and the cost side lands as predicted:
    pair work 44.7M -> 16.1M blocked pairs, ratio 2.78, worst leaf
    2.1M. But the measured RECALL kills the trade anyway: 0.35 at
    k2 = 16 vs the 0.90 the same width-2 assignment bought at k2 = 4 —
    under a structureless hot-cell interior, P(two category-level
    near-duplicates co-occur in one of each other's w assigned leaves)
    decays like ~w^2/k2 TOO, so widening the split cuts cost and
    recall together and leaf blocking never becomes a usable SemDeDup
    key for category-level duplicates at ANY ladder width. Read with
    clustered_adaptive_semdedup_w2_audit: the two rows bracket the
    rule a 100 TB SemDeDup stage plans by — level-1 (category)
    blocking with straggler-aware scheduling is the right key; leaf
    blocking pays only for clone-like duplicates that co-route by
    construction (planted-pair regime, recall 1.0 there).

    Truth pairs are probe-sampled (id_a < CW_PROBE, ~670k verified
    pairs); pair-work columns are integer arithmetic off group sizes,
    never enumerated. The wide fixture's fit + sampled pair baseline
    are corpus-independent deterministic artifacts (their store paths
    carry no sf fingerprint), and re-deriving them live costs ~45 s
    per cold session — so this audit ENSURES the stores exist
    (idempotent, atomic-publish; the build is one live derivation plus
    a write) instead of paying that derivation every cold run; with a
    read-only store root it degrades to the live path. The oracle
    re-derives the corpus, both fit levels, the width-2 ranking and
    the sampled verify from scratch, keeping both stores hash-checked."""
    from ..operators.storage import (
        build_clustered_mass_fit_store,
        build_clustered_mass_sem_pair_store,
    )

    try:
        build_clustered_mass_fit_store(spark, sf_dir, n=CW_N)
        build_clustered_mass_sem_pair_store(
            spark, sf_dir, n=CW_N, probe=CW_PROBE
        )
    except OSError:
        pass  # read-only store root: fall through to the live derivation
    fx2, asgw = _cm_w2_assignments(spark, sf_dir, n=CW_N)
    bp = _cmw_sem_truth_pairs(spark, sf_dir)
    return _cm_sem_w2_report(spark, sf_dir, fx2, asgw, bp=bp, with_k2=True)


# ---------------------------------------------------------------------------
# what splitting a hot cell COSTS: recall-vs-scan across level-2 probe
# widths, priced on the dominant (structureless-interior) cell
# ---------------------------------------------------------------------------


def _cm_leaf_assignments(spark: SparkSession, sf_dir: str):
    """(fixture frame (vec_id, cl, embedding), leaf assignments
    (vec_id, cid, cid2)) for the mass fixture under the adaptive
    two-level layout — stored mass fit when built (it materializes
    exactly these columns), else the live build derivation (level-1
    fit, level-2 fits inside hot cells, cid2 = 0 for cold)."""
    from ..operators.storage import read_clustered_mass_fit
    from .clustering import _lloyd_fit_frame
    from .params import ivf_cells_for

    stored, _meta = read_clustered_mass_fit(spark)
    if stored is not None:
        fx = tracked_persist(stored)
        return (
            fx.select("vec_id", "cl", "embedding"),
            fx.select("vec_id", "cid", "cid2"),
        )
    fx = tracked_persist(clustered_mass_fixture_frame(spark, sf_dir))
    emb = fx.select("vec_id", "embedding")
    asg, _cents = _lloyd_fit_frame(emb, [cm_point(k) for k in range(CF_C)])
    asg = tracked_persist(asg)
    sizes = {
        r["cid"]: r["n"]
        for r in asg.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    parts = []
    for c in range(CF_C):
        cell = emb.join(
            asg.filter(F.col("cid") == c).select("vec_id"), "vec_id"
        )
        if sizes[c] * CF_C * 100 > CF_HOT_PCT * CF_N:
            k2 = ivf_cells_for(sizes[c])
            seeds2 = [
                [float(x) for x in r["embedding"]]
                for r in cell.orderBy("vec_id").limit(k2).collect()
            ]
            asg2, _ = _lloyd_fit_frame(cell, seeds2)
            parts.append(
                asg2.select(
                    "vec_id",
                    F.lit(c).alias("cid"),
                    F.col("cid").alias("cid2"),
                )
            )
        else:
            parts.append(
                cell.select(
                    "vec_id", F.lit(c).alias("cid"), F.lit(0).alias("cid2")
                )
            )
    import functools

    leaf = tracked_persist(
        functools.reduce(lambda x, y: x.unionByName(y), parts)
    )
    return fx, leaf


def _cm_sem_truth_pairs_live(
    spark: SparkSession,
    sf_dir: str,
    n: int | None = None,
    probe: int | None = None,
) -> DataFrame:
    """LIVE derivation of the verified same-category pair set at
    fixture size ``n`` (no pair-store read — this is what the pair
    store builder materializes): within-category exact-cosine verify
    at >= CF_SEM_COS, optionally probe-sampled (id_a < probe) — the
    wide fixture's full pair set is ~45M, so its truth baseline is
    sampled like lsh_recall_audit_sampled's."""
    from ..operators.storage import read_clustered_mass_fit

    n = CF_N if n is None else n
    stored, _meta = read_clustered_mass_fit(spark, n=n)
    fx = tracked_persist(
        stored.select("vec_id", "cl", "embedding")
        if stored is not None
        else clustered_mass_corpus_frame(spark, n)
    )
    sides = fx.select(
        "vec_id",
        "cl",
        "embedding",
        F.sqrt(dot_fold(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = sides.select(
        F.col("vec_id").alias("id_a"),
        F.col("cl").alias("cl_a"),
        F.col("embedding").alias("e_a"),
        F.col("norm").alias("n_a"),
    )
    if probe is not None:
        a = a.filter(F.col("id_a") < probe)
    b = sides.select(
        F.col("vec_id").alias("id_b"),
        F.col("cl").alias("cl_b"),
        F.col("embedding").alias("e_b"),
        F.col("norm").alias("n_b"),
    )
    cos = dot_fold(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    return tracked_persist(
        a.join(
            b, (F.col("cl_a") == F.col("cl_b")) & (F.col("id_a") < F.col("id_b"))
        )
        .filter(cos >= CF_SEM_COS)
        .select("id_a", "id_b")
    )


def _cm_sem_truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b) verified same-category pairs at cos >= CF_SEM_COS —
    the truth baseline every mass semdedup audit replays. Store-read
    when built (build_clustered_mass_sem_pair_store; a fixture baseline
    is an index-build artifact like the embedding and ngram pair sets);
    the live derivation (_cm_sem_truth_pairs_live) is the builder, and
    every audit's oracle re-derives it from scratch, keeping the store
    hash-checked."""
    from ..operators.storage import read_clustered_mass_sem_pairs

    stored_pairs = read_clustered_mass_sem_pairs(spark)
    if stored_pairs is not None:
        return tracked_persist(stored_pairs)
    return _cm_sem_truth_pairs_live(spark, sf_dir)


def _cmw_sem_truth_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WIDE fixture's probe-sampled truth pairs (id_a < CW_PROBE),
    store-read when built, else derived live."""
    from ..operators.storage import read_clustered_mass_sem_pairs

    stored_pairs = read_clustered_mass_sem_pairs(
        spark, n=CW_N, probe=CW_PROBE
    )
    if stored_pairs is not None:
        return tracked_persist(stored_pairs)
    return _cm_sem_truth_pairs_live(spark, sf_dir, n=CW_N, probe=CW_PROBE)


def _cm_query_cell_fit(spark: SparkSession, sf_dir: str):
    """(fixture frame, query-cell members (vec_id, cid2), level-2
    centroids) for the mass fixture's query-nearest level-1 cell — the
    shared derivation of the probe recall audit AND the served
    clustered_adaptive_topk_* variants (both must route through the
    same fits or recall numbers and served results diverge). Reads the
    materialized fit store when built.

    A COLD query cell has no level-2 quantizer in EITHER engine: the
    SQL oracles hot-gate their per-cell fit CTEs (``_cm_cell_fit_ctes``
    — a cold cell's CTE chain is empty, so ``members`` is empty), and
    this function mirrors that gating exactly (ADVICE r11 #2: the old
    live fallthrough fit level 2 unconditionally, a latent Spark/oracle
    divergence the fixture's currently-hot query cell masked). Cold
    query cell => ``cents2 = []`` and an empty member frame, so every
    consumer degrades to zero candidates like its DuckDB twin."""
    from ..operators.storage import read_clustered_mass_fit
    from .clustering import _lloyd_fit_frame
    from .params import ivf_cells_for

    q = cm_point(0)
    stored, meta = read_clustered_mass_fit(spark)
    if stored is not None:
        fx = tracked_persist(stored)
        cid0 = route(q, meta["cents1"], 1)[0]
        if cid0 not in meta["level2"]:
            # cold query cell: no level-2 fit exists — degrade exactly
            # like the SQL's hot-gated CTEs (empty members)
            empty = tracked_persist(
                fx.filter(F.lit(False)).select(
                    "vec_id", F.lit(0).alias("cid2")
                )
            )
            return fx, empty, []
        cents2 = meta["level2"][cid0]
        members = tracked_persist(
            fx.filter(
                (F.col("cid") == cid0) & (F.col("vec_id") != 0)
            ).select("vec_id", "cid2")
        )
    else:
        fx = tracked_persist(clustered_mass_fixture_frame(spark, sf_dir))
        emb = fx.select("vec_id", "embedding")
        asg, cents = _lloyd_fit_frame(
            emb, [cm_point(k) for k in range(CF_C)]
        )
        asg = tracked_persist(asg)
        cid0 = route(q, cents, 1)[0]
        sz = asg.filter(F.col("cid") == cid0).count()
        if sz * CF_C * 100 <= CF_HOT_PCT * CF_N:
            # same integer hot gate as the store build and the SQL
            # oracles: a cold query cell fits nothing
            empty = tracked_persist(
                fx.filter(F.lit(False)).select(
                    "vec_id", F.lit(0).alias("cid2")
                )
            )
            return fx, empty, []
        cell = emb.join(
            asg.filter(F.col("cid") == cid0).select("vec_id"), "vec_id"
        )
        k2 = ivf_cells_for(sz)
        seeds2 = [
            [float(x) for x in r["embedding"]]
            for r in cell.orderBy("vec_id").limit(k2).collect()
        ]
        asg2, cents2 = _lloyd_fit_frame(cell, seeds2)
        members = tracked_persist(
            asg2.filter(F.col("vec_id") != 0).select(
                "vec_id", F.col("cid").alias("cid2")
            )
        )
    return fx, members, cents2


def _cm_probe_recall_sql() -> str:
    from .clustering import _dist_sql, _fit_ctes

    cells = ",\n    ".join(_cm_cell_fit_ctes(c) for c in range(CF_C))
    l2c = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid1, cid, c FROM h{c}c1v" for c in range(CF_C)
    )
    l2g = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid1, vec_id, cid AS cid2 FROM h{c}g2"
        for c in range(CF_C)
    )
    return f"""
    WITH {_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    g2m AS MATERIALIZED (SELECT vec_id, embedding, cid FROM g2),
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2m GROUP BY cid),
    {cells},
    qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
           FROM cmx WHERE vec_id = 0),
    qd1 AS (
      SELECT c.cid, {_dist_sql('qv.q', 'c.c')} AS d FROM c1v c, qv
    ),
    qc AS (SELECT cid FROM qd1 ORDER BY d ASC, cid ASC LIMIT 1),
    l2c AS MATERIALIZED (
      {l2c}
    ),
    l2g AS MATERIALIZED (
      {l2g}
    ),
    qd2 AS (
      SELECT l.cid AS cid2, {_dist_sql('qv.q', 'l.c')} AS d
      FROM l2c l JOIN qc ON l.cid1 = qc.cid, qv
    ),
    sel1 AS (SELECT cid2 FROM qd2 ORDER BY d ASC, cid2 ASC LIMIT 1),
    sel2 AS (SELECT cid2 FROM qd2 ORDER BY d ASC, cid2 ASC LIMIT 2),
    members AS (
      SELECT g.vec_id, g.cid2 FROM l2g g JOIN qc ON g.cid1 = qc.cid
      WHERE g.vec_id <> 0
    ),
    truth AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY {_cos_sql('e.embedding', 'qv.q')} DESC,
                 e.vec_id ASC) AS rk
        FROM cmx e, qv WHERE e.vec_id <> 0
      ) WHERE rk <= {CF_TOP}
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM l2c JOIN qc ON l2c.cid1 = qc.cid)
        AS k2,
      (SELECT CAST(count(*) AS BIGINT) FROM members
       WHERE cid2 IN (SELECT cid2 FROM sel1)) AS scanned_p1,
      round((SELECT count(*) FROM truth t JOIN members m ON t.vec_id = m.vec_id
             WHERE m.cid2 IN (SELECT cid2 FROM sel1))::DOUBLE / {CF_TOP}, 6)
        AS recall_p1,
      (SELECT CAST(count(*) AS BIGINT) FROM members
       WHERE cid2 IN (SELECT cid2 FROM sel2)) AS scanned_p2,
      round((SELECT count(*) FROM truth t JOIN members m ON t.vec_id = m.vec_id
             WHERE m.cid2 IN (SELECT cid2 FROM sel2))::DOUBLE / {CF_TOP}, 6)
        AS recall_p2,
      (SELECT CAST(count(*) AS BIGINT) FROM members) AS scanned_cell,
      round((SELECT count(*) FROM truth t JOIN members m ON t.vec_id = m.vec_id)
            ::DOUBLE / {CF_TOP}, 6) AS recall_cell
    """


@register("clustered_adaptive_probe_recall_audit", _cm_probe_recall_sql())
@memoize_df
def clustered_adaptive_probe_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """What the adaptive split COSTS at query time, priced where it
    hurts most: the query's own dominant cell (1021 rows, hot, split
    k2 ways) has a STRUCTURELESS interior — within-component placement
    is pure noise — so level-2 cells cut the true neighborhood
    arbitrarily, and recall@10 vs level-2 probe width is the honest
    trade: scanned rows and recall at nprobe2 = 1, nprobe2 = 2, and the
    full cell (recall 1.0 by construction — every true neighbor is
    same-component). Measured (k2 = 4): nprobe2 = 1 scans 235 rows for
    recall 0.8; nprobe2 = 2 scans 509 for recall 1.0 — HALF the
    dominant cell's scan at full recall, or a quarter at 0.8.
    Read NEXT TO clustered_adaptive_occupancy_audit:
    that row prices the scan saving, this row prices the recall knob
    that buys it back (the single-vs-multi-probe pattern of the RHP
    family, applied to the adaptive store's level 2).

    Truth = exact cosine top-10 over the corpus; membership/scan counts
    are integers off the same per-cell dyn-width fits the economics
    audit replays (shared _cm_cell_fit_ctes SQL; shared
    _lloyd_fit_frame contracts on the Spark side). Reads the
    materialized fit store when built (same read-or-compute discipline
    as the occupancy audit; the oracle re-derives everything from
    scratch, keeping the store hash-checked)."""
    fx, members, cents2 = _cm_query_cell_fit(spark, sf_dir)
    order2 = route(cm_point(0), cents2, 2)
    sel1, sel2 = order2[:1], order2[:2]

    from .similarity import cosine_sql

    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    qdf = fx.filter(F.col("vec_id") == 0).selectExpr("embedding AS q_emb")
    truth = tracked_persist(
        fx.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qdf))
        .selectExpr("vec_id", cosine_sql("embedding", "q_emb") + " AS cos")
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(CF_TOP)
        .select("vec_id")
    )

    def pair(sel, tag):
        picked = members.filter(F.col("cid2").isin(sel)) if sel else members
        scanned = picked.agg(
            F.expr(f"CAST(count(*) AS BIGINT) AS scanned_{tag}")
        )
        hits = truth.join(picked, "vec_id", "left_semi").agg(
            F.expr(
                f"round(CAST(count(*) AS DOUBLE) / {CF_TOP}, 6) "
                f"AS recall_{tag}"
            )
        )
        return scanned.crossJoin(hits)

    k2df = spark.createDataFrame([(len(cents2),)], "k2 long")
    full = members.agg(
        F.expr("CAST(count(*) AS BIGINT) AS scanned_cell")
    ).crossJoin(
        truth.join(members, "vec_id", "left_semi").agg(
            F.expr(
                f"round(CAST(count(*) AS DOUBLE) / {CF_TOP}, 6) "
                "AS recall_cell"
            )
        )
    )
    return (
        k2df.crossJoin(pair(sel1, "p1")).crossJoin(pair(sel2, "p2")).crossJoin(full)
    )


def _cm_adaptive_topk_sql(nprobe2: int) -> str:
    from .clustering import _dist_sql, _fit_ctes

    cells = ",\n    ".join(_cm_cell_fit_ctes(c) for c in range(CF_C))
    l2c = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid1, cid, c FROM h{c}c1v" for c in range(CF_C)
    )
    l2g = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid1, vec_id, cid AS cid2 FROM h{c}g2"
        for c in range(CF_C)
    )
    return f"""
    WITH {_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    g2m AS MATERIALIZED (SELECT vec_id, embedding, cid FROM g2),
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2m GROUP BY cid),
    {cells},
    qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
           FROM cmx WHERE vec_id = 0),
    qd1 AS (
      SELECT c.cid, {_dist_sql('qv.q', 'c.c')} AS d FROM c1v c, qv
    ),
    qc AS (SELECT cid FROM qd1 ORDER BY d ASC, cid ASC LIMIT 1),
    l2c AS MATERIALIZED (
      {l2c}
    ),
    l2g AS MATERIALIZED (
      {l2g}
    ),
    qd2 AS (
      SELECT l.cid AS cid2, {_dist_sql('qv.q', 'l.c')} AS d
      FROM l2c l JOIN qc ON l.cid1 = qc.cid, qv
    ),
    sel AS (SELECT cid2 FROM qd2 ORDER BY d ASC, cid2 ASC LIMIT {nprobe2}),
    members AS (
      SELECT g.vec_id FROM l2g g JOIN qc ON g.cid1 = qc.cid
      WHERE g.vec_id <> 0 AND g.cid2 IN (SELECT cid2 FROM sel)
    )
    SELECT e.vec_id, {_cos_sql('e.embedding', 'qv.q')} AS cos
    FROM cmx e JOIN members m ON e.vec_id = m.vec_id, qv
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT {CF_TOP}
    """


def _cm_adaptive_topk(
    spark: SparkSession, sf_dir: str, nprobe2: int
) -> DataFrame:
    fx, members, cents2 = _cm_query_cell_fit(spark, sf_dir)
    sel = route(cm_point(0), cents2, nprobe2)
    # cold query cell (cents2 == []): members is already empty — skip
    # the isin so the plan never carries an empty IN list
    cand = (
        members.filter(F.col("cid2").isin(sel)) if sel else members
    ).select("vec_id")
    return exact_topk(fx.join(F.broadcast(cand), "vec_id"), fx, CF_TOP)


@register("clustered_adaptive_topk_p1", _cm_adaptive_topk_sql(1))
@memoize_df
def clustered_adaptive_topk_p1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVED result at the cheap end of the adaptive store's
    level-2 recall knob (VERDICT r10 #7): route the fixture query
    through the stored two-level fit, scan nprobe2 = 1 leaf of the hot
    routed cell, exact-cosine rerank — the query a latency-first caller
    runs. clustered_adaptive_probe_recall_audit prices this exact
    width (recall 0.8 at ~1/4 the dominant cell's scan); the p2 twin
    below is the recall-first setting. Together with the audit row the
    recall/cost curve is readable off CORRECTNESS like the RHP flips
    family. Same plan family as probe_adaptive_ivf(nprobe2=1) —
    partition-pruned leaf read + rerank — replayed on the fixture fits
    so DuckDB can re-derive it from scratch."""
    return _cm_adaptive_topk(spark, sf_dir, 1)


@register("clustered_adaptive_topk_p2", _cm_adaptive_topk_sql(2))
@memoize_df
def clustered_adaptive_topk_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-first twin of clustered_adaptive_topk_p1: nprobe2 = 2
    leaves of the hot routed cell (measured recall 1.0 at half the
    cell's scan — the audit's width-2 point). The pair prices the
    nprobe2 runtime knob end-to-end: same routing, one more leaf in the
    PartitionFilters, strictly more candidates into the same rerank."""
    return _cm_adaptive_topk(spark, sf_dir, 2)



def _cm_adaptive_ivfpq_sql() -> str:
    from .clustering import _dist_sql, _fit_ctes
    from .similarity import (
        _pq_adc_sql,
        _pq_code_cols_sql,
        _pq_cw_list_sql,
        _pq_dist_lists_sql,
        _pq_lut_cols_sql,
        _pq_seeds_sql,
    )

    cells = ",\n    ".join(_cm_cell_fit_ctes(c) for c in range(CF_C))
    l2c = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid1, cid, c FROM h{c}c1v" for c in range(CF_C)
    )
    l2g = "\n      UNION ALL ".join(
        f"SELECT {c} AS cid1, vec_id, cid AS cid2 FROM h{c}g2"
        for c in range(CF_C)
    )
    return f"""
    WITH {_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    g2m AS MATERIALIZED (SELECT vec_id, embedding, cid FROM g2),
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2m GROUP BY cid),
    {cells},
    qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q
           FROM cmx WHERE vec_id = 0),
    qd1 AS (
      SELECT c.cid, {_dist_sql('qv.q', 'c.c')} AS d FROM c1v c, qv
    ),
    qc AS (SELECT cid FROM qd1 ORDER BY d ASC, cid ASC LIMIT 1),
    l2c AS MATERIALIZED (
      {l2c}
    ),
    l2g AS MATERIALIZED (
      {l2g}
    ),
    qd2 AS (
      SELECT l.cid AS cid2, {_dist_sql('qv.q', 'l.c')} AS d
      FROM l2c l JOIN qc ON l.cid1 = qc.cid, qv
    ),
    sel AS (SELECT cid2 FROM qd2 ORDER BY d ASC, cid2 ASC LIMIT 2),
    members AS (
      SELECT g.vec_id FROM l2g g JOIN qc ON g.cid1 = qc.cid
      WHERE g.vec_id <> 0 AND g.cid2 IN (SELECT cid2 FROM sel)
    ),
    q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    lut AS (SELECT {_pq_lut_cols_sql()} FROM q, {_pq_seeds_sql()}),
    cws AS (SELECT {_pq_cw_list_sql()} AS cw FROM {_pq_seeds_sql()}),
    codes AS (
      SELECT vec_id, {_pq_code_cols_sql()}
      FROM (
        SELECT e.vec_id, {_pq_dist_lists_sql()}
        FROM embeddings e JOIN members m ON e.vec_id = m.vec_id, cws
      ) dl
    ),
    cand AS (
      SELECT vec_id, {_pq_adc_sql()} AS approx
      FROM codes, lut
      ORDER BY approx ASC, vec_id ASC
      LIMIT {CF_IVFPQ_CAND}
    )
    SELECT c.vec_id, {_cos_sql('emb.embedding', 'q.q_emb')} AS cos
    FROM cand c JOIN embeddings emb ON emb.vec_id = c.vec_id
    CROSS JOIN q
    ORDER BY cos DESC, c.vec_id ASC
    LIMIT {CF_TOP}
    """


@register("clustered_adaptive_ivfpq_topk", _cm_adaptive_ivfpq_sql())
@memoize_df
def clustered_adaptive_ivfpq_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF-PQ served THROUGH the adaptive hot-split layout (VERDICT r10
    #6, end-to-end row): route the mass fixture's query to its (hot,
    split) level-1 cell, select the nprobe2 = 2 nearest level-2 leaves,
    ADC-rank ONLY those leaves' seeded PQ codes, exact-rerank the
    CF_IVFPQ_CAND survivors. The compressed-scan twin of
    clustered_adaptive_topk_p2: same routing, same scanned member set,
    but the scan reads PQ_S-byte codes instead of float vectors — the
    layout build_adaptive_ivfpq_code_store materializes, replayed on
    the fixture fits so DuckDB re-derives everything from scratch."""
    fx, members, cents2 = _cm_query_cell_fit(spark, sf_dir)
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in fx.filter(F.col("vec_id") < PQ_K).orderBy("vec_id").collect()
    ]
    q_vec = seeds[0]  # vec_id 0 doubles as the query vector
    sel = route(q_vec, cents2, 2)
    scanned = (
        members.filter(F.col("cid2").isin(sel)) if sel else members
    ).select("vec_id")
    codes = pq_encode(
        fx.select("vec_id", "embedding").join(scanned, "vec_id"), seeds
    )
    cand = adc_cut(codes, None, pq_query_lut(seeds, q_vec), CF_IVFPQ_CAND)
    return exact_topk(fx.join(F.broadcast(cand), "vec_id"), fx, CF_TOP)



# ---------------------------------------------------------------------------
# does the trained quantizer RECOVER the generative structure?
# ---------------------------------------------------------------------------


def _cf_km_sql() -> str:
    """Oracle replaying the fixed-width ITERS=2 Lloyd fit (the shared
    clustering._fit_ctes body) ON THE FIXTURE, via CTE shadowing: an
    ``embeddings`` CTE over the generated cfx relation shadows the
    registered base view, so the battle-tested fit replay runs unchanged
    on the mixture corpus. Agreement/occupancy are integer counts."""
    from .clustering import _fit_ctes

    return f"""
    WITH {_CFX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cfx),
    {_fit_ctes(CF_C)},
    jj AS (
      SELECT g.vec_id, g.cid, f.cl
      FROM g2 g JOIN cfx f ON f.vec_id = g.vec_id
    ),
    pcc AS (SELECT cid, cl, count(*) AS n FROM jj GROUP BY cid, cl),
    maj AS (
      SELECT cid, cl AS maj_cl FROM (
        SELECT cid, cl,
               row_number() OVER (PARTITION BY cid ORDER BY n DESC, cl ASC)
                 AS rk
        FROM pcc
      ) WHERE rk = 1
    ),
    sizes AS (SELECT cid, count(*) AS sz FROM jj GROUP BY cid),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN jj.cl = m.maj_cl THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched
      FROM jj JOIN maj m USING (cid)
    )
    SELECT n, n_matched,
           round(CAST(n_matched AS DOUBLE) / n, 6) AS agreement,
           (SELECT CAST(min(sz) AS BIGINT) FROM sizes) AS min_cell,
           (SELECT CAST(max(sz) AS BIGINT) FROM sizes) AS max_cell
    FROM agg
    """


@register("clustered_kmeans_agreement_audit", _cf_km_sql())
@memoize_df
def clustered_kmeans_agreement_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does the TRAINED quantizer recover the generative cells? Runs the
    shared Lloyd contract (clustering._lloyd_fit_frame — the exact
    arithmetic every IVF consumer fits with) at k = CF_C on the fixture,
    seeded from fixture vectors 0..C-1 (one per component by the i % C
    construction), and reports cluster-label agreement under the
    majority cell->label mapping plus cell-occupancy bounds. Measured
    agreement 1.0 with balanced 256-per-cell occupancy: Lloyd's recovers
    the mixture exactly, which is what lets the variant-pricing audit
    (clustered_pq_variant_audit) use the generative centers as the
    coarse quantizer — on this fixture they ARE the trained fit's
    cells. The oracle replays the fit through the same _fit_ctes body
    every IVF oracle uses, re-pointed at the generated corpus by CTE
    shadowing — fit arithmetic cannot drift between the fixture and the
    production probes.

    Reads the fit store's coarse assignment when built (the shared
    _cf_coarse_fit read-or-compute; VERDICT r11 #1 — the 5.86 s cold
    cost was this audit re-running the exact fit the store holds)."""
    fx, asg, _cents = _cf_coarse_fit(spark, sf_dir)
    jj = tracked_persist(
        fx.select("vec_id", "cl").join(asg.select("vec_id", "cid"), "vec_id")
    )
    pcc = jj.groupBy("cid", "cl").agg(F.count("*").alias("n"))
    w = Window.partitionBy("cid").orderBy(
        F.col("n").desc(), F.col("cl").asc()
    )
    maj = (
        pcc.select("cid", "cl", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == 1)
        .select("cid", F.col("cl").alias("maj_cl"))
    )
    bounds = (
        jj.groupBy("cid")
        .agg(F.count("*").alias("sz"))
        .agg(
            F.min("sz").cast("long").alias("min_cell"),
            F.max("sz").cast("long").alias("max_cell"),
        )
    )
    agg = jj.join(maj, "cid").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("cl") == F.col("maj_cl"), 1).otherwise(0))
        .cast("long")
        .alias("n_matched"),
    )
    return agg.crossJoin(bounds).select(
        "n",
        "n_matched",
        F.round(F.col("n_matched").cast("double") / F.col("n"), 6).alias(
            "agreement"
        ),
        "min_cell",
        "max_cell",
    )


# ---------------------------------------------------------------------------
# adaptive maintenance lifecycle as DRIVER ROWS (VERDICT r9 #5/#6): the
# split side of the adaptive story has clustered_adaptive_occupancy_audit;
# these two rows expose the DECISION math of the maintenance loop — the
# same integer cross-multiplied occupancy thresholds
# maybe_rebalance/merge_cold_cells evaluate from parquet footers — on the
# mass fixture, so the lifecycle (drift -> split; dilution -> merge under
# hysteresis, no flap) is hash-checked against a DuckDB replay every
# round, not just pytest-proven. Division-free: every threshold is an
# integer cross-multiplication (sz * k1 * 100 vs pct * n), so both
# engines agree bit-for-bit.
# ---------------------------------------------------------------------------

CM_DRIFT_ROWS = 300   # wave-1 clones into the largest COLD cell -> split
CM_GROW_ROWS = 2200   # wave-2 growth into the smallest cell -> dilution
CM_MERGE_PCT = 100    # merge at <= 1.00 x average (storage cold_factor)


def _cm_fitted_sizes(spark: SparkSession, sf_dir: str) -> dict[int, int]:
    """Level-1 fitted cell sizes of the mass fixture — from the
    materialized fit store when built, else the shared Lloyd fit."""
    from ..operators.storage import read_clustered_mass_fit
    from .clustering import _lloyd_fit_frame

    _stored, meta = read_clustered_mass_fit(spark)
    if meta is not None:
        return dict(meta["sizes"])
    fx = tracked_persist(clustered_mass_fixture_frame(spark, sf_dir))
    asg, _ = _lloyd_fit_frame(
        fx.select("vec_id", "embedding"), [cm_point(k) for k in range(CF_C)]
    )
    return {
        r["cid"]: r["n"]
        for r in asg.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }


def _cm_szc_ctes() -> str:
    """Shared oracle prefix: fixture -> level-1 fit -> per-cell sizes."""
    from .clustering import _fit_ctes

    return f"""{_CMX_CTES},
    embeddings AS (SELECT vec_id, embedding FROM cmx),
    {_fit_ctes(CF_C)},
    szc AS MATERIALIZED (SELECT cid, count(*) AS n FROM g2 GROUP BY cid)"""


def _cm_merge_sql() -> str:
    w = CM_GROW_ROWS
    n1 = CF_N + w
    return f"""
    WITH {_cm_szc_ctes()},
    hot0 AS (SELECT cid, n FROM szc
             WHERE n * {CF_C * 100} > {CF_HOT_PCT * CF_N}),
    tgrow AS (SELECT cid FROM szc ORDER BY n ASC, cid ASC LIMIT 1),
    occ1 AS (SELECT cid,
                  n + CASE WHEN cid = (SELECT cid FROM tgrow)
                       THEN {w} ELSE 0 END AS n
           FROM szc),
    merged AS (SELECT occ1.cid, occ1.n FROM occ1 JOIN hot0 USING (cid)
               WHERE occ1.n * {CF_C * 100} <= {CM_MERGE_PCT * n1})
    SELECT CAST({CF_C} AS INT) AS k1,
           CAST({CF_N} AS BIGINT) AS n_before,
           CAST({n1} AS BIGINT) AS n_after,
           (SELECT CAST(count(*) AS BIGINT) FROM hot0) AS n_hot_before,
           (SELECT CAST(count(*) AS BIGINT) FROM merged) AS n_merged,
           (SELECT CAST(count(*) AS BIGINT) FROM hot0)
             - (SELECT CAST(count(*) AS BIGINT) FROM merged) AS n_hot_after,
           (SELECT CAST(min({CM_MERGE_PCT * n1} - n * {CF_C * 100})
                        AS BIGINT) FROM merged) AS min_merge_margin,
           (SELECT CAST(min({CF_HOT_PCT} * {n1} - n * {CF_C * 100})
                        AS BIGINT) FROM merged) AS min_resplit_gap
    """


@register("clustered_adaptive_merge_audit", _cm_merge_sql())
@memoize_df
def clustered_adaptive_merge_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The COLLAPSE side of the adaptive lifecycle as a driver row
    (VERDICT r9 #6; the split side is clustered_adaptive_occupancy_audit):
    growth of CM_GROW_ROWS clones into the smallest fitted cell dilutes
    the average until the smaller of the two hot cells sits at or below
    the merge threshold (cold_factor 1.00 x average) — it merges — while
    the dominant cell stays split. ``min_merge_margin`` > 0 proves the
    merge decision has slack, and ``min_resplit_gap`` > 0 proves the
    merged cell sits BELOW the 1.25x split threshold — the hysteresis
    band that makes split/merge flap impossible on any single occupancy
    state (a cell cannot satisfy <= 1.00x and > 1.25x at once; the gap
    is the distance to re-splitting). Same division-free integer
    threshold math merge_cold_cells_adaptive_ivf_store evaluates from
    footers (operators/storage.py)."""
    sizes = _cm_fitted_sizes(spark, sf_dir)
    k1, n0, w = CF_C, CF_N, CM_GROW_ROWS
    n1 = n0 + w
    hot0 = {c for c, sz in sizes.items() if sz * k1 * 100 > CF_HOT_PCT * n0}
    t_grow = min(sizes, key=lambda c: (sizes[c], c))
    s1 = {c: sz + (w if c == t_grow else 0) for c, sz in sizes.items()}
    merged = {c for c in hot0 if s1[c] * k1 * 100 <= CM_MERGE_PCT * n1}
    # default=None mirrors the oracle's MIN() over an empty set (NULL):
    # a fixture-constant tweak that empties `merged` must degrade to a
    # hash-comparable NULL row on BOTH engines, not a Python ValueError.
    mm = min(
        ((CM_MERGE_PCT * n1 - s1[c] * k1 * 100) for c in merged), default=None
    )
    rg = min(
        ((CF_HOT_PCT * n1 - s1[c] * k1 * 100) for c in merged), default=None
    )
    return spark.createDataFrame(
        [(k1, n0, n1, len(hot0), len(merged), len(hot0) - len(merged), mm, rg)],
        "k1 int, n_before long, n_after long, n_hot_before long, "
        "n_merged long, n_hot_after long, min_merge_margin long, "
        "min_resplit_gap long",
    )


def _cm_maintenance_sql() -> str:
    w1, w2 = CM_DRIFT_ROWS, CM_GROW_ROWS
    n1, n2 = CF_N + w1, CF_N + w1 + w2
    return f"""
    WITH {_cm_szc_ctes()},
    hot0 AS (SELECT cid FROM szc
             WHERE n * {CF_C * 100} > {CF_HOT_PCT * CF_N}),
    tsplit AS (SELECT cid FROM szc
               WHERE cid NOT IN (SELECT cid FROM hot0)
               ORDER BY n DESC, cid ASC LIMIT 1),
    tgrow AS (SELECT cid FROM szc ORDER BY n ASC, cid ASC LIMIT 1),
    occ1 AS (SELECT cid,
                  n + CASE WHEN cid = (SELECT cid FROM tsplit)
                       THEN {w1} ELSE 0 END AS n
           FROM szc),
    newly1 AS (SELECT cid FROM occ1
               WHERE cid NOT IN (SELECT cid FROM hot0)
                 AND n * {CF_C * 100} > {CF_HOT_PCT * n1}),
    lvl2w1 AS (SELECT cid FROM hot0 UNION SELECT cid FROM newly1),
    merged1 AS (SELECT occ1.cid FROM occ1 JOIN lvl2w1 USING (cid)
                WHERE occ1.n * {CF_C * 100} <= {CM_MERGE_PCT * n1}),
    occ2 AS (SELECT cid,
                  n + CASE WHEN cid = (SELECT cid FROM tgrow)
                       THEN {w2} ELSE 0 END AS n
           FROM occ1),
    newly2 AS (SELECT cid FROM occ2
               WHERE cid NOT IN (SELECT cid FROM lvl2w1)
                 AND n * {CF_C * 100} > {CF_HOT_PCT * n2}),
    lvl2w2 AS (SELECT cid FROM lvl2w1 UNION SELECT cid FROM newly2),
    merged2 AS (SELECT occ2.cid FROM occ2 JOIN lvl2w2 USING (cid)
                WHERE occ2.n * {CF_C * 100} <= {CM_MERGE_PCT * n2})
    SELECT CAST({CF_C} AS INT) AS k1,
           (SELECT CAST(count(*) AS BIGINT) FROM hot0) AS n_hot_build,
           (SELECT CAST(cid AS BIGINT) FROM tsplit) AS t_split,
           CAST({w1} AS BIGINT) AS w1_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM newly1) AS n_newly_hot_w1,
           (SELECT CAST(count(*) AS BIGINT) FROM merged1) AS n_merged_w1,
           (SELECT CAST(cid AS BIGINT) FROM tgrow) AS t_grow,
           CAST({w2} AS BIGINT) AS w2_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM newly2) AS n_newly_hot_w2,
           (SELECT CAST(count(*) AS BIGINT) FROM merged2) AS n_merged_w2,
           (SELECT CAST(count(*) AS BIGINT) FROM lvl2w2)
             - (SELECT CAST(count(*) AS BIGINT) FROM merged2) AS n_hot_final
    """


@register("adaptive_maintenance_audit", _cm_maintenance_sql())
@memoize_df
def adaptive_maintenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance CRON's full decision timeline as one driver row
    (VERDICT r9 #5): the exact footer-occupancy threshold sequence the
    in-stream maintenance hook (run_adaptive_ivf_ingest_stream's
    maintenance_every cadence -> maybe_rebalance + maybe_merge) walks,
    replayed on the mass fixture. Wave 1 drifts CM_DRIFT_ROWS clones
    into the largest cold cell: the split check fires for exactly that
    cell and the merge check stays quiet (no flap inside one tick).
    Wave 2 grows the smallest cell by CM_GROW_ROWS: the growth cell
    itself crosses the split threshold while the dilution pushes both
    earlier splits (the wave-1 drift cell AND the original second hot
    cell) under the merge threshold — a full split -> merge lifecycle
    in two ticks, every decision an integer cross-multiplication both
    engines replay identically. Stream/replay machinery is
    pytest-proven (tests/test_stores.py); this row keeps the decision
    MATH driver-verified."""
    sizes = _cm_fitted_sizes(spark, sf_dir)
    k1, n0 = CF_C, CF_N
    w1, w2 = CM_DRIFT_ROWS, CM_GROW_ROWS
    n1, n2 = n0 + w1, n0 + w1 + w2
    hot0 = {c for c, sz in sizes.items() if sz * k1 * 100 > CF_HOT_PCT * n0}
    t_split = max(
        (c for c in sizes if c not in hot0), key=lambda c: (sizes[c], -c)
    )
    t_grow = min(sizes, key=lambda c: (sizes[c], c))
    s1 = {c: sz + (w1 if c == t_split else 0) for c, sz in sizes.items()}
    newly1 = {
        c for c in s1
        if c not in hot0 and s1[c] * k1 * 100 > CF_HOT_PCT * n1
    }
    lvl2w1 = hot0 | newly1
    merged1 = {c for c in lvl2w1 if s1[c] * k1 * 100 <= CM_MERGE_PCT * n1}
    s2 = {c: sz + (w2 if c == t_grow else 0) for c, sz in s1.items()}
    newly2 = {
        c for c in s2
        if c not in lvl2w1 and s2[c] * k1 * 100 > CF_HOT_PCT * n2
    }
    lvl2w2 = lvl2w1 | newly2
    merged2 = {c for c in lvl2w2 if s2[c] * k1 * 100 <= CM_MERGE_PCT * n2}
    return spark.createDataFrame(
        [(
            k1, len(hot0), t_split, w1, len(newly1), len(merged1),
            t_grow, w2, len(newly2), len(merged2),
            len(lvl2w2) - len(merged2),
        )],
        "k1 int, n_hot_build long, t_split long, w1_rows long, "
        "n_newly_hot_w1 long, n_merged_w1 long, t_grow long, "
        "w2_rows long, n_newly_hot_w2 long, n_merged_w2 long, "
        "n_hot_final long",
    )
