"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Two plans:
- brute-force cosine top-k — the exact baseline; one scan, TakeOrdered.
- IVF-style bucketed search — a coarse quantizer (sign pattern of the
  leading components) partitions the corpus; the query probes only its own
  cell. At 100 TB the cell assignment is the parquet partition key, so a
  probe reads ~1/2^B of the data.

Determinism: dot products are computed as a fixed-order left fold over the
index sequence (float->double widening is exact; sequential IEEE adds are
reproducible), so Spark and DuckDB produce bit-identical doubles — no
tolerance needed in the oracle comparison.

Also here: embedding-cosine near-duplicate pairs (dedup family, driver
north-star) for an incoming batch vs the corpus.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..driver_queries import _t, memoize_df, register
from ..session import tracked_persist

DIM = 64
NEARDUP_COSINE = 0.4  # synthetic corpus: max pair cosine ≈ 0.51
IVF_SIGN_BITS = 6


def dot_fold(a: Column, b: Column) -> Column:
    """Fixed-order dot product: left fold over zip_with products.

    The float->double widening happens ONCE per array (``cast`` to
    array<double>) instead of once per element inside the lambda: the
    element cast was ~40% of the fold's runtime (measured 2.06 s -> 1.29 s
    on the 195k-pair dedup_embedding_cosine shape, bit-identical results —
    element-wise cast and array cast are the same exact float->double
    widening, and the multiply/add order is unchanged)."""
    return F.aggregate(
        F.zip_with(
            a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot_fold(a, b) / (F.sqrt(dot_fold(a, a)) * F.sqrt(dot_fold(b, b)))


def _dot_sql(a: str, b: str) -> str:
    """DuckDB twin of dot_fold: identical element order, identical widening,
    identical left-fold addition order."""
    return (
        f"list_reduce(list_transform(generate_series(1, {DIM}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def _cos_sql(a: str, b: str) -> str:
    return (
        f"({_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


def brute_force_sql(k: int = 10, src: str = "embeddings") -> str:
    """The exact cosine top-k of query vec 0 over ``src`` as DuckDB text:
    ann_topk_bruteforce's oracle and the ground truth of every recall
    audit (``recall_at_k``)."""
    return f"""
    SELECT e.vec_id, {_cos_sql('e.embedding', 'q.embedding')} AS cos
    FROM {src} e
    CROSS JOIN (SELECT embedding FROM {src} WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# brute-force cosine top-k
# ---------------------------------------------------------------------------
@register("ann_topk_bruteforce", brute_force_sql())
@memoize_df
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k: the 1-row query vector broadcasts; one scan computes
    cosines inside codegen; TakeOrdered keeps k rows per partition. This is
    the correctness baseline every ANN variant is measured against."""
    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    # (dot_fold_sql parity pinned in tests/test_sql_expr_parity.py)
    q = emb.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS q_emb",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS q_norm",
    )
    # norms precompute per side (1 fold/vector) instead of per pair (3x fewer)
    return (
        emb.filter(F.col("vec_id") != 0)
        .withColumn(
            "norm", F.expr(f"sqrt({dot_fold_sql('embedding', 'embedding')})")
        )
        .crossJoin(F.broadcast(q))
        .selectExpr(
            "vec_id",
            f"({dot_fold_sql('embedding', 'q_emb')} / (norm * q_norm)) AS cos",
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# IVF-style bucketed search: sign-pattern coarse quantizer
# ---------------------------------------------------------------------------
_BUCKET_SQL = (
    "list_reduce(list_transform(generate_series(1, "
    + str(IVF_SIGN_BITS)
    + "), i -> CASE WHEN {col}[i] >= 0 THEN CAST(2 AS BIGINT) ** (i - 1) "
    "ELSE 0 END), (x, y) -> x + y)"
)


def _bucket(col: Column) -> Column:
    return F.aggregate(
        F.transform(
            F.sequence(F.lit(1), F.lit(IVF_SIGN_BITS)),
            lambda i: F.when(
                F.try_element_at(col, i) >= 0,
                F.pow(F.lit(2.0), (i - 1).cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _bucket_expr(col: str) -> str:
    """Spark-SQL text twin of ``_bucket`` (one parse; canonicalized-plan
    equality pinned in tests/test_sql_expr_parity.py). ``2.0D`` keeps
    the base a DOUBLE literal — bare ``2.0`` parses as DECIMAL."""
    return (
        f"aggregate(transform(sequence(1, {IVF_SIGN_BITS}), i -> "
        f"CASE WHEN try_element_at({col}, i) >= 0 "
        "THEN CAST(power(2.0D, CAST(i - 1 AS DOUBLE)) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


@register(
    "ann_ivf_topk",
    f"""
    WITH cells AS (
      SELECT vec_id, embedding,
             {_BUCKET_SQL.format(col='embedding')} AS cell
      FROM embeddings
    )
    SELECT e.vec_id, {_cos_sql('e.embedding', 'q.embedding')} AS cos
    FROM cells e
    JOIN (SELECT embedding, cell FROM cells WHERE vec_id = 0) q ON e.cell = q.cell
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style probe: quantize every vector to a sign-pattern cell
    (2^6 cells), search only the query's cell. At scale ``cell`` is the
    partition column, so the probe is a partition-pruned scan of ~1.6% of
    the corpus; recall is tuned by probing neighboring cells (nprobe)."""
    t = _t(spark, sf_dir)
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    emb = t["embeddings"].withColumn("cell", F.expr(_bucket_expr("embedding")))
    q = emb.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS q_emb",
        "cell",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS q_norm",
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .withColumn(
            "norm", F.expr(f"sqrt({dot_fold_sql('embedding', 'embedding')})")
        )
        .join(F.broadcast(q), "cell")
        .selectExpr(
            "vec_id",
            f"({dot_fold_sql('embedding', 'q_emb')} / (norm * q_norm)) AS cos",
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(5)
    )


@register(
    "ann_ivf_nprobe_topk",
    f"""
    WITH cells AS (
      SELECT vec_id, embedding,
             {_BUCKET_SQL.format(col='embedding')} AS cell
      FROM embeddings
    )
    SELECT e.vec_id, {_cos_sql('e.embedding', 'q.embedding')} AS cos
    FROM cells e
    JOIN (SELECT embedding, cell FROM cells WHERE vec_id = 0) q
      ON bit_count(xor(CAST(e.cell AS BIGINT), CAST(q.cell AS BIGINT))) <= 1
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, e.vec_id ASC
    LIMIT 10
    """,
)
def ann_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with nprobe = 1 + B neighbor cells: search the query's own
    sign-pattern cell plus every cell at Hamming distance 1 (one flipped
    sign bit — exactly the cells a vector near a hyperplane boundary could
    fall into). Recovers most of the recall the single-cell probe loses
    while still reading only 7/64 of the corpus; at production scale the
    cell list is 7 partition-pruned reads, the bit_count condition never
    touches the data files."""
    t = _t(spark, sf_dir)
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    emb = t["embeddings"].withColumn("cell", F.expr(_bucket_expr("embedding")))
    q = emb.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS q_emb",
        "cell AS q_cell",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS q_norm",
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .withColumn(
            "norm", F.expr(f"sqrt({dot_fold_sql('embedding', 'embedding')})")
        )
        .join(
            F.broadcast(q),
            F.bit_count(F.col("cell").bitwiseXOR(F.col("q_cell"))) <= 1,
        )
        .selectExpr(
            "vec_id",
            f"({dot_fold_sql('embedding', 'q_emb')} / (norm * q_norm)) AS cos",
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate pairs: incoming batch vs corpus
# ---------------------------------------------------------------------------
@register(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_new, b.vec_id AS id_corpus,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.vec_id < 100
      AND {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_COSINE}
    ORDER BY id_new ASC, id_corpus ASC
    """,
)
@memoize_df
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection for an incoming batch (vec_id < 100) against the
    corpus — the incremental-ingest dedup shape: the small batch broadcasts,
    the corpus streams through one scan. Blocking (LSH/IVF cells) bounds the
    candidate set at real scale; thresholds verify exactly."""
    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    batch = emb.filter(F.col("vec_id") < 100).selectExpr(
        "vec_id AS id_new",
        "embedding AS e_new",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS n_new",
    )
    return (
        emb.withColumn(
            "norm", F.expr(f"sqrt({dot_fold_sql('embedding', 'embedding')})")
        )
        .crossJoin(F.broadcast(batch))
        .filter(F.col("id_new") < F.col("vec_id"))
        .selectExpr(
            "id_new",
            "vec_id AS id_corpus",
            f"({dot_fold_sql('e_new', 'embedding')} / (n_new * norm)) AS cos",
        )
        .filter(F.col("cos") >= NEARDUP_COSINE)
        .orderBy(F.col("id_new").asc(), F.col("id_corpus").asc())
    )


def stored_pairs(
    spark: SparkSession, sf_dir: str, variant: str, fallback_fn
) -> DataFrame:
    """(id_new, id_corpus, cos) for one materialized pair-set variant,
    from the embedding pair store when built (partition-pruned read),
    else derived live via ``fallback_fn`` — the rhp_band_frame
    read-or-compute discipline. The recall-audit family consumes pair
    sets through this: at 100 TB the pair sets are the dedup job's
    OUTPUT table, and an audit that re-runs the job per read is pure
    recompute (VERDICT r9 #4). Content is identical either way (the
    store is built FROM the fallback queries), so the audits' oracles —
    which re-derive both sides from scratch — keep hash-checking it."""
    from ..operators import storage

    stored = storage.read_embedding_pairs(spark, sf_dir, variant)
    if stored is not None:
        return stored
    return fallback_fn(spark, sf_dir)


# ---------------------------------------------------------------------------
# random-hyperplane LSH near-dup: L tables x K sign-bits + exact verify
# ---------------------------------------------------------------------------
from .params import (  # noqa: E402  (registered module, no cycle)
    RHP_MAX_BITS,
    corpus_count,
    rhp_bits_for,
    rhp_bits_sql,
)

RHP_TABLES = 8   # L: independent hash tables (union of candidates)
# K (hyperplanes per table) is corpus-size-derived: rhp_bits_for(n) keeps
# expected bucket occupancy ~constant (VERDICT r6 #1 — a fixed K=4 gave
# 16 buckets/table, only ~2x pruning as n grows). Planes are generated up
# to RHP_MAX_BITS; a corpus uses the first rhp_bits_for(n) of them, so a
# GROWING corpus only ever refines its existing buckets.


def _hyperplane_signs() -> list[list[list[float]]]:
    """Deterministic pseudo-random ±1 hyperplane components, derived from
    md5 so both engines share the exact same planes as literals. Shape:
    [table][bit][dim], generated for the ladder's maximum width."""
    import hashlib

    return [
        [
            [
                1.0
                if int(hashlib.md5(f"{t}:{k}:{i}".encode()).hexdigest()[0], 16) >= 8
                else -1.0
                for i in range(DIM)
            ]
            for k in range(RHP_MAX_BITS)
        ]
        for t in range(RHP_TABLES)
    ]


_SIGNS = _hyperplane_signs()


import functools


def dlit_array(vals) -> Column:
    """Constant array<double> Column in ONE py4j round-trip.

    ``F.array(*[F.lit(x) ...])`` — and ``F.lit(list)``, which expands to
    the same thing inside PySpark — costs one gateway call per element
    (~0.3 ms each); a 64-dim constant built that way is ~20 ms of pure
    driver RPC, and the LSH/PQ families build hundreds per query
    construction. One ``F.expr`` string parse is ~1 ms. ``repr(float)``
    is the shortest round-trip representation, so the parsed doubles are
    bit-identical to the old per-element literals."""
    assert len(vals) > 0
    return F.expr(
        "array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")"
    )


def dlit_array2(rows) -> Column:
    """Constant array<array<double>> Column in one py4j round-trip."""
    assert len(rows) > 0
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(v)) + "D" for v in row) + ")"
            for row in rows
        )
        + ")"
    )


def dot_fold_sql(a: str, b: str) -> str:
    """Spark-SQL text twin of ``dot_fold`` — same Catalyst tree
    (canonicalized-plan equality pinned in tests/test_sql_expr_parity.py)
    at ONE expression parse instead of ~10 py4j round-trips per dot.
    The r12 construction profile showed DataFrame-construction latency
    is almost entirely py4j round-trips (~0.4 ms each; the LSH/simhash
    families paid 10-14k per cold call), so every hot builder now
    composes SQL text and parses once via selectExpr/F.expr."""
    return (
        f"aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), "
        f"CAST({b} AS ARRAY<DOUBLE>), (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x)"
    )


def cosine_sql(a: str, b: str) -> str:
    """Spark-SQL text twin of ``cosine`` (same tree as the DSL form)."""
    return (
        f"({dot_fold_sql(a, b)} / "
        f"(sqrt({dot_fold_sql(a, a)}) * sqrt({dot_fold_sql(b, b)})))"
    )


# ---------------------------------------------------------------------------
# the ANN probe kernel: every IVF / PQ / IVF-PQ probe routes with
# ``route``, cuts ADC candidates with ``adc_cut``, ends in ``exact_topk``
# and is audited by ``recall_at_k`` (docs/VECTOR_INDEXES.md)
# ---------------------------------------------------------------------------


def route(q_vec: list[float], cents: list[list[float]], nprobe: int) -> list[int]:
    """Driver-side cell routing: the ``nprobe`` cells whose centroids are
    nearest ``q_vec``, nearest first, ties to the lower cell id. The
    squared distance is the left-to-right double fold the SQL twin's
    ``qd`` CTE runs (clustering.route_ctes), so both engines pick the
    same cells."""
    keyed = []
    for i, c in enumerate(cents):
        acc = 0.0
        for x, y in zip(q_vec, c):
            acc = acc + (x - y) * (x - y)
        keyed.append((acc, i))
    return [i for _, i in sorted(keyed)[:nprobe]]


def exact_topk(
    rows: DataFrame,
    q_src: DataFrame,
    top: int,
    *q_cols: str,
    where: Column | None = None,
) -> DataFrame:
    """The exact-cosine tail of every probe: candidate ``rows``
    (vec_id, embedding) against the query vector — vec_id 0 of ``q_src``
    as one broadcast row with its norm (plus any ``q_cols``) — best
    ``top`` by cosine, ties on the lower vec_id. ``where`` filters the
    candidate x query pairs (the own-cell probe matches the query's
    cell). One-parse SQL text: the same trees as the old per-site
    Column-DSL chains (dot_fold_sql parity pinned in
    tests/test_sql_expr_parity.py)."""
    q = q_src.filter(F.col("vec_id") == 0).selectExpr(
        "embedding AS q_emb",
        *q_cols,
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS q_norm",
    )
    scored = rows.crossJoin(F.broadcast(q))
    if where is not None:
        scored = scored.where(where)
    return (
        scored.selectExpr(
            "vec_id",
            f"({dot_fold_sql('embedding', 'q_emb')} / "
            f"(sqrt({dot_fold_sql('embedding', 'embedding')}) * q_norm)) AS cos",
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(top)
    )


@functools.lru_cache(maxsize=None)
def _plane_sql(t: int, k: int) -> str:
    """Plane (t, k) as cached SQL array-literal text. The planes are
    process-constants; the r11 fix cached them as one-parse Columns, but
    even one py4j call per USE of a cached Column adds up across 8 tables
    x RHP_MAX_BITS planes x the probe chain's tree reuse — composing SQL
    TEXT keeps the whole bucket/probe build at a handful of round-trips
    (the r12 construction profile: dedup_embedding_lsh spent 4.3 s in
    ~10k py4j calls per cold construction; the text form is ~400)."""
    return "array(" + ",".join(repr(float(v)) + "D" for v in _SIGNS[t][k]) + ")"


def _rhp_dot_sql_expr(col: str, t: int, k: int) -> str:
    """embedding . plane_k of table t as Spark-SQL text (the signed margin
    of bit k). float->double widening happens once per array (see
    dot_fold); same Catalyst tree as the old DSL form — canonicalized-plan
    equality pinned in tests/test_sql_expr_parity.py."""
    return (
        f"aggregate(zip_with(CAST({col} AS ARRAY<DOUBLE>), {_plane_sql(t, k)}, "
        f"(x, y) -> x * y), 0.0D, (a, b) -> a + b)"
    )


def _rhp_bucket_expr(col: str, t: int, bits: int, start: int = 0) -> str:
    """bits-bit bucket id for hash table t as Spark-SQL text:
    bit_k = sign(embedding . plane_k). ``start`` > 0 yields only the HIGH
    bits [start, bits) — the delta a width migration adds to an existing
    lower-width bucket (bit k's plane is the same at every width, so
    bucket_k' = bucket_k + delta)."""
    acc = "0"
    for k in range(start, bits):
        acc = (
            f"{acc} + (CASE WHEN {_rhp_dot_sql_expr(col, t, k)} >= 0 "
            f"THEN {1 << k} ELSE 0 END)"
        )
    return f"({acc})"


def _rhp_bucket(col: str, t: int, bits: int, start: int = 0) -> Column:
    """``_rhp_bucket_expr`` as a Column (one parse). ``col`` is a column
    NAME, not a Column — text composition is what keeps construction at
    O(1) round-trips."""
    return F.expr(_rhp_bucket_expr(col, t, bits, start))


def _rhp_bucket_sql(col: str, t: int) -> str:
    """Masked-ladder twin of _rhp_bucket: all RHP_MAX_BITS bit terms are
    generated, each gated on k < p.kb (the in-SQL corpus-size-derived
    width) — CASE short-circuits, so inactive planes cost nothing and the
    bucket value equals the Spark side's first-kb-planes sum exactly."""
    bits = []
    for k in range(RHP_MAX_BITS):
        lit = "[" + ", ".join(str(s) for s in _SIGNS[t][k]) + "]"
        dot = (
            f"list_reduce(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({col}[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )
        bits.append(
            f"(CASE WHEN {k} < p.kb THEN "
            f"(CASE WHEN {dot} >= 0 THEN {1 << k} ELSE 0 END) ELSE 0 END)"
        )
    return " + ".join(bits)


_RHP_PARAMS_SQL = (
    "SELECT "
    + rhp_bits_sql("(SELECT count(*) FROM embeddings)")
    + " AS kb"
)

_RHP_BANDS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {t} AS tbl, {_rhp_bucket_sql('embedding', t)} AS bucket "
    "FROM embeddings, p"
    for t in range(RHP_TABLES)
)

_RHP_SQL = f"""
    WITH p AS ({_RHP_PARAMS_SQL}),
    bands AS ({_RHP_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_new, b.vec_id AS id_corpus
      FROM bands a JOIN bands b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE a.vec_id < 100
    )
    SELECT c.id_new, c.id_corpus,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.id_new
    JOIN embeddings b ON b.vec_id = c.id_corpus
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_COSINE}
    ORDER BY id_new ASC, id_corpus ASC
"""


def rhp_band_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, tbl, bucket) at the corpus-size-derived width: one scan
    computes all L bucket ids, posexplode emits (tbl, bucket) — identical
    fold arithmetic to the per-table plan, minus L-1 re-scans. Shared by
    the LSH dedup query and the occupancy audit so the banding cannot
    drift between them.

    Reads the materialized band store when one exists at this corpus's
    width (operators/storage.py build_rhp_band_store): the L x K
    sign-pattern folds are the dominant cost of every RHP consumer, and
    a 100 TB pipeline computes them once at ingest."""
    from ..operators import storage

    bits = rhp_bits_for(corpus_count(spark, sf_dir, "embeddings"))
    stored = storage.read_rhp_bands(spark, sf_dir, bits)
    return rhp_band_frame_at(spark, sf_dir, bits) if stored is None else stored


def rhp_band_frame_at(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """Derive the band table at an EXPLICIT width (no store check) — the
    building block the store builder and the width-migration job share."""
    emb = _t(spark, sf_dir)["embeddings"]
    return emb.selectExpr(
        "vec_id",
        "array("
        + ", ".join(_rhp_bucket_expr("embedding", tb, bits) for tb in range(RHP_TABLES))
        + ") AS bks",
    ).select("vec_id", F.posexplode("bks").alias("tbl", "bucket"))


@register("dedup_embedding_lsh_single_probe", _RHP_SQL)
@memoize_df
def dedup_embedding_lsh_single_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale version of dedup_embedding_cosine: candidates come
    from sign-pattern bucket collisions in L=8 independent K-bit
    hyperplane tables (recall ≈ 1-(1-p^K)^L with p = 1-θ/π), exact cosine
    verifies only candidates. K = rhp_bits_for(corpus count): 2^K tracks
    n/32, so expected bucket occupancy — and with it candidates-per-probe
    — stays ~flat as the corpus grows (measured in scale_probe.py's
    candidates section). At 100 TB the (tbl, bucket) pair is the shuffle
    key — all-pairs work is confined to bucket interiors, like the
    MinHash-LSH text path.

    This is the priced CHEAP path (VERDICT r8 #5): one probe per table,
    recall 0.60 at sf0.1 and decaying with corpus growth by ladder
    design. The HEADLINE name ``dedup_embedding_lsh`` is the T=4
    multi-probe path (recall 1.0 at sf0.1 on the same stored index);
    reach for this variant only when probe cost must be minimal and the
    recall audit's price is acceptable."""
    bands = tracked_persist(rhp_band_frame(spark, sf_dir))
    emb = _t(spark, sf_dir)["embeddings"]
    a = bands.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id_new"), "tbl", "bucket"
    )
    b = bands.select(F.col("vec_id").alias("id_corpus"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_new") < F.col("id_corpus"))
        .select("id_new", "id_corpus")
        .distinct()
    )
    e1 = emb.selectExpr(
        "vec_id AS id_new",
        "embedding AS e1",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS n1",
    )
    e2 = emb.selectExpr(
        "vec_id AS id_corpus",
        "embedding AS e2",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS n2",
    )
    return (
        cand.join(e1, "id_new")
        .join(e2, "id_corpus")
        .selectExpr(
            "id_new",
            "id_corpus",
            f"({dot_fold_sql('e1', 'e2')} / (n1 * n2)) AS cos",
        )
        .filter(F.col("cos") >= NEARDUP_COSINE)
        .orderBy(F.col("id_new").asc(), F.col("id_corpus").asc())
    )


# ---------------------------------------------------------------------------
# multi-probe RHP LSH: the recall knob at a FIXED stored width
# ---------------------------------------------------------------------------

_POWS_SQL = "[" + ", ".join(str(1 << k) for k in range(RHP_MAX_BITS)) + "]"

# Probes per table: all XOR subsets of the RHP_MP_FLIP lowest-|margin|
# planes — T = 2^RHP_MP_FLIP probe buckets ordered {}, {k1}, {k2},
# {k1,k2}, ... (the multi-probe LSH perturbation sets of Lv et al. 2007,
# truncated to single- and double-flips). r7 shipped T=2 (recall 0.84 at
# sf0.1); T=4 buys the audit past the 0.9 floor at the same stored width.
RHP_MP_FLIP = 2
RHP_PROBES = 1 << RHP_MP_FLIP


def _rhp_dots_sql(col: str, t: int) -> str:
    """Masked-ladder dot LIST for table t: entry k is the signed margin of
    plane k, NULL when the plane is inactive at this corpus's width. The
    list is computed ONCE per (probe row, table); bucket bits and the
    flip-plane argmins all derive from it downstream — each 64-dim fold
    appears once in the SQL, not once per consumer."""
    entries = []
    for k in range(RHP_MAX_BITS):
        lit = "[" + ", ".join(str(s) for s in _SIGNS[t][k]) + "]"
        dot = (
            f"list_reduce(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({col}[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
        )
        entries.append(f"(CASE WHEN {k} < p.kb THEN {dot} ELSE NULL END)")
    return "[" + ", ".join(entries) + "]"


# b0 from the dot list: bit k set iff plane k active and margin >= 0 —
# identical to the masked-ladder band sum over the same folds
_B0_FROM_DS_SQL = " + ".join(
    f"(CASE WHEN ds[{k + 1}] IS NOT NULL AND ds[{k + 1}] >= 0 "
    f"THEN {1 << k} ELSE 0 END)"
    for k in range(RHP_MAX_BITS)
)


def _rhp_mp_probe_ctes(src: str, flips: int = RHP_MP_FLIP) -> str:
    """The pr0..pb CTE chain (multi-probe bucket derivation, T = 2^flips)
    over an ARBITRARY (vec_id, embedding) source relation — shared by the
    registered multiprobe oracles (src = the vec_id < 100 probe batch,
    one per flips operating point) and the planted-pair recall audit
    (src = the planted clones), the SQL mirror of
    rhp_multiprobe_buckets. Flip j's argmin runs over the abs-margin list
    with winners 1..j-1 masked to the same +inf sentinel the Spark side
    uses (first-match tie-break each round); the probed buckets are b0
    XOR every subset of the flip-plane bits."""
    dots = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_rhp_dots_sql('embedding', t)} AS ds "
        f"FROM {src}, p"
        for t in range(RHP_TABLES)
    )
    parts = [
        f"pr0 AS ({dots})",
        """pr1 AS (
      SELECT vec_id, tbl, ds,
             list_transform(ds, x -> CASE WHEN x IS NULL THEN 1e308
                                          ELSE abs(x) END) AS a1
      FROM pr0
    )""",
    ]
    prev = "pr1"
    for j in range(1, flips + 1):
        parts.append(
            f"""prk{j} AS (
      SELECT *,
             CAST(list_position(a{j}, list_aggregate(a{j}, 'min')) - 1 AS INT)
               AS k{j}
      FROM {prev}
    )"""
        )
        prev = f"prk{j}"
        if j < flips:
            parts.append(
                f"""pra{j + 1} AS (
      SELECT *,
             list_transform(generate_series(1, {RHP_MAX_BITS}),
                            i -> CASE WHEN i = k{j} + 1 THEN 1e308
                                      ELSE a{j}[i] END) AS a{j + 1}
      FROM prk{j}
    )"""
            )
            prev = f"pra{j + 1}"
    pcols = "".join(
        f",\n             ({_POWS_SQL})[k{j} + 1] AS p{j}"
        for j in range(1, flips + 1)
    )
    parts.append(
        f"""prb AS (
      SELECT vec_id, tbl, ({_B0_FROM_DS_SQL}) AS b0{pcols}
      FROM {prev}
    )"""
    )
    buckets = ["b0"]
    for j in range(1, flips + 1):  # subset enumeration, Spark-side order
        buckets = buckets + [f"xor({b}, p{j})" for b in buckets]
    parts.append(
        f"""pb AS (
      SELECT vec_id, tbl, unnest([{", ".join(buckets)}]) AS bucket
      FROM prb
    )"""
    )
    return ",\n    ".join(parts)


def _mp_sql_at(flips: int) -> str:
    """The full multi-probe pair-set oracle at an explicit flips operating
    point — one SQL builder for the whole recall-vs-cost curve, so the
    flips=1/2/3 registered variants and the headline share every CTE."""
    return f"""
    WITH p AS ({_RHP_PARAMS_SQL}),
    bands AS ({_RHP_BANDS_SQL}),
    {_rhp_mp_probe_ctes(
        "(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100) e0",
        flips,
    )},
    cand AS (
      SELECT DISTINCT a.vec_id AS id_new, b.vec_id AS id_corpus
      FROM pb a JOIN bands b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT c.id_new, c.id_corpus,
           {_cos_sql('a.embedding', 'b.embedding')} AS cos
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.id_new
    JOIN embeddings b ON b.vec_id = c.id_corpus
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {NEARDUP_COSINE}
    ORDER BY id_new ASC, id_corpus ASC
"""


_RHP_MP_SQL = _mp_sql_at(RHP_MP_FLIP)


def rhp_multiprobe_buckets(df: DataFrame, bits: int, flips: int) -> DataFrame:
    """Multi-probe bucket rows (vec_id, tbl, bucket) for an ARBITRARY
    (vec_id, embedding) probe frame at an explicit stored width: per
    table, b0 plus the XOR of every subset of the ``flips``
    lowest-|margin| plane bits — T = 2^flips probes, the nprobe-style
    runtime recall knob. Each table's K margin dots are computed ONCE
    into an array column; bucket bits and every flip argmin derive from
    it (inlining the folds into both consumers doubled codegen size and
    warm time). Successive argmins mask the previous winner with the
    same +inf sentinel the SQL twin uses (first-match tie-break each
    time). Shared by the registered multiprobe query and the
    planted-pair recall audit — the probe arithmetic cannot drift
    between them."""
    # Built as SQL text end to end (one parse per projection): the DSL
    # form of this chain was ~10.5k py4j round-trips (~4-6 s of pure
    # construction latency per cold call); the text form is ~400.
    # Canonicalized analyzed plans verified EQUAL between the two forms.
    pows = "array(" + ", ".join(str(1 << k) for k in range(RHP_MAX_BITS)) + ")"
    dotted = df.selectExpr(
        "vec_id",
        *[
            "array("
            + ", ".join(_rhp_dot_sql_expr("embedding", t, k) for k in range(bits))
            + f") AS d{t}"
            for t in range(RHP_TABLES)
        ],
    )

    def probe_struct(t: int) -> str:
        dt = f"d{t}"
        b0 = "0"
        for k in range(bits):  # same k-order adds as _rhp_bucket_expr
            b0 = (
                f"{b0} + (CASE WHEN try_element_at({dt}, {k + 1}) >= 0 "
                f"THEN {1 << k} ELSE 0 END)"
            )
        b0 = f"({b0})"
        absd = f"transform({dt}, x -> abs(x))"

        def masked(arr: str, kp: str) -> str:
            return (
                f"transform({arr}, (x, i) -> CASE WHEN i = {kp} "
                f"THEN {repr(1e308)}D ELSE x END)"
            )

        flip_pows = []
        for _ in range(min(flips, bits)):
            kmin = f"CAST(array_position({absd}, array_min({absd})) - 1 AS INT)"
            flip_pows.append(f"try_element_at({pows}, {kmin} + 1)")
            absd = masked(absd, kmin)
        buckets = [b0]
        for p in flip_pows:  # subset enumeration: [S ∪ {p} for S so far]
            buckets = buckets + [f"({b} ^ {p})" for b in buckets]
        return f"struct({t} AS tbl, array({', '.join(buckets)}) AS bks)"

    return (
        dotted.selectExpr(
            "vec_id",
            "explode(array("
            + ", ".join(probe_struct(t) for t in range(RHP_TABLES))
            + ")) AS x",
        )
        .selectExpr("vec_id", "x.tbl AS tbl", "explode(x.bks) AS bucket")
    )


def multiprobe_lsh_pairs(
    spark: SparkSession, sf_dir: str, flips: int = RHP_MP_FLIP
) -> DataFrame:
    """Parameterized multi-probe chain (the nprobe-style runtime knob):
    ``flips`` lowest-|margin| planes -> T = 2^flips probe buckets per
    table. flips=0 degenerates to the single-probe pair set; the
    registered query is the flips=RHP_MP_FLIP operating point. See
    dedup_embedding_lsh_multiprobe for the full design notes."""
    bands = tracked_persist(rhp_band_frame(spark, sf_dir))
    emb = _t(spark, sf_dir)["embeddings"]
    bits = rhp_bits_for(corpus_count(spark, sf_dir, "embeddings"))
    probes = rhp_multiprobe_buckets(
        emb.filter(F.col("vec_id") < 100), bits, flips
    ).withColumnRenamed("vec_id", "id_new")
    b = bands.select(F.col("vec_id").alias("id_corpus"), "tbl", "bucket")
    cand = (
        probes.join(b, ["tbl", "bucket"])
        .filter(F.col("id_new") < F.col("id_corpus"))
        .select("id_new", "id_corpus")
        .distinct()
    )
    e1 = emb.selectExpr(
        "vec_id AS id_new",
        "embedding AS e1",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS n1",
    )
    e2 = emb.selectExpr(
        "vec_id AS id_corpus",
        "embedding AS e2",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS n2",
    )
    # the SURVIVOR set (tiny) is persisted before the orderBy: the range
    # partitioner samples its child in a separate pass, which would
    # otherwise evaluate the doubled candidate join + verify chain twice
    # (persisting the 2x-wider candidate set instead would hide its size
    # from the planner and demote the broadcast verify to a shuffle join)
    verified = tracked_persist(
        cand.join(e1, "id_new")
        .join(e2, "id_corpus")
        .selectExpr(
            "id_new",
            "id_corpus",
            f"({dot_fold_sql('e1', 'e2')} / (n1 * n2)) AS cos",
        )
        .filter(F.col("cos") >= NEARDUP_COSINE)
    )
    return verified.orderBy(F.col("id_new").asc(), F.col("id_corpus").asc())


@register("dedup_embedding_lsh_multiprobe", _RHP_MP_SQL)
@memoize_df
def dedup_embedding_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe variant of dedup_embedding_lsh — the recall knob that
    does NOT touch the stored index: per table, the probe visits the
    T = 2^RHP_MP_FLIP buckets reached by XOR-flipping every subset of its
    RHP_MP_FLIP lowest-|margin| hyperplanes (the bits most likely to
    differ for a true near neighbor — the multi-probe perturbation sets
    of Lv et al., truncated to the T cheapest), while the corpus band
    table stays exactly as built. This is the RHP analog of IVF's nprobe:
    widening the tables (the ladder) buys pruning at the price of
    per-table recall, and multi-probing buys the recall back at query
    time instead of by storing more tables — at 100 TB that trade (T x
    probe reads vs L more stored tables and L more ingest folds) is the
    whole point. Margins are computed on the PROBE side only (the batch
    recomputes its own dots, the index is read as stored — exactly a
    vector DB's query path). r7 shipped T=2 at 0.84 recall (sf0.1); T=4
    clears the 0.9 audit floor at the same stored width (VERDICT r7 #3).
    ``multiprobe_lsh_pairs`` exposes flips as a runtime parameter; the
    probe-ladder containment test pins flips=0 == the single-probe pair
    set and coverage monotone in flips.

    Determinism: same dot folds as the banding, lowest-index-wins argmin
    on |margin| (each further flip = argmin with the previous winner
    masked to the same +inf sentinel in both engines), XOR flips via a
    power-of-two lookup; candidates dedup through DISTINCT before the
    exact-cosine verify, ties impossible in output (pair-keyed).
    embedding_lsh_multiprobe_recall_audit measures what the extra probes
    buy vs the single-probe audit. Memoized per session (the audit
    consumes the SAME frame the query built — VERDICT r7 #5: the pair
    must not pay for the probe chain twice).

    NON-headline curve point since r12: reads the materialized "mp2"
    pair set when the embedding pair store is built (VERDICT r11 #4 —
    every curve point re-derived its probe chain + exact verify cold,
    ~25 s across the family); falls back to the live chain, which is
    also what the store builder materializes, so content is identical
    either way and the oracle re-derives from scratch."""
    return stored_pairs(
        spark,
        sf_dir,
        "mp2",
        lambda s, d: multiprobe_lsh_pairs(s, d, RHP_MP_FLIP),
    ).orderBy(F.col("id_new").asc(), F.col("id_corpus").asc())


# the HEADLINE embedding-dedup name is the multi-probe path (VERDICT r8
# #5): the name a user reaches for first should be the one whose recall
# holds at 1.0 across ladder rungs; single-probe stays registered as the
# explicit ``_single_probe`` cheap alternative. The headline stays LIVE
# (it is the measured operator — bench times the real probe chain);
# the ``_multiprobe`` curve point reads the pair store when built.
# Content cannot drift: the store is built FROM this live chain.
@register("dedup_embedding_lsh", _RHP_MP_SQL)
@memoize_df
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline embedding near-dup operator: multi-probe RHP LSH at
    flips=RHP_MP_FLIP (T=4 probes/table) — always the live probe chain
    (see dedup_embedding_lsh_multiprobe for the design notes; that name
    is the store-read twin on the recall curve)."""
    return multiprobe_lsh_pairs(spark, sf_dir, RHP_MP_FLIP)


@register("dedup_embedding_lsh_flips1", _mp_sql_at(1))
@memoize_df
def dedup_embedding_lsh_flips1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flips=1 (T=2 probes/table) point of the multi-probe recall-vs-cost
    curve, registered with its own oracle so the curve is DRIVER-checkable
    (VERDICT r8 #7) rather than only probe-measured: half the probe reads
    of the T=4 headline, recall between single-probe and T=4 (monotone
    coverage pinned by tests/test_multiprobe_ladder.py). Reads the
    materialized "mp1" pair set when built (VERDICT r11 #4)."""
    return stored_pairs(
        spark, sf_dir, "mp1", lambda s, d: multiprobe_lsh_pairs(s, d, 1)
    ).orderBy(F.col("id_new").asc(), F.col("id_corpus").asc())


@register("dedup_embedding_lsh_flips3", _mp_sql_at(3))
@memoize_df
def dedup_embedding_lsh_flips3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flips=3 (T=8 probes/table) point of the curve: past the headline's
    T=4 operating point — the knob a 100 TB operator turns when a recall
    audit dips after a corpus growth spurt and re-banding at the next
    ladder rung hasn't run yet. Covers a strict superset of the T=4
    buckets by construction. Reads the materialized "mp3" pair set when
    built (VERDICT r11 #4)."""
    return stored_pairs(
        spark, sf_dir, "mp3", lambda s, d: multiprobe_lsh_pairs(s, d, 3)
    ).orderBy(F.col("id_new").asc(), F.col("id_corpus").asc())


# ---------------------------------------------------------------------------
# SQ8 scalar-quantized search: int8 prefilter + exact rerank
# ---------------------------------------------------------------------------
SQ8_CANDIDATES = 50

# DuckDB twin of _sq8(): per-vector max-abs scale, elements truncated toward
# zero after x * 127.0 / m (identical association order to the Spark lambda;
# explicit trunc() because DuckDB's double->bigint CAST rounds while Spark's
# truncates).
_SQ8_SQL = (
    "list_transform(generate_series(1, {dim}), "
    "i -> CAST(trunc(CAST({col}[i] AS DOUBLE) * 127.0 / {m}) AS BIGINT))"
)
_QDOT_SQL = (
    "list_reduce(list_transform(generate_series(1, {dim}), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)
_MAXABS_SQL = "list_aggregate(list_transform({col}, x -> abs(CAST(x AS DOUBLE))), 'max')"


def _maxabs(col: Column) -> Column:
    return F.array_max(F.transform(col, lambda x: F.abs(x.cast("double"))))


def _maxabs_expr(col: str) -> str:
    """Spark-SQL text twin of ``_maxabs`` (one parse; canonicalized-plan
    equality pinned in tests/test_sql_expr_parity.py)."""
    return f"array_max(transform({col}, x -> abs(CAST(x AS DOUBLE))))"


def _sq8(col: Column, m: Column) -> Column:
    """int8-range quantization: trunc(x * 127 / max|x|) per element.

    Integer truncation (Spark's double->long cast) rather than rounding:
    truncation is identical across engines, while round() ties differ
    (HALF_UP vs HALF_EVEN). One code away from optimal precision, which
    the exact rerank recovers anyway.
    """
    return F.transform(
        col, lambda x: (x.cast("double") * F.lit(127.0) / m).cast("long")
    )


def _sq8_expr(col: str, m: str) -> str:
    """Spark-SQL text twin of ``_sq8`` (one parse; plan equality pinned
    in tests/test_sql_expr_parity.py). ``127.0D`` keeps the scale a
    DOUBLE literal — bare ``127.0`` parses as DECIMAL."""
    return (
        f"transform({col}, x -> "
        f"CAST(CAST(x AS DOUBLE) * 127.0D / {m} AS BIGINT))"
    )


def _qdot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors (left fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _qdot_expr(a: str, b: str) -> str:
    """Spark-SQL text twin of ``_qdot`` (one parse; plan equality pinned
    in tests/test_sql_expr_parity.py)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


@register(
    "ann_sq8_topk",
    f"""
    WITH q0 AS (
      SELECT embedding, {_MAXABS_SQL.format(col='embedding')} AS m
      FROM embeddings WHERE vec_id = 0
    ),
    q AS (
      SELECT embedding AS qemb,
             {_SQ8_SQL.format(dim=DIM, col='embedding', m='m')} AS qv
      FROM q0
    ),
    c0 AS (
      SELECT vec_id, embedding,
             {_MAXABS_SQL.format(col='embedding')} AS m
      FROM embeddings WHERE vec_id <> 0
    ),
    c AS (
      SELECT vec_id, embedding,
             {_SQ8_SQL.format(dim=DIM, col='embedding', m='m')} AS cv
      FROM c0
    ),
    cand AS (
      SELECT c.vec_id, c.embedding, q.qemb,
             {_QDOT_SQL.format(dim=DIM, a='c.cv', b='q.qv')} AS qdot
      FROM c CROSS JOIN q
      ORDER BY qdot DESC, c.vec_id ASC
      LIMIT {SQ8_CANDIDATES}
    )
    SELECT vec_id, qdot, {{cos}} AS cos
    FROM cand
    ORDER BY cos DESC, vec_id ASC
    LIMIT 10
    """.format(cos=_cos_sql("embedding", "qemb")),
)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) top-k: the 100 TB memory-bandwidth play.

    The corpus is scanned as int8-range codes (one-quarter the bytes of
    float32, integer multiply-adds instead of float), producing a cheap
    quantized-dot-product ranking; only the top ``SQ8_CANDIDATES`` rows are
    re-ranked with the exact float cosine. Both stages are deterministic —
    the quantized scores are exact integers, the rerank is the same
    fixed-order fold as the brute-force baseline — so the oracle match is
    exact. At scale the codes live in their own narrow parquet column
    (written once at ingest); the prefilter scan reads ONLY that column
    (column pruning), touching ~6% of the bytes the float scan would, and
    the rerank gathers the 50 survivors' float vectors via a semi-join.
    Assumes no all-zero vectors (max|x| > 0), true of any normalized
    embedding corpus.
    """
    t = _t(spark, sf_dir)
    emb = t["embeddings"]
    # one-parse SQL text throughout (r13 construction-cost collapse):
    # same Catalyst trees as the old Column-DSL chain, kernels pinned in
    # tests/test_sql_expr_parity.py
    q = (
        emb.filter(F.col("vec_id") == 0)
        .withColumn("m", F.expr(_maxabs_expr("embedding")))
        .selectExpr(
            "embedding AS qemb",
            _sq8_expr("embedding", "m") + " AS qv",
        )
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .withColumn("m", F.expr(_maxabs_expr("embedding")))
        .withColumn("cv", F.expr(_sq8_expr("embedding", "m")))
        .crossJoin(F.broadcast(q))
        .selectExpr(
            "vec_id", "embedding", "qemb",
            _qdot_expr("cv", "qv") + " AS qdot",
        )
        .orderBy(F.col("qdot").desc(), F.col("vec_id").asc())
        .limit(SQ8_CANDIDATES)
    )
    return (
        cand.selectExpr(
            "vec_id", "qdot", cosine_sql("embedding", "qemb") + " AS cos"
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# batched ANN: many queries against the corpus in one pass (serving shape)
# ---------------------------------------------------------------------------
BATCH_Q = 8     # query batch: vec_id < BATCH_Q
BATCH_TOP = 5   # top-k per query


def _batch_scored_sql(n_q: int) -> str:
    """Shared CTE pair: the broadcast query batch (vec_id < n_q) scored
    against the rest of the corpus in one scan. Single source for
    ann_query_batch and hard_negatives, so the scoring path cannot
    drift between the twins."""
    return f"""q AS (
      SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {n_q}
    ),
    scored AS (
      SELECT q.q_id, e.vec_id,
             {_cos_sql('e.embedding', 'q.q_emb')} AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id >= {n_q}
    )"""


def _batch_scores(emb: DataFrame, n_q: int) -> DataFrame:
    """DataFrame twin of :func:`_batch_scored_sql`: (q_id, vec_id, cos)
    with per-side norm precompute; the query batch broadcasts, the
    corpus streams through one scan scoring all |Q| queries per row."""
    # one-parse SQL text (r13): same trees as the old Column-DSL chain
    q = emb.filter(F.col("vec_id") < n_q).selectExpr(
        "vec_id AS q_id",
        "embedding AS q_emb",
        f"sqrt({dot_fold_sql('embedding', 'embedding')}) AS q_norm",
    )
    return (
        emb.filter(F.col("vec_id") >= n_q)
        .withColumn(
            "norm", F.expr(f"sqrt({dot_fold_sql('embedding', 'embedding')})")
        )
        .crossJoin(F.broadcast(q))
        .selectExpr(
            "q_id",
            "vec_id",
            f"({dot_fold_sql('embedding', 'q_emb')} / (norm * q_norm)) AS cos",
        )
    )


@register(
    "ann_query_batch",
    f"""
    WITH {_batch_scored_sql(BATCH_Q)},
    ranked AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT q_id, vec_id, cos, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {BATCH_TOP}
    ORDER BY q_id ASC, rk ASC
    """,
)
def ann_query_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving: a batch of query vectors scores against the
    corpus in ONE scan (the nightly-recommendations / embedding-join
    shape), per-query top-k via a rank window partitioned on the query id.

    Scale: the QUERY BATCH broadcasts (requests are small; the corpus is
    the 100 TB side), the corpus streams through one codegen pass
    scoring all |Q| queries per row, and the rk <= k filter lets Spark
    run WindowGroupLimit — a per-partition partial top-k before the
    single q_id exchange, so the shuffle carries |Q| x k x partitions
    rows, not |corpus| x |Q|. Compose with the IVF cell filters for
    sub-linear scans per query."""
    from pyspark.sql import Window

    scored = _batch_scores(_t(spark, sf_dir)["embeddings"], BATCH_Q)
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= BATCH_TOP)
        .select("q_id", "vec_id", "cos", F.col("rk").cast("long").alias("rk"))
        .orderBy(F.col("q_id").asc(), F.col("rk").asc())
    )


# ---------------------------------------------------------------------------
# product quantization: 4 subspaces x 4 codewords, ADC scan + exact rerank
# ---------------------------------------------------------------------------
# r6 audit read recall@10 = 0.5 at S=4x16-dim / K=4 / CAND=50 — the honest
# audit doing its job. r7 re-tune (VERDICT r6 next-round #2): narrower
# subspaces (8x8-dim) quantize less aggressively per code, twice the
# codewords halve the per-subspace quantization error, and a bigger exact
# rerank pool recovers ADC misses; pq_recall_audit is the regression gate
# on these constants. The K^2 argmin CASE cascade was replaced by
# array_position(ds, array_min(ds)) — each distance fold appears ONCE in
# the plan instead of ~K times, which is what pays for K=8 inside the
# ~2 s warm budget.
PQ_S = 8                 # subspaces
PQ_DSUB = DIM // PQ_S    # dims per subspace
PQ_K = 8                 # codewords per subspace (seeded: vec_id 0..7)
PQ_CAND = 300            # ADC candidates kept for exact rerank
PQ_TOP = 10


def _pq_dist_sql(e: str, k: int, s: int) -> str:
    """Squared distance of e's subspace-s slice to seed k's same slice
    (fixed-order left fold, exact float->double widening both engines)."""
    o = s * PQ_DSUB
    d = f"(CAST({e}[{o} + i] AS DOUBLE) - CAST(k{k}.embedding[{o} + i] AS DOUBLE))"
    return (
        f"list_reduce(list_transform(generate_series(1, {PQ_DSUB}), "
        f"i -> {d} * {d}), (x, y) -> x + y)"
    )


def _pq_dists_sql(s: int) -> str:
    """All K squared distances of subspace s in ONE fold: per dimension i a
    K-vector of squared diffs, accumulated elementwise. The addition order
    per codeword is the i-order left fold — identical values to a per-k
    fold, at 1/K the expression count (what keeps plan compile time flat
    as K grows)."""
    o = s * PQ_DSUB
    d = (
        f"(CAST(e.embedding[{o} + i] AS DOUBLE)"
        f" - CAST(cw[kk][{o} + i] AS DOUBLE))"
    )
    return (
        f"list_reduce(list_transform(generate_series(1, {PQ_DSUB}), "
        f"i -> list_transform(generate_series(1, {PQ_K}), kk -> {d} * {d})), "
        f"(acc, dv) -> list_transform(generate_series(1, {PQ_K}), "
        f"j -> acc[j] + dv[j]))"
    )


def _pq_seeds_sql() -> str:
    """FROM-clause fragment binding the PQ_K seeded codebook vectors."""
    return ", ".join(
        f"(SELECT embedding FROM embeddings WHERE vec_id = {k}) k{k}"
        for k in range(PQ_K)
    )


def _pq_cw_list_sql() -> str:
    """The codeword list expression (array of the PQ_K seed embeddings)."""
    return "[" + ", ".join(f"k{k}.embedding" for k in range(PQ_K)) + "]"


def _pq_lut_cols_sql() -> str:
    """The query-side S x K distance LUT columns (qd_{s}_{k})."""
    return ", ".join(
        _pq_dist_sql("q.q_emb", k, s) + f" AS qd_{s}_{k}"
        for s in range(PQ_S)
        for k in range(PQ_K)
    )


def _pq_dist_lists_sql() -> str:
    """Per-subspace distance lists ds0..ds{S-1}, one fold each."""
    return ", ".join(f"{_pq_dists_sql(s)} AS ds{s}" for s in range(PQ_S))


def _pq_code_cols_sql() -> str:
    """Code columns c0..c{S-1} from the distance lists; list_position
    returns the FIRST index of the min — the shared lowest-index-wins
    tie-break, same as Spark's array_position."""
    return ", ".join(
        f"CAST(list_position(ds{s}, list_aggregate(ds{s}, 'min')) - 1 AS INT) AS c{s}"
        for s in range(PQ_S)
    )


def _pq_adc_sql() -> str:
    """ADC distance: sum of one LUT lookup per subspace code."""
    return " + ".join(
        "([" + ", ".join(f"qd_{s}_{k}" for k in range(PQ_K)) + f"])[c{s} + 1]"
        for s in range(PQ_S)
    )


def _pq_sql() -> str:
    seeds = _pq_seeds_sql()
    cw_list = _pq_cw_list_sql()
    lut_cols = _pq_lut_cols_sql()
    # every subspace is ONE fold producing the K-distance list; the outer
    # argmin works on the list.
    dist_lists = _pq_dist_lists_sql()
    code_cols = _pq_code_cols_sql()
    adc = _pq_adc_sql()
    # the ADC scan carries CODES ONLY (the narrow store/column a 100 TB
    # deployment reads); candidate rows join back to embeddings for the
    # exact rerank — the fetch of PQ_CAND full vectors, never the corpus
    return f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
    lut AS (SELECT {lut_cols} FROM q, {seeds}),
    cws AS (SELECT {cw_list} AS cw FROM {seeds}),
    codes AS (
      SELECT vec_id, {code_cols}
      FROM (
        SELECT e.vec_id, {dist_lists}
        FROM embeddings e, cws
        WHERE e.vec_id <> 0
      ) dl
    ),
    cand AS (
      SELECT vec_id, {adc} AS approx
      FROM codes, lut
      ORDER BY approx ASC, vec_id ASC
      LIMIT {PQ_CAND}
    )
    SELECT c.vec_id, {_cos_sql('emb.embedding', 'q.q_emb')} AS cos
    FROM cand c
    JOIN embeddings emb ON emb.vec_id = c.vec_id
    CROSS JOIN q
    ORDER BY cos DESC, c.vec_id ASC
    LIMIT {PQ_TOP}
    """


def pq_seed_vectors(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The PQ_K seeded codebook vectors (vec_id 0..PQ_K-1) as Python
    floats — the driver-side quantizer state, a bounded PQ_K-row collect."""
    emb = _t(spark, sf_dir)["embeddings"]
    rows = emb.filter(F.col("vec_id") < PQ_K).orderBy("vec_id").collect()
    return [[float(x) for x in r["embedding"]] for r in rows]


def _pq_sub_dists_expr(col: str, seeds: list[list[float]], s: int) -> str:
    """All K squared distances of subspace s as ONE fold with an
    array-of-K accumulator (mirrors _pq_dists_sql): per dimension a
    K-vector of squared diffs, accumulated elementwise in i-order —
    bit-identical to a per-codeword fold at 1/K the expression count.
    Spark-SQL TEXT (the py4j-free construction form; canonicalized-plan
    equality with the old DSL fold pinned in tests/test_sql_expr_parity.py)."""
    o = s * PQ_DSUB
    # cwl[i][k] = codeword k's component at subspace offset i — ONE nested
    # literal (identical values/type to the old 72-node F.array-of-F.lit
    # tree; the encode path embeds PQ_S of these per call)
    cwl = (
        "array("
        + ",".join(
            "array("
            + ",".join(repr(float(seeds[k][o + i])) + "D" for k in range(PQ_K))
            + ")"
            for i in range(PQ_DSUB)
        )
        + ")"
    )
    x = f"CAST(try_element_at({col}, {o} + i) AS DOUBLE)"
    return (
        f"aggregate(sequence(1, {PQ_DSUB}), array_repeat(0.0D, {PQ_K}), "
        f"(acc, i) -> zip_with(acc, transform(try_element_at({cwl}, i), "
        f"c -> ({x} - c) * ({x} - c)), (a, d) -> a + d))"
    )


def _pq_sub_dists(col: str, seeds: list[list[float]], s: int) -> Column:
    """Column form of ``_pq_sub_dists_expr`` for call sites that compose
    it into struct builders. ``col`` is a column NAME (text composition
    is what keeps construction at O(1) py4j round-trips)."""
    return F.expr(_pq_sub_dists_expr(col, seeds, s))


def pq_code_expr(col: str, seeds: list[list[float]], s: int) -> str:
    """Code of subspace s as Spark-SQL text: lowest-index-wins argmin via
    array_position(ds, array_min(ds)) — the shared first-match-of-the-min
    contract."""
    ds = _pq_sub_dists_expr(col, seeds, s)
    return f"CAST(array_position({ds}, array_min({ds})) - 1 AS INT)"


def pq_encode(
    df: DataFrame, seeds: list[list[float]], keep: tuple[str, ...] = ()
) -> DataFrame:
    """Encode any (vec_id, embedding) frame to (vec_id, *keep, c0..c{S-1})
    against a given codebook — the map-only kernel shared by the base
    code-store build (pq_codes_frame) and incremental index ingest
    (storage.update_ivfpq_code_store): arrivals MUST encode against the
    STORED codebook, never a re-derived one, or their codes aren't
    comparable with the existing lists'. ``keep`` carries already-computed
    columns (the routed cid) through in the same projection — no join-back
    shuffle."""
    return df.selectExpr(
        "vec_id",
        *keep,
        *[
            f"{pq_code_expr('embedding', seeds, s)} AS c{s}"
            for s in range(PQ_S)
        ],
    )


def pq_codes_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, c0..c{S-1}) for every corpus vector — the PQ_S-byte-per-
    vector encoded table. Lowest-index-wins argmin via
    array_position(ds, array_min(ds)) — the shared first-match-of-the-min
    contract, expressed so each subspace is ONE fold in the plan.

    Reads the materialized code store when one exists
    (operators/storage.py build_pq_code_store): encoding is the whole
    per-query cost of the ADC scan, and a 100 TB pipeline encodes once
    at ingest — every query reads the narrow code columns back."""
    from ..operators import storage

    stored = storage.read_pq_codes(spark, sf_dir)
    if stored is not None:
        return stored
    emb = _t(spark, sf_dir)["embeddings"]
    return pq_encode(emb, pq_seed_vectors(spark, sf_dir))


def pq_query_lut(
    seeds: list[list[float]], q_vec: list[float]
) -> list[list[float]]:
    """The S x K query-to-codeword subspace distance LUT — driver-side
    Python floats, but the arithmetic is the same i-order left fold over
    exactly-widened components the SQL twin's qd_{s}_{k} columns run, so
    the ADC ranking is identical by construction."""
    lut = []
    for s in range(PQ_S):
        o = s * PQ_DSUB
        row = []
        for k in range(PQ_K):
            acc = 0.0
            for i in range(PQ_DSUB):
                d = q_vec[o + i] - seeds[k][o + i]
                acc = acc + d * d
            row.append(acc)
        lut.append(row)
    return lut


def pq_adc_expr(lut: list[list[float]]) -> str:
    """ADC distance over the code columns c0..c{S-1} as Spark-SQL text:
    one literal-array LUT lookup per subspace, summed in subspace order
    (the SQL twin's addition order)."""
    terms = [
        "try_element_at(array("
        + ",".join(repr(float(v)) + "D" for v in lut[s])
        + f"), c{s} + 1)"
        for s in range(PQ_S)
    ]
    return " + ".join(terms)


def pq_adc_col(lut: list[list[float]]) -> Column:
    """``pq_adc_expr`` as a Column (one parse)."""
    return F.expr(pq_adc_expr(lut))


def adc_cut(codes: DataFrame, cells: list[int] | None, lut, cut: int) -> DataFrame:
    """The ADC candidate cut of every PQ / IVF-PQ probe: (vec_id, approx)
    for the ``cut`` code rows nearest the query by ADC distance, ties on
    the lower vec_id. With routed ``cells`` the scan keeps those cells'
    rows minus the query vector (vec_id 0); with None, ``codes`` already
    is the scanned set. ``lut`` is one S x K table, or for residual codes
    ``{cid: table}`` over the routed cells — a nested when/otherwise
    chain built from the last cell outward (Column.otherwise applies at
    most once per when() node, ADVICE r8 #2). Persists nothing."""
    if cells is not None:
        codes = codes.where(F.col("cid").isin(cells) & (F.col("vec_id") != 0))
    if isinstance(lut, dict):
        approx = pq_adc_col(lut[cells[-1]])
        for c in reversed(cells[:-1]):
            approx = F.when(F.col("cid") == c, pq_adc_col(lut[c])).otherwise(approx)
    else:
        approx = pq_adc_col(lut)
    return (
        codes.select("vec_id", approx.alias("approx"))
        .orderBy(F.col("approx").asc(), F.col("vec_id").asc())
        .limit(cut)
    )


@register("ann_pq_topk", _pq_sql())
@memoize_df
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: each vector is encoded as PQ_S=8 codes
    (nearest of PQ_K=8 codewords per 8-dim subspace; codebooks seeded
    from vec_id 0..7 — swap in per-subspace kmeans_fit output to train
    them), the query precomputes an 8x8 distance LUT, and the scan ranks
    by ADC (sum of 8 LUT lookups per row — no per-row fold at all); the
    top PQ_CAND candidates get an exact cosine rerank.

    Scale: this is the memory-bound regime's answer — at 100 TB the
    encoded table is PQ_S bytes per vector + the tiny codebook, the ADC
    scan reads codes only (no raw vectors), and only PQ_CAND rows fetch
    their full embedding for the rerank. Encoding is map-only; both the
    ADC top-candidates and the rerank end in TakeOrdered (no global
    sort). Determinism: fixed-order subspace folds, lowest-code-wins
    argmin, LUT addition in subspace order — bit-identical across
    engines, ties broken on vec_id."""
    emb = _t(spark, sf_dir)["embeddings"]
    seeds = pq_seed_vectors(spark, sf_dir)
    q_vec = seeds[0]  # vec_id 0 doubles as the query vector
    lut = pq_query_lut(seeds, q_vec)
    codes = pq_codes_frame(spark, sf_dir).filter(F.col("vec_id") != 0)
    # ADC candidates carry (vec_id, approx) only; the PQ_CAND survivors
    # broadcast into one embeddings scan to fetch their full vectors for
    # the exact rerank — the codes path never ships raw embeddings
    cand = adc_cut(codes, None, lut, PQ_CAND)
    return exact_topk(emb.join(F.broadcast(cand), "vec_id"), emb, PQ_TOP)


# ---------------------------------------------------------------------------
# hard-negative mining: most-similar-below-threshold per query
# ---------------------------------------------------------------------------
HN_Q = 4      # query batch: vec_id < HN_Q
HN_TOP = 3    # hard negatives kept per query


@register(
    "hard_negatives",
    f"""
    WITH {_batch_scored_sql(HN_Q)},
    ranked AS (
      SELECT q_id, vec_id, cos,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored WHERE cos < {NEARDUP_COSINE}
    )
    SELECT q_id, vec_id, cos, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {HN_TOP}
    ORDER BY q_id ASC, rk ASC
    """,
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: per query,
    the MOST similar corpus vectors that are still BELOW the near-dup
    threshold — similar enough to be hard, dissimilar enough to be true
    negatives (a near-dup used as a negative poisons the contrastive
    loss). Same one-scan broadcast-batch plan as ann_query_batch with
    the dup band filtered out before ranking; WindowGroupLimit keeps the
    per-query top-k partial."""
    from pyspark.sql import Window

    scored = _batch_scores(_t(spark, sf_dir)["embeddings"], HN_Q).filter(
        F.col("cos") < NEARDUP_COSINE
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= HN_TOP)
        .select("q_id", "vec_id", "cos", F.col("rk").cast("long").alias("rk"))
        .orderBy(F.col("q_id").asc(), F.col("rk").asc())
    )


# ---------------------------------------------------------------------------
# recall@k audits: an ANN probe's top-k against the exact top-k
# ---------------------------------------------------------------------------


class RecallBaseline(NamedTuple):
    """The exact side of a recall@k audit: ``oracle(k)`` is the
    brute-force DuckDB text spliced into the audit oracle, ``exact`` the
    Spark (vec_id) frame of the exact top-k, and ``hold`` how the audit
    holds the probe's (vec_id) frame."""

    oracle: Callable[[int], str]
    exact: Callable[[SparkSession, str], DataFrame]
    hold: Callable[[DataFrame], DataFrame]


# the registered corpus: ann_topk_bruteforce is the exact side, and both
# sides' 10-row id frames are held for the semi-join
CORPUS = RecallBaseline(
    oracle=brute_force_sql,
    exact=lambda spark, sf_dir: tracked_persist(
        ann_topk_bruteforce(spark, sf_dir).select("vec_id")
    ),
    hold=tracked_persist,
)


def recall_at_k(
    probe_sql: str,
    probe: Callable[[SparkSession, str], DataFrame],
    baseline: RecallBaseline,
    k: int = 10,
) -> tuple[str, Callable[[SparkSession, str], DataFrame]]:
    """(oracle SQL, Spark builder) of one recall@k audit row: (k,
    n_overlap, recall_at_k) of ``probe``'s top-k against the baseline's
    exact top-k. The oracle joins the brute-force text with the probe's
    own oracle ``probe_sql``; the Spark side semi-joins the two id
    frames."""
    sql = f"""
    WITH hit AS (
      SELECT e.vec_id FROM ({baseline.oracle(k)}) e JOIN ({probe_sql}) a USING (vec_id)
    )
    SELECT CAST({k} AS BIGINT) AS k,
           CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_overlap,
           round((SELECT count(*) FROM hit)::DOUBLE / {k}, 6) AS recall_at_k
    """

    def frame(spark: SparkSession, sf_dir: str) -> DataFrame:
        exact = baseline.exact(spark, sf_dir)
        approx = baseline.hold(probe(spark, sf_dir).select("vec_id"))
        hit = exact.join(approx, "vec_id", "left_semi").agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_overlap")
        )
        return hit.selectExpr(
            f"CAST({k} AS BIGINT) AS k",
            "n_overlap",
            f"round(CAST(n_overlap AS DOUBLE) / {k}, 6) AS recall_at_k",
        )

    return sql, frame
