"""r12 construction-cost collapse: hot DataFrame builders compose Spark-SQL
TEXT and parse it once (selectExpr / F.expr) instead of building Column
trees call-by-call. The construction profile showed DataFrame-construction
latency is almost entirely py4j round-trips (~0.4 ms each; dedup_simhash
14k, dedup_embedding_lsh 12k per cold call) — the text form is two orders
of magnitude fewer round-trips for the SAME Catalyst tree.

The optimization contract is PLAN IDENTITY, not just value equality: each
converted builder must produce a canonicalized analyzed plan EQUAL to the
original Column-DSL form (same expressions, same evaluation order, same
IEEE float sequence — so every oracle hash is unchanged by construction).
This suite pins that for the shared kernels and one end-to-end operator
per family, with the DSL form inlined here as the frozen reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from distribution_engine_smt_spark.pipeline.similarity import (
    _SIGNS,
    _rhp_bucket_expr,
    cosine,
    cosine_sql,
    dlit_array,
    dlit_array2,
    dot_fold,
    dot_fold_sql,
)


def _canon(df) -> str:
    return df._jdf.queryExecution().analyzed().canonicalized().toString()


def _vec_frame(spark):
    rows = [
        (i, [((i * 31 + j * 7) % 17 - 8) / 3.0 for j in range(64)])
        for i in range(6)
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<FLOAT>")


def test_dot_fold_sql_plan_and_bits(spark):
    df = _vec_frame(spark)
    old = df.select(dot_fold(F.col("embedding"), F.col("embedding")).alias("d"))
    new = df.selectExpr(dot_fold_sql("embedding", "embedding") + " AS d")
    assert _canon(old) == _canon(new)
    assert [r["d"] for r in old.collect()] == [r["d"] for r in new.collect()]


def test_cosine_sql_plan_equal(spark):
    df = _vec_frame(spark)
    a = df.selectExpr("vec_id AS ia", "embedding AS ea")
    b = df.selectExpr("vec_id AS ib", "embedding AS eb")
    j = a.crossJoin(b)
    old = j.select(cosine(F.col("ea"), F.col("eb")).alias("c"))
    new = j.selectExpr(cosine_sql("ea", "eb") + " AS c")
    assert _canon(old) == _canon(new)
    ro = [r["c"] for r in old.collect()]
    rn = [r["c"] for r in new.collect()]
    assert ro == rn  # bit-exact doubles, no tolerance


def _rhp_bucket_dsl(col, t: int, bits: int, start: int = 0):
    """Frozen pre-r12 Column-DSL reference for _rhp_bucket_expr."""
    acc = F.lit(0)
    for k in range(start, bits):
        dot = F.aggregate(
            F.zip_with(
                col.cast("array<double>"),
                dlit_array(_SIGNS[t][k]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        )
        acc = acc + F.when(dot >= 0, F.lit(1 << k)).otherwise(F.lit(0))
    return acc


def test_rhp_bucket_expr_plan_and_values(spark):
    df = _vec_frame(spark)
    old = df.select(
        "vec_id", _rhp_bucket_dsl(F.col("embedding"), 2, 5).alias("b")
    )
    new = df.select("vec_id", F.expr(_rhp_bucket_expr("embedding", 2, 5)).alias("b"))
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()
    # the width-migration delta form (start > 0) too
    oldd = df.select(
        "vec_id", _rhp_bucket_dsl(F.col("embedding"), 1, 7, start=4).alias("b")
    )
    newd = df.select(
        "vec_id", F.expr(_rhp_bucket_expr("embedding", 1, 7, start=4)).alias("b")
    )
    assert _canon(oldd) == _canon(newd)
    assert oldd.collect() == newd.collect()


def _simhash_dsl(docs):
    """Frozen pre-r12 Column-DSL reference for pipeline.dedup.dedup_simhash
    (the layered projections, verbatim from the r11 tree)."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    )
    hashed = toks.select("doc_id", F.md5(F.col("tok").cast("binary")).alias("h"))

    def _hexval(p: int):
        a = F.ascii(F.substring(F.col("h"), p, 1))
        return F.when(a <= 57, a - 48).otherwise(a - 87)

    vals = hashed.select(
        "doc_id", *[_hexval(p).alias(f"v{p}") for p in range(1, 17)]
    )

    def _packed(p: int, lo_bit: int):
        v = F.col(f"v{p}")
        return (
            F.shiftright(v, lo_bit).bitwiseAND(F.lit(1)).cast("long")
            + F.shiftleft(
                F.shiftright(v, lo_bit + 1).bitwiseAND(F.lit(1)).cast("long"), 32
            )
        )

    per_tok = vals.select(
        "doc_id",
        *[_packed(p, 0).alias(f"pk{p}a") for p in range(1, 17)],
        *[_packed(p, 2).alias(f"pk{p}b") for p in range(1, 17)],
    )
    agg = per_tok.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[F.sum(f"pk{p}a").alias(f"pk{p}a") for p in range(1, 17)],
        *[F.sum(f"pk{p}b").alias(f"pk{p}b") for p in range(1, 17)],
    )

    def _digit(p: int):
        out = F.lit(0)
        for b in range(4):
            col = F.col(f"pk{p}a") if b < 2 else F.col(f"pk{p}b")
            s = F.shiftright(col, 32 * (b % 2)).bitwiseAND(F.lit(0xFFFFFFFF))
            out = out + F.when(
                F.lit(2) * s >= F.col("n"), F.lit(1 << b)
            ).otherwise(F.lit(0))
        return F.lower(F.conv(out.cast("string"), 10, 16))

    return agg.select(
        "doc_id",
        F.concat(*[_digit(p) for p in range(1, 17)]).alias("simhash"),
    ).orderBy(F.col("doc_id").asc())


def test_dedup_simhash_sql_form_matches_dsl_reference(spark, monkeypatch):
    import distribution_engine_smt_spark.pipeline.dedup as dd

    docs = spark.createDataFrame(
        [(i, f"tok{i % 3} alpha beta tok{i % 5} gamma") for i in range(40)],
        "doc_id INT, text STRING",
    )
    monkeypatch.setattr(dd, "_t", lambda s, d: {"documents": docs})
    new = dd.dedup_simhash.__wrapped__(spark, "ignored")
    old = _simhash_dsl(docs)
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()


def test_escaped_string_literals_conf_and_tokens_parity(spark):
    """ADVICE r12 #2: tokens_sql (and the interpolated BM25 term literals
    in search.py) embed backslash escapes inside SQL string literals —
    correct only while spark.sql.parser.escapedStringLiterals stays at
    its default (false). Pin the conf AND the plan/value parity of the
    twins so a conf flip or an escaping edit fails here, not in the slow
    oracle sweep."""
    from distribution_engine_smt_spark.pipeline.textstats import (
        tokens,
        tokens_sql,
    )

    assert (
        spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    ), "SQL-text kernels assume escapedStringLiterals=false"
    df = spark.createDataFrame(
        [(" a  b\tc ",), ("one",), ("", ), ("x \\s+ y",)], "text STRING"
    )
    old = df.select(tokens(F.col("text")).alias("t"))
    new = df.selectExpr(tokens_sql("text") + " AS t")
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()


# ---------------------------------------------------------------------------
# r13 wave: every new SQL-text twin pinned against its live (or frozen)
# Column-DSL form — canonicalized-plan equality + bit-exact values.
# (ADVICE r12 #1 extended the r12 pins to the kmeans/PQ kernels below.)
# ---------------------------------------------------------------------------


def test_sq8_kernels_plan_and_values(spark):
    from distribution_engine_smt_spark.pipeline.similarity import (
        _maxabs,
        _maxabs_expr,
        _qdot,
        _qdot_expr,
        _sq8,
        _sq8_expr,
    )

    df = _vec_frame(spark)
    old = df.withColumn("m", _maxabs(F.col("embedding"))).select(
        "vec_id", _sq8(F.col("embedding"), F.col("m")).alias("v")
    )
    new = df.withColumn("m", F.expr(_maxabs_expr("embedding"))).selectExpr(
        "vec_id", _sq8_expr("embedding", "m") + " AS v"
    )
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()
    q = new.selectExpr("vec_id AS qid", "v AS qv")
    j = new.crossJoin(q)
    oldd = j.select(_qdot(F.col("v"), F.col("qv")).alias("d"))
    newd = j.selectExpr(_qdot_expr("v", "qv") + " AS d")
    assert _canon(oldd) == _canon(newd)
    assert oldd.collect() == newd.collect()


def test_ivf_sign_bucket_plan_and_values(spark):
    from distribution_engine_smt_spark.pipeline.similarity import (
        _bucket,
        _bucket_expr,
    )

    df = _vec_frame(spark)
    old = df.select("vec_id", _bucket(F.col("embedding")).alias("cell"))
    new = df.selectExpr("vec_id", _bucket_expr("embedding") + " AS cell")
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()


def test_salted_positions_sql_plan_and_values(spark):
    from distribution_engine_smt_spark.pipeline.sketches import (
        salted_positions,
        salted_positions_sql,
    )

    df = spark.createDataFrame([("alpha",), ("beta",), ("",)], "tok STRING")
    old = df.select(
        salted_positions(F.col("tok"), "cms", 4, 512).alias("p")
    )
    new = df.selectExpr(
        salted_positions_sql("tok", "cms", 4, 512) + " AS p"
    )
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()


def test_split_coin_sql_plan_and_values(spark):
    from distribution_engine_smt_spark.pipeline.curation import (
        _split_coin,
        _split_coin_sql,
    )

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id LONG")
    old = df.select(_split_coin(F.col("doc_id")).alias("s"))
    new = df.selectExpr(_split_coin_sql("doc_id") + " AS s")
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()


def _dist_to_literal_dsl(col, centroid):
    """Frozen pre-r12 Column-DSL reference for _dist_to_literal_expr."""
    arr = dlit_array(centroid)
    return F.aggregate(
        F.zip_with(
            col.cast("array<double>"), arr, lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def test_kmeans_assignment_plan_and_values(spark):
    """ADVICE r12 #1: pin the kmeans distance fold + lowest-index-wins
    argmin SQL text against the frozen DSL forms."""
    from distribution_engine_smt_spark.pipeline.clustering import (
        _argmin_case,
        _dist_to_literal_expr,
        assign_cid_expr,
    )

    df = _vec_frame(spark)
    cents = [
        [((c * 13 + j) % 11 - 5) / 4.0 for j in range(64)] for c in range(3)
    ]
    old = df.select(
        _dist_to_literal_dsl(F.col("embedding"), cents[0]).alias("d")
    )
    new = df.selectExpr(
        _dist_to_literal_expr("embedding", cents[0]) + " AS d"
    )
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()
    olda = df.select(
        _argmin_case(
            [_dist_to_literal_dsl(F.col("embedding"), c) for c in cents]
        ).alias("cid")
    )
    newa = df.selectExpr(assign_cid_expr("embedding", cents) + " AS cid")
    assert _canon(olda) == _canon(newa)
    assert olda.collect() == newa.collect()


def test_pq_kernels_plan_and_values(spark):
    """ADVICE r12 #1: pin the PQ sub-distance fold, code argmin, and ADC
    sum SQL text against frozen DSL references."""
    from distribution_engine_smt_spark.pipeline.similarity import (
        PQ_DSUB,
        PQ_K,
        PQ_S,
        _pq_sub_dists_expr,
        pq_adc_expr,
        pq_code_expr,
    )

    df = _vec_frame(spark)
    seeds = [
        [((k * 7 + j * 3) % 19 - 9) / 5.0 for j in range(64)]
        for k in range(PQ_K)
    ]

    def sub_dists_dsl(col, s):
        o = s * PQ_DSUB
        cwl = dlit_array2(
            [
                [float(seeds[k][o + i]) for k in range(PQ_K)]
                for i in range(PQ_DSUB)
            ]
        )
        x = lambda i: F.try_element_at(col, F.lit(o) + i).cast("double")  # noqa: E731
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(PQ_DSUB)),
            F.array_repeat(F.lit(0.0), PQ_K),
            lambda acc, i: F.zip_with(
                acc,
                F.transform(
                    F.try_element_at(cwl, i), lambda c: (x(i) - c) * (x(i) - c)
                ),
                lambda a, d: a + d,
            ),
        )

    s = 1
    old = df.select(sub_dists_dsl(F.col("embedding"), s).alias("ds"))
    new = df.selectExpr(_pq_sub_dists_expr("embedding", seeds, s) + " AS ds")
    assert _canon(old) == _canon(new)
    assert old.collect() == new.collect()
    # code: argmin over the list
    ds_dsl = sub_dists_dsl(F.col("embedding"), s)
    oldc = df.select(
        (F.array_position(ds_dsl, F.array_min(ds_dsl)) - 1)
        .cast("int")
        .alias("c")
    )
    newc = df.selectExpr(pq_code_expr("embedding", seeds, s) + " AS c")
    assert _canon(oldc) == _canon(newc)
    assert oldc.collect() == newc.collect()
    # ADC: per-subspace literal-LUT lookups summed in subspace order
    lut = [[(s0 * PQ_K + k) / 7.0 for k in range(PQ_K)] for s0 in range(PQ_S)]
    codes = df.selectExpr(
        "vec_id",
        *[f"pmod(vec_id + {s0}, {PQ_K}) AS c{s0}" for s0 in range(PQ_S)],
    )
    adc_dsl = None
    for s0 in range(PQ_S):
        term = F.try_element_at(
            dlit_array(lut[s0]), F.col(f"c{s0}") + 1
        )
        adc_dsl = term if adc_dsl is None else adc_dsl + term
    olda = codes.select(adc_dsl.alias("adc"))
    newa = codes.selectExpr(pq_adc_expr(lut) + " AS adc")
    assert _canon(olda) == _canon(newa)
    assert olda.collect() == newa.collect()


def test_spliced_sql_words_reject_quote_bearing_values(spark):
    """Values spliced into SQL text are checked: a quote, backtick or
    space raises instead of changing the statement."""
    import pytest

    from distribution_engine_smt_spark.functions.text import sql_word
    from distribution_engine_smt_spark.operators.recursive import expand_tree
    from distribution_engine_smt_spark.pipeline.sketches import (
        salted_positions_sql,
    )

    assert sql_word("rhp_lsh") == "rhp_lsh"
    for bad in ("cms'", "a b", "x`y", ""):
        with pytest.raises(ValueError):
            sql_word(bad)
    with pytest.raises(ValueError):
        salted_positions_sql("tok", "cms', '", 4, 512)
    edges = spark.createDataFrame([(1, 0)], "id INT, parent INT")
    with pytest.raises(ValueError):
        expand_tree(edges, edges, "id", "parent` AS x, `id")


def test_route_matches_the_routing_cte_twin():
    """``similarity.route`` (driver-side cell routing) and
    ``clustering.route_ctes`` (its DuckDB twin, shared by the IVF / IVF-PQ
    oracles) pick the same cells on a hand-made centroid table with an
    exact distance tie, for every nprobe up to past the cell count. The
    prefix sets pin the order: nearest first, a tie to the lower cid."""
    import duckdb

    from distribution_engine_smt_spark.pipeline.clustering import route_ctes
    from distribution_engine_smt_spark.pipeline.similarity import DIM, route

    def vec(x0: float, x1: float) -> list[float]:
        return [x0, x1] + [0.0] * (DIM - 2)

    q = vec(1.0, 0.5)
    cents = [
        vec(3.0, 0.5),  # d = 4 (nearer than cid 4 by L1 distance)
        vec(1.0, 0.5),  # d = 0
        vec(2.0, 0.5),  # d = 1, tied with cid 3: the lower cid wins
        vec(0.0, 0.5),  # d = 1
        vec(2.25, 1.75),  # d = 3.125
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id INTEGER, embedding FLOAT[])")
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?)", [(0, q), (7, vec(9.0, 9.0))]
    )
    con.execute("CREATE TABLE c1v (cid INTEGER, c DOUBLE[])")
    con.executemany("INSERT INTO c1v VALUES (?, ?)", list(enumerate(cents)))
    assert route(q, cents, len(cents)) == [1, 2, 3, 4, 0]
    for nprobe in range(1, len(cents) + 2):
        sel = {
            r[0]
            for r in con.execute(
                f"WITH {route_ctes(nprobe)} SELECT cid FROM sel"
            ).fetchall()
        }
        assert sel == set(route(q, cents, nprobe))
        assert route(q, cents, nprobe) == [1, 2, 3, 4, 0][:nprobe]
