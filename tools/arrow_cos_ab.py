#!/usr/bin/env python
"""VERDICT r12 #6: A/B an Arrow-vectorized pair cosine (pandas_udf,
dim-sequential accumulation so the IEEE order matches the JVM HOF fold
exactly) against the built-in `aggregate(zip_with(...))` form, on the
dedup_embedding_cosine shape (the larger clustered_semdedup_audit shape
shares the kernel). Adoption rule: >= 1.5x AND bit-identical doubles.

Usage: python tools/arrow_cos_ab.py [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import DoubleType  # noqa: E402

from distribution_engine_smt_spark.pipeline.similarity import (  # noqa: E402
    NEARDUP_COSINE,
    dot_fold_sql,
)
from distribution_engine_smt_spark.session import get_spark, release_caches  # noqa: E402
from distribution_engine_smt_spark.tables import load_tpch  # noqa: E402


# a DataType, not a DDL string: parsing "double" needs an active session,
# and this decorator runs at import
@F.pandas_udf(DoubleType())
def _pcos(a: pd.Series, b: pd.Series) -> pd.Series:
    # dim-sequential accumulation: acc_j+1 = acc_j + x_j*y_j per pair,
    # vectorized ACROSS pairs — the identical IEEE sequence to the JVM
    # fold aggregate(zip_with(cast(a), cast(b), x*y), 0.0, +)
    import numpy as np

    A = np.asarray(a.tolist(), dtype=np.float64)
    B = np.asarray(b.tolist(), dtype=np.float64)
    n = A.shape[0]
    if n == 0:
        return pd.Series([], dtype="float64")
    dot = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for j in range(A.shape[1]):
        x = A[:, j]
        y = B[:, j]
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    return pd.Series(dot / (np.sqrt(na) * np.sqrt(nb)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("desmt-arrow-cos-ab")
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_tpch(spark, sf_dir)["embeddings"]

    batch = emb.filter(F.col("vec_id") < 100).selectExpr(
        "vec_id AS id_new", "embedding AS e_new"
    )
    pairs = (
        emb.crossJoin(F.broadcast(batch))
        .filter(F.col("id_new") < F.col("vec_id"))
    )
    jvm = pairs.selectExpr(
        "id_new", "vec_id AS id_corpus",
        f"({dot_fold_sql('e_new', 'embedding')} / "
        f"(sqrt({dot_fold_sql('e_new', 'e_new')}) * "
        f"sqrt({dot_fold_sql('embedding', 'embedding')}))) AS cos",
    ).filter(F.col("cos") >= NEARDUP_COSINE)
    arrow = pairs.select(
        "id_new", F.col("vec_id").alias("id_corpus"),
        _pcos(F.col("e_new"), F.col("embedding")).alias("cos"),
    ).filter(F.col("cos") >= NEARDUP_COSINE)

    def t(df, label):
        spark.sparkContext.setJobDescription(label)
        runs = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        return [round(x, 3) for x in runs]

    # warm-up both shapes once (codegen / worker spin-up), then time
    jvm.count(); arrow.count()
    tj = t(jvm, "pair-cos JVM fold")
    ta = t(arrow, "pair-cos Arrow pandas_udf")
    # bit-exactness: full collected doubles must match exactly
    ja = sorted((r["id_new"], r["id_corpus"], r["cos"]) for r in jvm.collect())
    aa = sorted((r["id_new"], r["id_corpus"], r["cos"]) for r in arrow.collect())
    bitexact = ja == aa
    result = {
        "jvm_noop_sec": tj, "arrow_noop_sec": ta,
        "jvm_best": min(tj), "arrow_best": min(ta),
        "speedup_arrow": round(min(tj) / min(ta), 2),
        "n_pairs_out": len(ja), "bit_exact": bitexact,
    }
    print(json.dumps(result))
    release_caches(spark)
    spark.stop()


if __name__ == "__main__":
    main()
