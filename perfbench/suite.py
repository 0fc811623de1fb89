"""The registry query suite, run inside the ``serve`` workload before its
request window.

A seeded corpus (``corpus.py``) is written into the run directory, the
stores the chosen queries read are built into the run's own
``SPARK_GRAFT_STORE_DIR``, and each query runs once cold (after
``release_caches``) and once warm, materialised with ``toPandas``. After
the timed passes every cold result is compared with its DuckDB twin in
``driver_queries.ORACLE_SQL``: same columns, same row count, same values
in canonical order.
"""

from __future__ import annotations

import math
import time
from contextlib import nullcontext

import common
import corpus

SF = 0.01
# driver_queries shapes first, then one query per pipeline family; each
# reads at most the three stores ``_builders`` names
QUERIES = (
    "trending_tags", "thread_tree", "supplier_visible_revenue", "payout_accumulation",
    "dedup_minhash_lsh", "minhash_decontaminate", "ann_ivf_kmeans_nprobe",
    "graph_pagerank", "sampled_quantiles",
)


def _builders() -> dict:
    from distribution_engine_smt_spark.operators import storage

    return {
        "signatures": storage.build_minhash_signature_store,
        "postings": storage.build_shingle_postings_store,
        "kmeans": storage.build_kmeans_fit_store,
    }


def run(spark, seed: int, run_dir, tracer) -> dict:
    import distribution_engine_smt_spark.pipeline  # noqa: F401  (registers the pipeline queries)
    from distribution_engine_smt_spark.driver_queries import QUERIES as REGISTRY
    from distribution_engine_smt_spark.session import release_caches

    unit = tracer.unit if tracer else (lambda kind, uid: nullcontext())
    root = run_dir.sub("corpus")
    t = time.perf_counter()
    corpus.write(seed, SF, root)
    gen_s = time.perf_counter() - t

    failures: list[str] = []
    build_s: dict[str, float] = {}
    builders = _builders()
    for name, build in builders.items():
        t = time.perf_counter()
        try:
            with unit("store", f"store-{name}"):
                build(spark, root)
        except Exception as exc:  # counted; the queries then derive in-query
            failures.append(f"store {name}: {exc!r}")
            continue
        build_s[name] = time.perf_counter() - t

    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    results = {}
    catalyst_ms: list[float] = []
    for q in QUERIES:
        release_caches(spark)
        try:
            t = time.perf_counter()
            with unit("query", f"cold-{q}"):
                df = REGISTRY[q](spark, root)
                results[q] = df.toPandas()
            cold[q] = time.perf_counter() - t
            if tracer:
                catalyst_ms.append(tracer.record_catalyst(df))
            t = time.perf_counter()
            with unit("query", f"warm-{q}"):
                REGISTRY[q](spark, root).toPandas()
            warm[q] = time.perf_counter() - t
        except Exception as exc:
            failures.append(f"query {q}: {exc!r}")
    release_caches(spark)
    return {"root": root, "gen_s": gen_s, "build_s": build_s, "cold": cold, "warm": warm,
            "results": results, "failures": failures, "catalyst_ms": catalyst_ms,
            "attempted": len(builders) + len(QUERIES)}


def check(res: dict) -> list[str]:
    """Each cold result against its DuckDB twin over the same parquet."""
    import duckdb

    from distribution_engine_smt_spark.driver_queries import ORACLE_SQL

    con = duckdb.connect()
    for t in corpus.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{res['root']}/{t}.parquet'")
    errors = []
    for q, got in res["results"].items():
        want = con.execute(ORACLE_SQL[q]).df()
        if sorted(got.columns) != sorted(want.columns):
            errors.append(f"{q}: columns {sorted(got.columns)} != oracle {sorted(want.columns)}")
        elif len(got) != len(want):
            errors.append(f"{q}: {len(got)} rows != oracle {len(want)}")
        elif not _canon(got).equals(_canon(want)):
            errors.append(f"{q}: values differ from the oracle")
    con.close()
    return errors


def _canon(df):
    """Columns by name, every cell as exact text (floats by repr), rows
    sorted: an order-insensitive, bit-exact comparison."""
    import pandas as pd

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda col: col.map(cell))
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def layer_metrics(res: dict, tracer) -> dict:
    out = {
        "gen.corpus_s": res["gen_s"],
        "storage.build_s": sum(res["build_s"].values()),
        "suite.cold_s": sum(res["cold"].values()),
        "suite.warm_s": sum(res["warm"].values()),
        "suite.catalyst_ms": sum(res["catalyst_ms"]),
        "py4j.calls_per_query": common.median(
            [u["py4j"] for uid, u in tracer.units.items() if uid.startswith("cold-")]),
    }
    for name, s in res["build_s"].items():
        out[f"storage.{name}.build_s"] = s
    for q in QUERIES:
        out[f"suite.{q}.cold_s"] = res["cold"].get(q, 0.0)
        out[f"suite.{q}.warm_s"] = res["warm"].get(q, 0.0)
    return out
