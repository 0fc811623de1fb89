"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose the engine's operator surface
(SURVEY.md §2 shapes + pipeline extensions) for the sf0.01 DuckDB
correctness gate. Implementations live in
``distribution_engine_smt_spark.driver_queries`` (+ ``pipeline.*``).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from distribution_engine_smt_spark import driver_queries  # noqa: E402
from distribution_engine_smt_spark import pipeline  # noqa: E402,F401  (registers extension queries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (get_discussions_by_created shape: broadcast dimension
    left join + muted suppression + pushed-down range filter + top-k) on
    /root/testdata/sf0.001."""
    return driver_queries.discussions_by_created(spark, "/root/testdata/sf0.001")


# The driver caps its oracle pass at 50 queries per round (observed in r2;
# see docs/PLANS.md "Driver 50-query cap"), so queries() emits the registry
# in a rotation order computed from the committed driver evidence
# (CORRECTNESS_r*.json): _ROUND_MODIFIED first, then queries with no driver
# record, then the rest stalest first by (last driver-green round, name).
# The stalest evidence therefore always re-enters the 50-query head;
# tests/test_local_correctness.py pins the order against the evidence-age
# bound.


def _driver_evidence() -> tuple[int, set[str], dict[str, int]]:
    """(newest recorded round, every query with a driver record,
    {query: last driver-green round}). Green is a hash match, or a row
    match with no error."""
    max_round, recorded, green = 0, set(), {}
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        with open(path) as f:
            for q, rec in json.load(f).items():
                recorded.add(q)
                if rec.get("hash_match") or (rec.get("rows_match") and rec.get("err") is None):
                    green[q] = max(green.get(q, 0), rnd)
    return max_round, recorded, green


# ROTATION POLICY (standing rule, not a one-off): any query whose
# implementation changed during the CURRENT round must be covered by this
# round's correctness evidence — family REPRESENTATIVES are listed here and
# lead the driver's top-50 (the cap cannot hold every touched query in a
# kernel-conversion round; r12 set the precedent), and every touched query
# is hash-checked in the committed LOCAL_CORRECTNESS full sweep. This list
# is the rotation's only hand-kept input. r14 routes the vector-index
# probes through one shared kernel (route / adc_cut / exact_topk /
# recall_at_k) and fingerprints the cf/cmass fixture fit stores; one
# representative per shape of the kernel:
_ROUND_MODIFIED: list[str] = [
    "ann_ivf_kmeans_nprobe",  # route + exact_topk (serve suite query)
    "ann_ivf_sharded_recall_audit",  # two-level route + corpus recall
    "ivfpq_recall_audit",  # route + adc_cut over cells + rerank
    "pq_trained_recall_audit",  # adc_cut over every code row
    "ivfpq_residual_recall_audit",  # adc_cut with per-cell LUTs
    "clustered_ivfpq_residual_recall_audit",  # fixture recall + cf-fit store
    "clustered_adaptive_ivfpq_topk",  # cmass-fit store + leaf route + cut
    "clustered_adaptive_topk_p1",  # exact_topk over routed leaf members
]


def _ordered(names: list[str]) -> list[str]:
    _, recorded, green = _driver_evidence()
    head = [n for n in _ROUND_MODIFIED if n in names]
    rest = sorted(
        (n for n in names if n not in head),
        key=lambda n: (n in recorded, green.get(n, 0), n),
    )
    return head + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = driver_queries.QUERIES
    return {n: q[n] for n in _ordered(list(q))}


def oracle_sql() -> dict[str, str]:
    o = driver_queries.ORACLE_SQL
    return {n: o[n] for n in _ordered(list(driver_queries.QUERIES)) if n in o}
