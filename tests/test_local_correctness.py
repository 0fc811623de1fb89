"""Pins for the committed full-registry correctness artifact
(``LOCAL_CORRECTNESS_r*.json``, written by ``local_correctness.py``) and
the driver-evidence rotation invariant (VERDICT r9 #1/#2).

The driver's oracle gate caps at 50 queries/round; these tests make the
two compensating mechanisms enforceable:

1. the committed local artifact must cover the FULL registry with the
   driver's per-query record schema, all green;
2. the rotation head must contain every query whose driver evidence
   would otherwise age past the K-round bound.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

import distribution_engine_smt_spark.pipeline  # noqa: F401  (registers extension queries)
from distribution_engine_smt_spark.driver_queries import ORACLE_SQL, QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RECORD_KEYS = {
    "rows_match",
    "schema_match",
    "hash_match",
    "spark_rows",
    "oracle_rows",
    "err",
}

# Worst-case driver-evidence age bound (rounds). A query last
# driver-green at round L must re-enter the driver head no later than
# round L + MAX_EVIDENCE_AGE.
MAX_EVIDENCE_AGE = 4


def _latest(pattern: str) -> str | None:
    files = sorted(glob.glob(os.path.join(ROOT, pattern)))
    return files[-1] if files else None


def test_local_artifact_schema_and_coverage():
    """The newest LOCAL_CORRECTNESS artifact covers every registered
    query, uses exactly the driver's record schema, and is all-green
    (hash match for every oracle-backed query)."""
    path = _latest("LOCAL_CORRECTNESS_r*.json")
    if path is None:
        pytest.skip("no LOCAL_CORRECTNESS artifact committed yet")
    with open(path) as f:
        records = json.load(f)
    missing = sorted(set(QUERIES) - set(records))
    assert not missing, f"{os.path.basename(path)} missing queries: {missing}"
    for name, rec in records.items():
        assert set(rec) == RECORD_KEYS, f"{name}: record keys {sorted(rec)}"
    red = sorted(
        n
        for n, r in records.items()
        if n in QUERIES
        and not r["hash_match"]
        and r["err"] != "no_oracle"
    )
    assert not red, f"{os.path.basename(path)} non-green queries: {red}"
    # every oracle-backed query must have full-strength evidence
    weak = sorted(
        n for n in ORACLE_SQL if n in records and records[n]["err"] == "no_oracle"
    )
    assert not weak, f"oracle exists but artifact recorded no_oracle: {weak}"


def test_rotation_keeps_driver_evidence_fresh():
    """queries() and oracle_sql() follow the computed rotation, and the
    driver's 50-query head holds every query whose driver evidence would
    age past MAX_EVIDENCE_AGE rounds after the next driver round. A query
    last green at round L has age R+1-L after round R+1. (Round-modified
    and never-recorded queries are pinned in test_driver_queries.py.)"""
    import __spark_entry__ as e

    ordered = e._ordered(list(QUERIES))
    names = list(e.queries())
    assert names == ordered
    assert list(e.oracle_sql()) == [n for n in ordered if n in ORACLE_SQL]

    max_round, recorded, green = e._driver_evidence()
    if max_round == 0:
        pytest.skip("no driver CORRECTNESS records yet")
    head = set(names[:50])
    overdue = sorted(
        q
        for q in set(QUERIES) & recorded
        if max_round + 1 - green.get(q, 0) > MAX_EVIDENCE_AGE and q not in head
    )
    assert not overdue, (
        f"driver evidence would age past {MAX_EVIDENCE_AGE} rounds for "
        f"queries outside the driver head: {overdue}"
    )


def test_only_rejects_unknown_query_names(capsys):
    """``local_correctness.py --only`` names every unknown query and exits
    non-zero before starting Spark, instead of silently dropping it."""
    import local_correctness

    with pytest.raises(SystemExit) as exc:
        local_correctness.main(["--only", "trending_tags,no_such_query,typo_q"])
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "no_such_query" in err and "typo_q" in err
    assert "trending_tags" not in err
