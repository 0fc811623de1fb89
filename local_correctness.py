#!/usr/bin/env python
"""Full-registry local correctness artifact (VERDICT r9 #2).

The driver's per-round oracle gate caps at 50 queries, so with a
163-query registry each round ages the driver evidence of 113 queries
by one round. The local pytest harness (tests/test_driver_queries.py)
already hash-checks EVERY registered query against its DuckDB oracle
each round — this script serializes that same comparison into a
committed artifact, ``LOCAL_CORRECTNESS_r{N}.json``, with exactly the
driver's per-query record schema::

    {"<query>": {"rows_match": bool, "schema_match": bool,
                 "hash_match": bool, "spark_rows": int,
                 "oracle_rows": int, "err": str | null}, ...}

so full-registry correctness is a readable artifact instead of an
inference from a pytest exit code. Queries with no oracle SQL (none
today) are recorded with hash_match=False, err="no_oracle" — the same
weaker rows-only evidence the driver records.

Usage: python local_correctness.py [--round N] [--sf-dir DIR] [--out F]
Defaults: round = 1 + max recorded CORRECTNESS_r*.json round,
sf0.01 (the driver's gate scale), out = LOCAL_CORRECTNESS_r{N:02d}.json.
Schema is pinned by tests/test_local_correctness.py.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def default_round() -> int:
    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", f))
    ]
    return (max(rounds) + 1) if rounds else 1


def run(sf_dir: str, out_path: str, only: list[str] | None = None) -> dict[str, dict]:
    from pyspark.sql import SparkSession

    import distribution_engine_smt_spark.pipeline  # noqa: F401 (registers)
    from distribution_engine_smt_spark.driver_queries import (
        ORACLE_SQL,
        QUERIES,
    )
    from tests.oracle_harness import compare, duck_con

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("desmt-local-correctness")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(sf_dir)
    records: dict[str, dict] = {}
    t_start = time.perf_counter()
    names = sorted(QUERIES) if only is None else list(only)
    for i, name in enumerate(names, 1):
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sp = QUERIES[name](spark, sf_dir).toPandas()
            rec["spark_rows"] = len(sp)
            if name not in ORACLE_SQL:
                rec["err"] = "no_oracle"
                rec["rows_match"] = len(sp) >= 0
            else:
                du = con.execute(ORACLE_SQL[name]).df()
                rec["oracle_rows"] = len(du)
                rec["rows_match"] = len(sp) == len(du)
                rec["schema_match"] = sorted(sp.columns) == sorted(du.columns)
                # reuse the harness's canonical order-insensitive value
                # comparison — "hash_match" in the driver's sense
                problems = _value_compare(sp, du)
                rec["hash_match"] = (
                    rec["rows_match"] and rec["schema_match"] and not problems
                )
                if problems:
                    rec["err"] = "; ".join(problems[:3])
        except Exception as exc:  # record, don't abort the sweep
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
        records[name] = rec
        status = "ok" if rec["hash_match"] or rec["err"] == "no_oracle" else "FAIL"
        print(
            f"[{i}/{len(names)}] {name}: {status}"
            + (f" ({rec['err']})" if status == "FAIL" else ""),
            flush=True,
        )
    spark.stop()
    con.close()
    with open(out_path, "w") as f:
        json.dump(records, f, indent=1, sort_keys=True)
    n_green = sum(1 for r in records.values() if r["hash_match"])
    print(
        f"wrote {out_path}: {n_green}/{len(records)} hash-green in "
        f"{time.perf_counter() - t_start:.1f}s",
        flush=True,
    )
    return records


def _value_compare(sp, du) -> list[str]:
    from tests.oracle_harness import _canon

    if len(sp) != len(du) or sorted(sp.columns) != sorted(du.columns):
        return ["precondition mismatch"]
    a, b = _canon(sp), _canon(du)
    if a.equals(b):
        return []
    neq = (a != b).any(axis=1)
    return [
        f"row {i}: spark={a.loc[i].to_dict()} duck={b.loc[i].to_dict()}"
        for i in list(a.index[neq])[:3]
    ]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, default=None)
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get(
            "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
        ),
    )
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: hash-check just these "
        "(dev loop for touched queries; the committed artifact is "
        "always a full sweep)",
    )
    args = ap.parse_args(argv)
    rnd = args.round if args.round is not None else default_round()
    out = args.out or os.path.join(ROOT, f"LOCAL_CORRECTNESS_r{rnd:02d}.json")
    only = args.only.split(",") if args.only else None
    if only is not None:
        import distribution_engine_smt_spark.pipeline  # noqa: F401 (registers)
        from distribution_engine_smt_spark.driver_queries import QUERIES

        unknown = [n for n in only if n not in QUERIES]
        if unknown:
            ap.error(f"--only: unknown query names: {unknown}")
    records = run(args.sf_dir, out, only=only)
    bad = [
        n
        for n, r in records.items()
        if not r["hash_match"] and r["err"] != "no_oracle"
    ]
    if bad:
        print(f"FAILING queries: {bad}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
