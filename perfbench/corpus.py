"""Seeded corpus for the ``suite`` workload: the registry queries' tables.

The registry queries read a TPC-H-like star schema (region, nation,
customer, supplier, part, orders, lineitem) plus ``events``, ``documents``
and ``embeddings``, one parquet file each. This module writes the same
tables with the same column names, types and value domains from one
``random.Random(seed)``, so the same seed yields byte-identical files.
Row counts scale with ``sf`` the way the TPC-H tables do; ``documents`` and
``embeddings`` have a fixed size.
"""

from __future__ import annotations

import math
import os
import random
from datetime import datetime, timedelta

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "green", "red", "black", "white", "small", "large", "steel")
THINGS = ("bolt", "ring", "widget", "gear", "nut", "pipe", "valve", "spring")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window")
LANGS = ("de", "en", "es", "fr", "zh")
DOCUMENTS = 500
EMBEDDINGS = 500
DIM = 64
LABELS = 10
ORDER_DAY0 = datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01
EVENT_T0 = datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86400
EVENT_USERS = 150


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def tables(seed: int, sf: float) -> dict[str, dict[str, tuple[str, list]]]:
    """Table -> column -> (arrow type name, values), in column order."""
    rng = random.Random(seed * 65537 + 11)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    out: dict[str, dict[str, tuple[str, list]]] = {}

    out["region"] = {"r_regionkey": ("int32", list(range(5))), "r_name": ("string", list(REGIONS))}
    out["nation"] = {
        "n_nationkey": ("int32", list(range(25))),
        "n_name": ("string", [f"NATION_{i}" for i in range(25)]),
        "n_regionkey": ("int32", [i % 5 for i in range(25)]),
    }
    out["customer"] = {
        "c_custkey": ("int64", list(range(n_cust))),
        "c_name": ("string", [f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": ("int32", [rng.randrange(25) for _ in range(n_cust)]),
        "c_acctbal": ("float64", [_money(rng, -999.99, 9999.99) for _ in range(n_cust)]),
        "c_mktsegment": ("string", [rng.choice(SEGMENTS) for _ in range(n_cust)]),
    }
    out["supplier"] = {
        "s_suppkey": ("int64", list(range(n_supp))),
        "s_name": ("string", [f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": ("int32", [rng.randrange(25) for _ in range(n_supp)]),
        "s_acctbal": ("float64", [_money(rng, -999.99, 9999.99) for _ in range(n_supp)]),
    }
    out["part"] = {
        "p_partkey": ("int64", list(range(n_part))),
        "p_name": ("string", [f"{rng.choice(COLORS)} {rng.choice(THINGS)}" for _ in range(n_part)]),
        "p_brand": ("string", [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)]),
        "p_type": ("string", [rng.choice(PART_TYPES) for _ in range(n_part)]),
        "p_size": ("int32", [rng.randint(1, 50) for _ in range(n_part)]),
        "p_retailprice": ("float64", [round(900.0 + (i % 1000) / 10.0, 1) for i in range(n_part)]),
    }
    order_day = [rng.randrange(ORDER_DAYS) for _ in range(n_ord)]
    out["orders"] = {
        "o_orderkey": ("int64", list(range(n_ord))),
        "o_custkey": ("int64", [rng.randrange(n_cust) for _ in range(n_ord)]),
        "o_orderstatus": ("string", [rng.choice("FOP") for _ in range(n_ord)]),
        "o_totalprice": ("float64", [_money(rng, 1000.0, 500_000.0) for _ in range(n_ord)]),
        "o_orderdate": ("timestamp", [ORDER_DAY0 + timedelta(days=d) for d in order_day]),
        "o_orderpriority": ("string", [rng.choice(PRIORITIES) for _ in range(n_ord)]),
    }
    okeys = [rng.randrange(n_ord) for _ in range(n_line)]
    line_no: dict[int, int] = {}
    linenumbers = []
    for k in okeys:
        line_no[k] = line_no.get(k, 0) + 1
        linenumbers.append(line_no[k])
    out["lineitem"] = {
        "l_orderkey": ("int64", okeys),
        "l_partkey": ("int64", [rng.randrange(n_part) for _ in range(n_line)]),
        "l_suppkey": ("int64", [rng.randrange(n_supp) for _ in range(n_line)]),
        "l_linenumber": ("int32", linenumbers),
        "l_quantity": ("float64", [float(rng.randint(1, 50)) for _ in range(n_line)]),
        "l_extendedprice": ("float64", [_money(rng, 900.0, 105_000.0) for _ in range(n_line)]),
        "l_discount": ("float64", [rng.randint(0, 10) / 100.0 for _ in range(n_line)]),
        "l_tax": ("float64", [rng.randint(0, 8) / 100.0 for _ in range(n_line)]),
        "l_returnflag": ("string", [rng.choice("ANR") for _ in range(n_line)]),
        "l_linestatus": ("string", [rng.choice("FO") for _ in range(n_line)]),
        "l_shipdate": ("timestamp", [ORDER_DAY0 + timedelta(days=order_day[k] + rng.randint(1, 120))
                                     for k in okeys]),
    }
    ev_ts = sorted(rng.randrange(EVENT_SPAN_S * 1_000_000) for _ in range(n_ev))
    out["events"] = {
        "event_id": ("int64", list(range(n_ev))),
        "ts": ("timestamp", [EVENT_T0 + timedelta(microseconds=us) for us in ev_ts]),
        "user_id": ("int64", [rng.randrange(EVENT_USERS) for _ in range(n_ev)]),
        "event_type": ("string", [rng.choice(EVENT_TYPES) for _ in range(n_ev)]),
        "value": ("float64", [_money(rng, 0.01, 490.0) for _ in range(n_ev)]),
        "props": ("string", [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)]),
    }
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(10, 99)))
             for _ in range(DOCUMENTS)]
    out["documents"] = {
        "doc_id": ("int64", list(range(DOCUMENTS))),
        "text": ("string", texts),
        "lang": ("string", [rng.choice(LANGS) for _ in range(DOCUMENTS)]),
        "source": ("string", [f"src{i % 20}" for i in range(DOCUMENTS)]),
        "n_chars": ("int64", [len(t) for t in texts]),
    }
    # unit vectors: a weak per-label centre plus isotropic noise
    centres = [[rng.gauss(0.0, 1.0) for _ in range(DIM)] for _ in range(LABELS)]
    labels, vecs = [], []
    for _ in range(EMBEDDINGS):
        lab = rng.randrange(LABELS)
        v = [0.15 * c + rng.gauss(0.0, 1.0) for c in centres[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    out["embeddings"] = {
        "vec_id": ("int64", list(range(EMBEDDINGS))),
        "embedding": ("list<float32>", vecs),
        "label": ("int32", labels),
    }
    return out


def write(seed: int, sf: float, root: str) -> None:
    """Write every table as ``<root>/<table>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int32": pa.int32(), "int64": pa.int64(), "float64": pa.float64(),
             "string": pa.string(), "timestamp": pa.timestamp("us"),
             "list<float32>": pa.list_(pa.float32())}
    os.makedirs(root, exist_ok=True)
    for name, cols in tables(seed, sf).items():
        arrays = [pa.array(vals, type=types[typ]) for typ, vals in cols.values()]
        pq.write_table(pa.Table.from_arrays(arrays, names=list(cols)),
                       os.path.join(root, f"{name}.parquet"))
