"""Core-tier drains of the streaming runner: a batch touching one token must
not rewrite other tokens' partition files, and a backlog folds every block
range whatever order the file source lists its files in."""

from __future__ import annotations

import glob
import hashlib
import json
import os
from datetime import datetime
from decimal import Decimal

from distribution_engine_smt_spark import schemas, tables
from distribution_engine_smt_spark.streaming import DualStreamRunner, run_l2_stream

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _digests(root, table):
    return {
        p: hashlib.md5(open(p, "rb").read()).hexdigest()
        for p in glob.glob(os.path.join(root, "state", table, "*", "*.parquet"))
    }


def _l2_row(block, tx_seq, payload, logs):
    return {
        "blockNumber": block, "timestamp": T0.isoformat(), "tx_seq": tx_seq,
        "contract": "comments", "action": "x", "sender": "s",
        "transactionId": f"t{block}-{tx_seq}",
        "payload": json.dumps(payload), "logs": json.dumps(logs),
    }


def _nc(symbol):
    return {"events": [{"contract": "comments", "event": "newComment", "data": {"symbol": symbol}}]}


def test_batch_rewrites_only_touched_token(spark, tmp_path):
    runner = DualStreamRunner(spark, str(tmp_path))
    state = {n: tables.empty_table(spark, n) for n in schemas.STATE_TABLES}
    state["token_config"] = spark.createDataFrame(
        [("TKA", 7, 50, Decimal(1), Decimal(1), 0, None, "p", 1, None, 5, 5, False, False),
         ("TKB", 7, 50, Decimal(1), Decimal(1), 0, None, "p", 2, None, 5, 5, False, False)],
        schemas.TOKEN_CONFIG,
    )
    runner.save_state(state)

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        f.write(json.dumps(_l2_row(1, 0, {"author": "a", "permlink": "p1"}, _nc("TKA"))) + "\n")
        f.write(json.dumps(_l2_row(1, 1, {"author": "b", "permlink": "p2"}, _nc("TKB"))) + "\n")
    q = run_l2_stream(runner, str(src), available_now=True)
    q.awaitTermination(120)

    before = _digests(str(tmp_path), "posts")
    assert any("token=TKA" in p for p in before) and any("token=TKB" in p for p in before)

    # second batch touches only TKA
    with open(src / "b2.json", "w") as f:
        f.write(json.dumps(_l2_row(2, 0, {"author": "c", "permlink": "p3"}, _nc("TKA"))) + "\n")
    q = run_l2_stream(runner, str(src), available_now=True)
    q.awaitTermination(120)

    after = _digests(str(tmp_path), "posts")
    tkb_files = [p for p in before if "token=TKB" in p]
    for p in tkb_files:
        assert after.get(p) == before[p], f"TKB partition rewritten: {p}"
    posts = runner.load_state()["posts"].collect()
    assert {(r["authorperm"], r["token"]) for r in posts} == {
        ("@a/p1", "TKA"), ("@c/p3", "TKA"), ("@b/p2", "TKB"),
    }


def _vote(block, author, permlink, rshares):
    payload = {"author": author, "permlink": permlink, "voter": "v", "weight": 10000}
    logs = {"events": [{"contract": "comments", "event": "newVote",
                        "data": {"symbol": "TKN", "rshares": str(rshares)}}]}
    return _l2_row(block, 0, payload, logs)


def _post(authorperm):
    return (authorperm, authorperm[1:].split("/")[0], T0, None, None, True, False,
            "TKN", Decimal(0), None, None, Decimal(0), Decimal(0), 0.0, 0.0, 0,
            Decimal(0), None, None, 0, "", "", 0.0, False)


def test_l2_drain_ignores_file_order(spark, tmp_path):
    """The file source lists new files by modification time, not by block.
    A backlog whose block-2 file carries the older mtime must still fold
    block 1: the high-water mark must not drop it as a replay of block 2."""
    files = [(1, _vote(1, "alice", "p1", 100)), (2, _vote(2, "bob", "p2", 7))]
    for order in ("in_order", "reversed"):
        root = tmp_path / order
        runner = DualStreamRunner(spark, str(root))
        state = {n: tables.empty_table(spark, n) for n in schemas.STATE_TABLES}
        state["posts"] = spark.createDataFrame(
            [_post("@alice/p1"), _post("@bob/p2")], schemas.POSTS
        )
        runner.save_state(state)
        src = root / "src"
        src.mkdir()
        for block, row in files:
            path = src / f"b{block}.json"
            path.write_text(json.dumps(row) + "\n")
            mtime = 1_700_000_000 + (block if order == "in_order" else -block)
            os.utime(path, (mtime, mtime))
        q = run_l2_stream(runner, str(src), available_now=True)
        assert q.awaitTermination(180), f"{order}: the stream did not drain"
        totals = {
            r["authorperm"]: r["vote_rshares"]
            for r in runner.load_state()["posts"].collect()
        }
        assert totals == {"@alice/p1": Decimal(100), "@bob/p2": Decimal(7)}, order
