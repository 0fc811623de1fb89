"""Batch-scoped caching on the ingest path: a runner batch commits exactly
what the pure processors compute, caches nothing past its own swap, stages
only the tables it changed, and writes checkpoint rows equal to the ones
the driver-built construction gave."""

from __future__ import annotations

import glob
import hashlib
import json
import os
from datetime import datetime
from decimal import Decimal

from pyspark.sql import functions as F

from distribution_engine_smt_spark import schemas, session, tables
from distribution_engine_smt_spark.processors import apply_l1_batch, apply_l2_batch
from distribution_engine_smt_spark.streaming import DualStreamRunner
from distribution_engine_smt_spark.streaming.runner import _checkpoint_row

T0 = datetime(2024, 1, 1, 12, 0, 0)
NOW = datetime(2024, 1, 2, 12, 0, 0)
L2_TS = "2024-01-01T13:00:00.654321"
L1_TS = ("2024-01-01T12:30:00.123456", "2024-01-01T12:31:00.000007")


def _frame(spark, schema, rows):
    return spark.read.schema(schema).json(
        spark.sparkContext.parallelize([json.dumps(r) for r in rows])
    )


def _tx(block, tx_seq, payload, events=(), contract="comments", action="x"):
    return {
        "blockNumber": block, "timestamp": L2_TS, "tx_seq": tx_seq,
        "contract": contract, "action": action, "sender": "s",
        "transactionId": f"t{block}-{tx_seq}", "payload": json.dumps(payload),
        "logs": json.dumps({"events": [
            {"contract": "comments", "event": ev, "data": {"symbol": "TKN", **data}}
            for ev, data in events
        ]}),
    }


def _op(op_seq, typ, ts=L1_TS[0], **kw):
    return {"block_num": 20, "op_seq": op_seq, "timestamp": ts, "type": typ, **kw}


def _l2_batch(spark):
    """New posts, votes, a reward and a promotion; no reward pools."""
    return _frame(spark, schemas.TXS_L2, [
        _tx(10, 0, {"author": "bob", "permlink": "reply"}, [("newComment", {})]),
        _tx(10, 1, {"author": "carol", "permlink": "post2"}, [("newComment", {})]),
        _tx(10, 2, {"author": "alice", "permlink": "root", "voter": "v1", "weight": 100},
            [("newVote", {"rshares": "100"})]),
        _tx(10, 3, {"author": "bob", "permlink": "reply", "voter": "v2", "weight": 50},
            [("newVote", {"rshares": "50"})]),
        _tx(10, 4, {}, [("curationReward", {"authorperm": "@alice/root",
                                            "quantity": "1.5", "account": "v1"})]),
        _tx(10, 5, {"symbol": "TKN", "to": "promo", "quantity": "3", "memo": "@alice/root"},
            contract="tokens", action="transfer"),
    ])


def _l1_batch(spark):
    """Comments (a body edit and a reply), a delete, a follow and a reblog."""
    return _frame(spark, schemas.OPS_L1, [
        _op(0, "comment", author="alice", permlink="root", parent_author="",
            parent_permlink="cat", title="Root", json_metadata='{"tags":["x"]}',
            body="@@ -1,11 +1,17 @@\n hello\n+ brave\n  world\n"),
        _op(1, "comment", author="bob", permlink="reply", parent_author="alice",
            parent_permlink="root", title="", json_metadata="{}", body="a reply"),
        _op(2, "comment", author="carol", permlink="post2", parent_author="",
            parent_permlink="cat", title="P2", json_metadata="{}", body="gone soon"),
        _op(3, "delete_comment", ts=L1_TS[1], author="carol", permlink="post2"),
        _op(4, "custom_json", ts=L1_TS[1], id="follow", required_posting_auths=["u1"],
            json=json.dumps(["follow", {"follower": "u1", "following": "u2",
                                        "what": ["blog"]}])),
        _op(5, "custom_json", ts=L1_TS[1], id="follow", required_posting_auths=["u1"],
            json=json.dumps(["reblog", {"account": "u1", "author": "alice",
                                        "permlink": "root"}])),
    ])


def _seed_state(spark) -> dict:
    state = {n: tables.empty_table(spark, n) for n in schemas.STATE_TABLES}
    state["posts"] = spark.createDataFrame(
        [("@alice/root", "alice", T0, None, None, True, False, "TKN", Decimal(0), None,
          None, Decimal(0), Decimal(0), 0.0, 0.0, 0, Decimal(0), "t", "d", 0, "", "cat",
          0.0, False)],
        schemas.POSTS,
    )
    state["post_metadata"] = spark.createDataFrame(
        [("@alice/root", "hello world", "{}", "cat", 0, None, "/cat/@alice/root", 0)],
        schemas.POST_METADATA,
    )
    state["accounts"] = spark.createDataFrame(
        [("alice", "TKN", None, T0, False, None)], schemas.ACCOUNTS
    )
    state["follows"] = spark.createDataFrame([("x", "y", 1)], schemas.FOLLOWS)
    state["reblogs"] = spark.createDataFrame([("x", "@alice/root", T0)], schemas.REBLOGS)
    state["token_config"] = spark.createDataFrame(
        [("TKN", 7, 50, Decimal(1), Decimal(1), 0, None, "promo", 1, None, 5, 5,
          False, False)],
        schemas.TOKEN_CONFIG,
    )
    return state


def _rows(df, name) -> list:
    return sorted((tuple(r) for r in tables.conform(df, name).collect()), key=repr)


def _digests(root, table):
    return {
        p: hashlib.md5(open(p, "rb").read()).hexdigest()
        for p in glob.glob(os.path.join(root, "state", table, "**", "*.parquet"),
                           recursive=True)
    }


def _head(batch, block_col):
    return batch.agg(F.max(block_col), F.max("timestamp")).first()


def _expected(state, apply, batch, ckpt) -> dict[str, list]:
    """The pure processor applied to the loaded state, plus the checkpoint
    row, collected before the runner overwrites the files it reads."""
    with session.batch_scope():
        out = apply(state, batch)
        exp = {n: _rows(out[n], n) for n in schemas.STATE_TABLES}
    kept = [r for r in exp["configuration"] if r[0] != ckpt[0]]
    exp["configuration"] = sorted(kept + [ckpt], key=repr)
    return exp


def _assert_state(runner, expected) -> None:
    state = runner.load_state()
    for name in schemas.STATE_TABLES:
        assert _rows(state[name], name) == expected[name], name


def test_runner_batches_equal_direct_processors_and_leak_no_cache(
    spark, tmp_path, monkeypatch
):
    cache = spark._jsparkSession.sharedState().cacheManager()
    session.release_caches(spark)
    persisted = []
    frames = type(spark.range(1))  # the session's concrete DataFrame class
    persist = frames.persist

    def counting(df, *a, **k):
        persisted.append(df)
        return persist(df, *a, **k)

    monkeypatch.setattr(frames, "persist", counting)

    runner = DualStreamRunner(spark, str(tmp_path))
    runner.save_state(_seed_state(spark))
    root = str(tmp_path)

    # L2: the posts fold is one plan that each action reads once: nothing
    # is cached
    txs = _l2_batch(spark)
    b, t = _head(txs, "blockNumber")
    exp = _expected(runner.load_state(), apply_l2_batch, txs,
                    (2, None, None, b, t, "ENGINE_SIDECHAIN"))
    assert cache.isEmpty()
    persisted.clear()
    untouched = {n: _digests(root, n) for n in ("follows", "reblogs", "token_config")}
    assert all(untouched.values())
    runner.process_l2_batch(txs, 0, now=NOW)
    assert not persisted, "the L2 batch cached a frame"
    assert cache.isEmpty()
    _assert_state(runner, exp)
    for name, digests in untouched.items():
        assert _digests(root, name) == digests, f"{name} rewritten by an L2 batch"

    # L1: the DMP body fold and the posts chain feeding the reblogs
    ops = _l1_batch(spark)
    b, t = _head(ops, "block_num")
    exp = _expected(runner.load_state(), apply_l1_batch, ops,
                    (1, b, t, None, None, "HIVED"))
    assert cache.isEmpty()
    persisted.clear()
    runner.process_l1_batch(ops, 0, now=NOW)
    assert len(persisted) == 2
    assert cache.isEmpty()
    _assert_state(runner, exp)

    # the batches did what the fixture intends
    state = runner.load_state()
    posts = {r["authorperm"]: r for r in state["posts"].collect()}
    assert set(posts) == {"@alice/root", "@bob/reply"}
    assert posts["@alice/root"]["children"] == 1
    assert posts["@alice/root"]["promoted"] == Decimal(3)
    body = state["post_metadata"].filter(F.col("authorperm") == "@alice/root").first()
    assert body["body"] == "hello brave world"
    assert {(r[0], r[1]) for r in state["reblogs"].collect()} == {
        ("x", "@alice/root"), ("u1", "@alice/root"),
    }
    assert ("u1", "u2", 1) in {tuple(r) for r in state["follows"].collect()}


def test_checkpoint_rows_equal_driver_built_rows(spark):
    """The JVM-side row holds the values (timestamps to the microsecond)
    the old driver-collected ``createDataFrame`` row held."""

    def driver_built(cfg_id, name, batch, block_col):
        head = batch.agg(F.max(block_col).alias("b"), F.max("timestamp").alias("t")).first()
        is_l2 = cfg_id == 2
        return spark.createDataFrame(
            [(cfg_id,
              None if is_l2 else head["b"], None if is_l2 else head["t"],
              head["b"] if is_l2 else None, head["t"] if is_l2 else None,
              name)],
            schemas.CONFIGURATION,
        )

    for cfg_id, name, batch, block_col in (
        (1, "HIVED", _l1_batch(spark), "block_num"),
        (2, "ENGINE_SIDECHAIN", _l2_batch(spark), "blockNumber"),
    ):
        got = _checkpoint_row(cfg_id, name, batch, block_col, "timestamp")
        want = driver_built(cfg_id, name, batch, block_col)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want.schema
        ]
        assert got.collect() == want.collect()
    row = _checkpoint_row(1, "HIVED", _l1_batch(spark), "block_num", "timestamp").first()
    assert row["last_streamed_timestamp"] == datetime(2024, 1, 1, 12, 31, 0, 7)
