"""The L2 posts fold: one batch mixing every posts-touching family folds
into the rows the family-by-family rules give, and its plan reads the
loaded posts once.

The expected rows were produced by the family-by-family merge chain this
fold replaced, on the same state and batch."""

from __future__ import annotations

import json
from datetime import datetime
from decimal import Decimal

from distribution_engine_smt_spark import schemas, tables
from distribution_engine_smt_spark.processors import apply_l2_batch

T0 = datetime(2024, 1, 1, 12, 0, 0)
EPOCH = datetime(1970, 1, 1)


def _ts(minute):
    """The timestamp of the batch's block 10 + minute."""
    return datetime(2024, 1, 1, 13, minute)


def _frame(spark, schema, rows):
    return spark.read.schema(schema).json(
        spark.sparkContext.parallelize([json.dumps(r) for r in rows])
    )


def _tx(block, tx_seq, payload, events=(), contract="comments", action="x"):
    return {
        "blockNumber": block, "timestamp": f"2024-01-01T13:{block - 10:02d}:00",
        "tx_seq": tx_seq, "contract": contract, "action": action, "sender": "s",
        "transactionId": f"t{block}-{tx_seq}", "payload": json.dumps(payload),
        "logs": json.dumps({"events": [
            {"contract": "comments", "event": ev, "data": {"symbol": "TKN", **data}}
            for ev, data in events
        ]}),
    }


def _post(ap, vote_rshares, counters, title, muted, promoted):
    total, curator, benef, children, trend, hot = counters
    return (ap, ap[1:ap.index("/")], T0, "cat", None, True, False, "TKN", vote_rshares,
            datetime(2024, 1, 8, 12), EPOCH, total, curator, trend, hot, benef, promoted,
            title, "desc", children, "", "cat", 0.0, muted)


def _loaded_state(spark, root):
    """Three loaded posts, one with NULL counters; written and read back
    so the posts come from the parquet layout a runner batch reads."""
    state = {n: tables.empty_table(spark, n) for n in schemas.STATE_TABLES}
    state["posts"] = spark.createDataFrame([
        _post("@alice/root", Decimal(1000), (Decimal(1), Decimal("0.5"), 0, 2, 1.0, 2.0),
              "Root", False, Decimal(0)),
        _post("@dave/old", Decimal(300), (Decimal(5), Decimal(1), 7, 4, 3.0, 4.0),
              "Old", True, Decimal(6)),
        _post("@erin/null", None, (None, None, None, None, None, None), "Null", None, None),
    ], schemas.POSTS)
    state["votes"] = spark.createDataFrame(
        [("@alice/root", "v3", T0, "TKN", Decimal(300), 100)], schemas.VOTES
    )
    state["accounts"] = spark.createDataFrame(
        [("bob", "TKN", None, None, False, None), ("carol", "TKN", None, None, False, None)],
        schemas.ACCOUNTS,
    )
    state["token_config"] = spark.createDataFrame(
        [("TKN", 5, 50, Decimal(1), Decimal(1), 0, None, "promo", 1, None, 5, 5,
          False, False)],
        schemas.TOKEN_CONFIG,
    )
    for name, df in state.items():
        tables.write_table(df, root, name)
    return tables.load_state(spark, root)


def _vote(block, tx_seq, ap, voter, rshares, event="newVote"):
    author, permlink = ap[1:].split("/")
    return _tx(block, tx_seq, {"author": author, "permlink": permlink, "voter": voter,
                               "weight": 100}, [(event, {"rshares": str(rshares)})])


def _reward(block, tx_seq, event, ap, quantity, account):
    return _tx(block, tx_seq, {}, [(event, {"authorperm": ap, "quantity": quantity,
                                            "account": account})])


def _transfer(block, tx_seq, memo, quantity):
    return _tx(block, tx_seq, {"symbol": "TKN", "to": "promo", "quantity": quantity,
                               "memo": memo}, contract="tokens", action="transfer")


def _mixed_batch(spark):
    """Every posts family in one batch, in block order."""
    return _frame(spark, schemas.TXS_L2, [
        _tx(10, 0, {"account": "bob", "rewardPoolId": 1, "mute": True}, action="setMute"),
        _tx(10, 1, {"authorperm": "@alice/root", "rewardPoolId": 1, "mute": True},
            action="setPostMute"),
        # a same-batch new post is not loaded: its setPostMute is ignored
        _tx(10, 2, {"authorperm": "@carol/new2", "rewardPoolId": 1, "mute": True},
            action="setPostMute"),
        _tx(10, 3, {"author": "dave", "permlink": "old"}, [("newComment", {})]),
        _tx(10, 4, {"author": "bob", "permlink": "new"}, [("newComment", {})]),
        _tx(10, 5, {"author": "carol", "permlink": "new2"}, [("newComment", {})]),
        _vote(11, 0, "@bob/new", "v1", 100),
        _vote(11, 1, "@bob/new", "v2", 40),
        _vote(11, 2, "@bob/new", "v1", 70, "updateVote"),
        _vote(11, 3, "@alice/root", "v3", 500, "updateVote"),
        _vote(11, 4, "@nobody/y", "v4", 5),
        _reward(12, 0, "authorReward", "@alice/root", "2.5", "alice"),
        _reward(12, 1, "curationReward", "@ghost/p", "1.25", "v9"),
        _reward(12, 2, "beneficiaryReward", "@carol/new2", "3", "x"),
        _transfer(13, 0, "@ghost/p", "4"),
        _transfer(13, 1, "@nobody/x", "9"),
        _transfer(13, 2, "@dave/old", "2"),
    ])


def _posts(state) -> dict:
    return {r["authorperm"]: tuple(r) for r in tables.conform(state["posts"], "posts").collect()}


D = Decimal
LAST_PAYOUT = _ts(2)  # the batch's reward block
CASHOUT = datetime(2024, 1, 6, 13)  # created + the loaded 5-day window
# column order of schemas.POSTS
EXPECTED_POSTS = {
    # muted by setPostMute; the vote lands, then authorReward resets it
    "@alice/root": ("@alice/root", "alice", T0, "cat", None, True, False, "TKN", D(0),
                    datetime(2024, 1, 8, 12), LAST_PAYOUT, D("3.5"), D("0.5"), 0.0, 0.0,
                    0, D(0), "Root", "desc", 2, "", "cat", 0.0, True),
    # new this batch: muted from bob's setMute; v1's last 70 + v2's 40 rshares
    "@bob/new": ("@bob/new", "bob", _ts(0), None, None, False, None, "TKN", D(110),
                 CASHOUT, EPOCH, D(0), D(0), 3552.2790176851586, 170413.44739268514,
                 0, D(0), None, None, 0, None, None, 0.0, True),
    # new this batch: its setPostMute is ignored; a beneficiary payout
    "@carol/new2": ("@carol/new2", "carol", _ts(0), None, None, False, None, "TKN", D(0),
                    CASHOUT, LAST_PAYOUT, D(3), D(0), 0.0, 0.0, 3, D(0), None, None,
                    0, None, None, 0.0, False),
    # loaded, newComment'd: counters reset, title kept; then promoted
    "@dave/old": ("@dave/old", "dave", _ts(0), "cat", None, False, False, "TKN", D(0),
                  CASHOUT, EPOCH, D(0), D(0), 0.0, 0.0, 0, D(2), "Old", "desc", 0, "",
                  "cat", 3550.5385299956642, False),
    # loaded with NULL counters: each family in the batch coalesces its own
    "@erin/null": ("@erin/null", "erin", T0, "cat", None, True, False, "TKN", D(0),
                   datetime(2024, 1, 8, 12), EPOCH, D(0), D(0), None, None, 0, D(0),
                   "Null", "desc", None, "", "cat", 0.0, None),
    # inserted by a curation reward, then promoted (no created: no score)
    "@ghost/p": ("@ghost/p", None, None, None, None, None, None, "TKN", None, None,
                 LAST_PAYOUT, D("1.25"), D("1.25"), None, None, 0, D(4), None, None,
                 None, None, None, None, None),
}


def test_mixed_batch_folds_every_posts_family_in_order(spark, tmp_path):
    state = _loaded_state(spark, str(tmp_path))
    out = apply_l2_batch(state, _mixed_batch(spark))
    assert _posts(out) == EXPECTED_POSTS
    muted = {(r["name"], r["symbol"]): r["muted"] for r in out["accounts"].collect()}
    assert muted == {("bob", "TKN"): True, ("carol", "TKN"): False}


def test_promoted_null_rule(spark, tmp_path):
    """A NULL promoted reads 0 whenever the batch holds a promotion
    transfer, even one that matches no post; without one it stays NULL."""
    state = _loaded_state(spark, str(tmp_path))
    reward = _reward(12, 1, "curationReward", "@ghost/p", "1.25", "v9")
    cases = {
        "no transfer": ([reward], None),
        "transfer to no post": ([reward, _transfer(13, 0, "@nobody/x", "9")], Decimal(0)),
    }
    for case, (txs, want) in cases.items():
        posts = _posts(apply_l2_batch(state, _frame(spark, schemas.TXS_L2, txs)))
        promoted = schemas.POSTS.fieldNames().index("promoted")
        assert posts["@ghost/p"][promoted] == want, case
        assert posts["@erin/null"][promoted] == want, case
        assert posts["@alice/root"][promoted] == Decimal(0), case


def _posts_reads(df) -> int:
    """Leaves of the optimized logical plan that read the posts table."""
    cols = set(schemas.POSTS.fieldNames())
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return sum(
        set(leaves.apply(i).schema().fieldNames()) == cols for i in range(leaves.size())
    )


def test_posts_plan_reads_loaded_posts_once(spark, tmp_path):
    state = _loaded_state(spark, str(tmp_path))
    assert _posts_reads(state["posts"]) == 1
    out = apply_l2_batch(state, _mixed_batch(spark))
    assert _posts_reads(out["posts"]) == 1
