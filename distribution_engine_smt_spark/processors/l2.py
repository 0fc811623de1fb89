"""L2 (Hive Engine sidechain) transaction processing — the set-based
equivalent of the reference's sidechain loop (reference:
stream_engine_sidechain_blocks.py:44-98 routing;
processors/engine_comments_contract_processor.py:26-304 events;
processors/engine_promote_post_processor.py:26-101 promotions).

Event families handled (logs.events[], contract='comments'):
  newComment          -> posts insert per (authorperm, token)
  newVote/updateVote  -> votes upsert + vote_rshares running sum + scores
  curationReward/beneficiaryReward/authorReward
                      -> payout accumulation on posts + account_history rows
  createRewardPool/updateRewardPool -> token_config upsert
Actions: setMute -> accounts.muted; setPostMute -> posts.muted.
tokens.transfer with authorperm memo -> promotion (promoted += qty, score).

Votes, accounts, account_history and token_config each take one merge per
batch. Posts take ONE keyed fold per batch (``_fold_posts``): every
posts-touching family emits per-(authorperm, token) rows in one column
layout, one salted aggregate folds them per post, and one full outer join
with the loaded posts applies the families in this order, each reading the
state the one before it left:
  1. setPostMute      -> muted, on loaded posts only.
  2. newComment       -> the last one by seq inserts or overwrites the row:
                         author, created, cashout_time (the loaded
                         token_config's window, default 7 days),
                         main_post=false, muted from the author's account
                         after this batch's setMute, counters and scores 0,
                         last_payout the epoch; other columns carried.
  3. votes            -> on loaded or newComment'd posts:
                         vote_rshares += sum(last rshares per voter - stored),
                         trend/hot rescored at the last vote's timestamp.
  4. rewards          -> on any post, a missing one inserted: payouts added,
                         last_payout the latest event, authorReward zeroes
                         vote_rshares and both scores.
  5. promotions       -> on posts that exist after 4: promoted += quantity,
                         score_promoted rescored from created.
A family in the batch reads its counters as coalesce(x, 0) on every row it
reaches, as ``operators.additive_merge`` does.

Documented deviations (query-visible and deliberate):
- payout flush sets last_payout = event timestamp on EXISTING posts too.
  The reference only sets it when the post row is missing
  (engine_comments_contract_processor.py:277-304 writes the stale row back),
  which leaves paid-out posts permanently "pending" — a reference bug.
- authorReward resets vote_rshares/score_trend/score_hot to 0. The
  reference stages the reset in its dict but the flush never writes it
  for existing rows (same stale-row write-back).
- a NULL promoted (e.g. on a post a reward inserted) reads 0 whenever the
  batch holds a tokens transfer, even one that promotes no post; it stays
  NULL in a batch without one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions import memo_to_authorperm, score
from ..functions.scoring import SCORE_TIMESCALE_HOT, SCORE_TIMESCALE_TREND
from ..functions.timeutils import add_days
# additive_merge is not called here (the posts fold adds inline, _add), but
# perfbench/ingest.py times both merge primitives through this module
from ..operators import additive_merge, merge_upsert  # noqa: F401
from ..operators.skew import hot_key_aggregate


def _seq():
    # built lazily: Column construction requires an active SparkContext
    return (
        F.col("blockNumber") * F.lit(1_000_000) + F.coalesce(F.col("tx_seq"), F.lit(0))
    ).alias("seq")


# int64 event-coordinate layout: blockNumber * 1e9 + tx_seq * 1e4 + ev_seq.
# Caps: blockNumber < 9.2e9 (int64 headroom; Hive is ~1e8 after 9 years),
# tx_seq < 1e5 per block, ev_seq < 1e4 events per transaction.  A bulk payout
# tx (curationReward per voter on a viral post — the catch-up scenario) can
# exceed 1e3 events, which is why the slot is 1e4 and why overflow raises
# instead of silently colliding with the next transaction's slot.
_TX_SLOT = 1_000_000  # tx_seq slot inside `seq` (see _seq above)
_EV_SLOT = 10_000
_TX_CAP = 100_000


def _event_order():
    """Unique, monotone int64 for one event: (block, tx, event position).

    Derived from ``seq`` (blockNumber*1e6 + tx_seq) and ``ev_seq``.  Raises
    at runtime if a slot overflows — a wrong-but-unique id is recoverable, a
    silent cross-transaction collision is not (reference auto-increments:
    engine/account_history_storage.py:72-74, so uniqueness + event order is
    the contract, not density).
    """
    block = F.col("seq") / F.lit(_TX_SLOT)  # integer division below
    block = F.floor(block).cast("long")
    tx = (F.col("seq") % F.lit(_TX_SLOT)).cast("long")
    ok = (F.col("ev_seq") < _EV_SLOT) & (tx < _TX_CAP)
    ordered = block * F.lit(1_000_000_000) + tx * F.lit(_EV_SLOT) + F.col("ev_seq")
    # the guard lives inside the id expression itself so column pruning can
    # never drop it; raise_error makes overflow loud instead of colliding
    return F.when(ok, ordered).otherwise(
        F.raise_error(
            F.concat(
                F.lit("event-order slot overflow (tx_seq or ev_seq): seq="),
                F.col("seq").cast("string"),
                F.lit(" ev_seq="),
                F.col("ev_seq").cast("string"),
            )
        ).cast("long")
    )

_EVENTS_SCHEMA = StructType(
    [
        StructField(
            "events",
            ArrayType(
                StructType(
                    [
                        StructField("contract", StringType()),
                        StructField("event", StringType()),
                        StructField(
                            "data",
                            StructType(
                                [
                                    StructField("symbol", StringType()),
                                    StructField("rshares", StringType()),
                                    StructField("quantity", StringType()),
                                    StructField("authorperm", StringType()),
                                    StructField("account", StringType()),
                                    StructField("_id", StringType()),
                                ]
                            ),
                        ),
                    ]
                )
            ),
        ),
        StructField("errors", ArrayType(StringType())),
    ]
)

_NUM = "decimal(38,10)"


def _payload(col: str, typ: str = "string"):
    return F.get_json_object(F.col("payload"), f"$.{col}").cast(typ)


def _event_flag(*names: str):
    """True when any comments-contract event with one of ``names`` exists in
    a tx's parsed log — evaluated map-side over the events array."""
    return F.exists(
        "parsed_logs.events",
        lambda e: (e["contract"] == F.lit("comments")) & e["event"].isin(*names),
    )


def _batch_flags(ok: DataFrame) -> dict[str, bool]:
    """ONE driver job classifying which op families a batch contains —
    replaces a chain of per-family ``isEmpty()`` jobs (each a full Spark
    job of pure latency at a 3 s trigger cadence)."""

    def _has(cond):
        return F.max(F.when(cond, 1).otherwise(0))

    row = ok.agg(
        _has(F.col("action").isin("setMute", "setPostMute")).alias("mutes"),
        _has((F.col("contract") == "tokens") & (F.col("action") == "transfer")).alias(
            "promotions"
        ),
        _has(_event_flag("newComment")).alias("new_comments"),
        _has(_event_flag("newVote", "updateVote")).alias("votes"),
        _has(
            _event_flag("curationReward", "beneficiaryReward", "authorReward")
        ).alias("rewards"),
        _has(_event_flag("createRewardPool", "updateRewardPool")).alias("pools"),
    ).first()
    return {k: bool(row[k]) for k in row.asDict()}


def _ok_txs(txs: DataFrame) -> DataFrame:
    """Sequence + parse the tx log and apply the error-log gate (reference:
    custom_json_processor.py:50-66, engine_comments_contract_processor.py:33,42).
    Map-only: one pass over the batch, no shuffle."""
    txs = txs.withColumn("seq", _seq()).withColumn(
        "parsed_logs", F.from_json(F.col("logs"), _EVENTS_SCHEMA)
    )
    return txs.filter(
        F.col("parsed_logs").isNull() | F.col("parsed_logs.errors").isNull()
    )


def _explode_events(comments_txs: DataFrame) -> DataFrame:
    """One row per comments-contract event, coordinates (seq, ev_seq)."""
    return (
        comments_txs.filter(F.col("parsed_logs.events").isNotNull())
        .select(
            "seq",
            "timestamp",
            "transactionId",
            "sender",
            "payload",
            F.posexplode(F.col("parsed_logs.events")).alias("ev_seq", "ev"),
        )
        .filter(F.col("ev.contract") == "comments")
        .select(
            "seq",
            "ev_seq",
            "timestamp",
            "transactionId",
            "sender",
            "payload",
            F.col("ev.event").alias("event"),
            F.col("ev.data.*"),
        )
        .withColumn(
            "payload_authorperm",
            F.concat(F.lit("@"), _payload("author"), F.lit("/"), _payload("permlink")),
        )
    )


def parse_vote_rows(events: DataFrame) -> DataFrame:
    """newVote/updateVote events -> one row per vote op:
    (authorperm, voter, token, rshares, percent, timestamp, seq) with seq
    the unique event order (engine_comments_contract_processor.py:75-115)."""
    v = events.filter(F.col("event").isin("newVote", "updateVote"))
    return v.select(
        F.col("payload_authorperm").alias("authorperm"),
        _payload("voter").alias("voter"),
        F.col("symbol").alias("token"),
        F.col("rshares").cast(_NUM).alias("rshares"),
        _payload("weight", "short").alias("percent"),
        "timestamp",
        _event_order().alias("seq"),
    )


def apply_l2_batch(
    state: dict[str, DataFrame], txs: DataFrame
) -> dict[str, DataFrame]:
    """Apply one batch of L2 transactions in event order.

    Each family folds its own table (accounts, votes, account_history,
    token_config) and emits its posts rows in the shared delta layout;
    ``_fold_posts`` folds every posts row of the batch in one keyed pass.
    A batch with no posts family keeps the loaded posts frame itself."""
    ok = _ok_txs(txs)
    flags = _batch_flags(ok)
    comments_txs = ok.filter(F.col("contract") == "comments")
    events = _explode_events(comments_txs)

    out = dict(state)
    deltas = []
    for family, fold, rows in (
        ("mutes", apply_mutes, comments_txs),
        ("new_comments", apply_new_comments, events),
        ("votes", apply_votes, events),
        ("rewards", apply_rewards, events),
        ("pools", apply_reward_pools, events),
        ("promotions", apply_promotions, ok),
    ):
        if flags[family]:
            updated, delta = fold(out, rows)
            out.update(updated)
            if delta is not None:
                deltas.append(delta)
    if deltas:
        out["posts"] = _fold_posts(state["posts"], deltas, flags)
    return out


# ---------------------------------------------------------------------------
# the posts fold: every posts-touching family emits per-(authorperm, token)
# rows in this one layout, leaving the other families' columns NULL
# ---------------------------------------------------------------------------
_POST_DELTA = (  # (column, type, per-post aggregate); structs lead with seq
    ("mute", "struct<seq:bigint,muted:boolean>", "max"),
    ("nc", "struct<seq:bigint,author:string,created:timestamp,"
           "cashout_time:timestamp,muted:boolean>", "max"),
    ("vote_delta", _NUM, "sum"),
    ("vote_ts", "timestamp", "max"),
    ("payout", _NUM, "sum"),
    ("curator_payout", _NUM, "sum"),
    ("beneficiaries_payout", _NUM, "sum"),
    ("payout_ts", "timestamp", "max"),
    ("author_reward", "int", "max"),
    ("promotion", _NUM, "sum"),
)
_KEYS = ["authorperm", "token"]


def _post_delta(rows: DataFrame, **cols) -> DataFrame:
    """``rows`` (with authorperm, token) -> the shared posts-delta layout."""
    return rows.select(
        *_KEYS,
        *[cols.get(name, F.lit(None)).cast(typ).alias(name) for name, typ, _ in _POST_DELTA],
    )


def _add(current, delta, dtype):
    """A counter update exactly as ``additive_merge`` computes it."""
    zero = F.lit(0).cast(dtype)
    return F.coalesce(current, zero) + F.coalesce(delta.cast(dtype), zero)


def _fold_posts(
    posts: DataFrame, deltas: list[DataFrame], flags: dict[str, bool]
) -> DataFrame:
    """One salted per-post aggregate over the batch's delta rows, one full
    outer join with the loaded posts, one projection applying the families
    in order (module docstring). ``__loaded`` marks a loaded key, so each
    family's existence rule is a column test, not a semi-join."""
    rows = deltas[0]
    for d in deltas[1:]:
        rows = rows.unionByName(d)
    # salted two-phase fold: a viral post's votes, payouts or promotions
    # would all land on one reducer under a plain groupBy (operators/skew.py)
    per_post = hot_key_aggregate(rows, _KEYS, {c: (c, fn) for c, _, fn in _POST_DELTA})
    joined = posts.withColumn("__loaded", F.lit(True)).join(per_post, _KEYS, "full_outer")
    dtype = {f.name: f.dataType for f in posts.schema.fields}
    col = {c: F.col(c) for c in posts.columns}
    loaded = F.col("__loaded").isNotNull()
    exists = loaded

    if flags["mutes"]:  # loaded keys only
        mute = F.col("mute")
        col["muted"] = F.when(loaded & mute.isNotNull(), mute["muted"]).otherwise(col["muted"])
    if flags["new_comments"]:  # insert or overwrite; other columns carried
        nc = F.col("nc")
        for c, v in _new_post_values(nc).items():
            col[c] = F.when(nc.isNotNull(), v).otherwise(col[c])
        exists = exists | nc.isNotNull()
    if flags["votes"]:  # loaded or newComment'd keys
        col["vote_rshares"] = F.when(
            exists, _add(col["vote_rshares"], F.col("vote_delta"), dtype["vote_rshares"])
        ).otherwise(col["vote_rshares"])
        vote_ts = F.when(exists, F.col("vote_ts"))
        for c, scale in (("score_trend", SCORE_TIMESCALE_TREND), ("score_hot", SCORE_TIMESCALE_HOT)):
            col[c] = F.when(
                vote_ts.isNotNull(), score(col["vote_rshares"], vote_ts, scale)
            ).otherwise(col[c])
    if flags["rewards"]:  # any key: a missing one is inserted
        for c, d in (
            ("total_payout_value", "payout"),
            ("curator_payout_value", "curator_payout"),
            ("beneficiaries_payout_value", "beneficiaries_payout"),
        ):
            col[c] = _add(col[c], F.col(d), dtype[c])
        col["last_payout"] = F.coalesce(F.col("payout_ts"), col["last_payout"])
        # authorReward resets (module docstring deviations)
        author = F.col("author_reward") == 1
        col["vote_rshares"] = F.when(author, F.lit(0).cast(_NUM)).otherwise(col["vote_rshares"])
        for c in ("score_trend", "score_hot"):
            col[c] = F.when(author, F.lit(0.0)).otherwise(col[c])
        exists = exists | F.col("author_reward").isNotNull()
    if flags["promotions"]:  # keys that exist by now: every row kept below
        promotion = F.col("promotion")
        col["promoted"] = _add(col["promoted"], promotion, dtype["promoted"])
        col["score_promoted"] = F.when(
            promotion.isNotNull(),
            score(col["promoted"], col["created"], SCORE_TIMESCALE_TREND),
        ).otherwise(col["score_promoted"])
    return joined.filter(exists).select(*[col[c].alias(c) for c in posts.columns])


# ---------------------------------------------------------------------------
# setMute / setPostMute (engine_comments_contract_processor.py:33-49)
# ---------------------------------------------------------------------------
def apply_mutes(
    state: dict[str, DataFrame], txs: DataFrame
) -> tuple[dict[str, DataFrame], DataFrame]:
    mutes = txs.filter(F.col("action").isin("setMute", "setPostMute"))
    # rewardPoolId -> token via token_config (small dim, broadcast)
    pool_map = F.broadcast(
        state["token_config"].select(
            F.col("reward_pool_id").cast("string").alias("pool_id"),
            F.col("token").alias("pool_token"),
        )
    )
    acct_mutes = (
        mutes.filter(F.col("action") == "setMute")
        .select(
            _payload("account").alias("name"),
            _payload("rewardPoolId").alias("pool_id"),
            _payload("mute", "boolean").alias("muted"),
            "seq",
        )
        .join(pool_map, "pool_id")
        .select("name", F.col("pool_token").alias("symbol"), "muted", "seq")
    )
    accounts = merge_upsert(
        state["accounts"], acct_mutes, ["name", "symbol"], seq_col="seq", update_cols=["muted"]
    )
    post_mutes = (
        mutes.filter(F.col("action") == "setPostMute")
        .select(
            _payload("authorperm").alias("authorperm"),
            _payload("rewardPoolId").alias("pool_id"),
            _payload("mute", "boolean").alias("muted"),
            "seq",
        )
        .join(pool_map, "pool_id")
        .withColumn("token", F.col("pool_token"))
    )
    # applied to loaded posts only (the reference checks get_token_post)
    return {"accounts": accounts}, _post_delta(post_mutes, mute=F.struct("seq", "muted"))


# ---------------------------------------------------------------------------
# newComment (engine_comments_contract_processor.py:56-74)
# ---------------------------------------------------------------------------
def _new_post_values(nc) -> dict:
    """The columns a newComment sets on its post row, from the last
    newComment struct ``nc``; counters, scores and last_payout restart."""
    zero = F.lit(0).cast(_NUM)
    return {
        "author": nc["author"],
        "created": nc["created"],
        "cashout_time": nc["cashout_time"],
        "main_post": F.lit(False),
        "muted": nc["muted"],
        "vote_rshares": zero,
        "total_payout_value": zero,
        "curator_payout_value": zero,
        "promoted": zero,
        "beneficiaries_payout_value": F.lit(0).cast("long"),
        "children": F.lit(0),
        "score_trend": F.lit(0.0),
        "score_hot": F.lit(0.0),
        "score_promoted": F.lit(0.0),
        "last_payout": F.lit("1970-01-01 00:00:00").cast("timestamp"),
    }


def apply_new_comments(
    state: dict[str, DataFrame], events: DataFrame
) -> tuple[dict[str, DataFrame], DataFrame]:
    """``state["accounts"]`` must already hold this batch's setMute rows."""
    nc = events.filter(F.col("event") == "newComment")
    cfg = F.broadcast(
        state["token_config"].select("token", "cashout_window_days")
    )
    acct = state["accounts"].select(
        F.col("name"), F.col("symbol").alias("token"), F.col("muted").alias("acct_muted")
    )
    rows = (
        nc.select(
            F.col("payload_authorperm").alias("authorperm"),
            _payload("author").alias("author"),
            F.col("timestamp").alias("created"),
            F.col("symbol").alias("token"),
            "seq",
        )
        .join(cfg, "token", "left")
        .join(
            acct.withColumnRenamed("name", "author"),
            ["author", "token"],
            "left",
        )
    )
    cashout = add_days(F.col("created"), F.coalesce(F.col("cashout_window_days"), F.lit(7)))
    muted = F.coalesce(F.col("acct_muted"), F.lit(False))
    return {}, _post_delta(
        rows, nc=F.struct("seq", "author", "created", cashout.alias("cashout_time"),
                          muted.alias("muted")),
    )


# ---------------------------------------------------------------------------
# newVote / updateVote (engine_comments_contract_processor.py:75-115)
# ---------------------------------------------------------------------------
def apply_votes(
    state: dict[str, DataFrame], events: DataFrame
) -> tuple[dict[str, DataFrame], DataFrame]:
    parsed = parse_vote_rows(events)
    votes = state["votes"]

    # last vote per (authorperm, token, voter) in the batch
    w = Window.partitionBy("authorperm", "token", "voter").orderBy(F.desc("seq"))
    last = parsed.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    # net rshares delta per voter = last_in_batch - stored (0 if new voter);
    # intermediate in-batch updates cancel out exactly like the reference's
    # sequential old_rshares reads (engine_comments_contract_processor.py:80-95).
    # The posts fold sums them per post and rescores at the last vote.
    stored = votes.select(
        "authorperm", "token", "voter", F.col("rshares").alias("old_rshares")
    )
    deltas = last.join(stored, ["authorperm", "token", "voter"], "left")
    rshares_delta = F.col("rshares") - F.coalesce(F.col("old_rshares"), F.lit(0).cast(_NUM))

    new_votes = merge_upsert(
        votes,
        last.select("authorperm", "voter", "timestamp", "token", "rshares", "percent", "seq"),
        ["authorperm", "token", "voter"],
        seq_col="seq",
    )
    return {"votes": new_votes}, _post_delta(
        deltas, vote_delta=rshares_delta, vote_ts=F.col("timestamp")
    )


# ---------------------------------------------------------------------------
# reward events (engine_comments_contract_processor.py:116-214,277-304)
# ---------------------------------------------------------------------------
def apply_rewards(
    state: dict[str, DataFrame], events: DataFrame
) -> tuple[dict[str, DataFrame], DataFrame]:
    r = events.filter(
        F.col("event").isin("curationReward", "beneficiaryReward", "authorReward")
    )
    q = F.col("quantity").cast(_NUM)
    parsed = r.select(
        F.col("authorperm"),
        F.col("symbol").alias("token"),
        "event",
        q.alias("q"),
        F.col("account"),
        "timestamp",
        "transactionId",
        "seq",
        "ev_seq",
    )
    # posts: payout sums, last_payout and the authorReward flag per post
    post_rows = _post_delta(
        parsed,
        payout=F.col("q"),
        curator_payout=F.when(F.col("event") == "curationReward", F.col("q")),
        beneficiaries_payout=F.when(F.col("event") == "beneficiaryReward", F.col("q")),
        payout_ts=F.col("timestamp"),
        author_reward=F.when(F.col("event") == "authorReward", F.lit(1)).otherwise(F.lit(0)),
    )

    # account_history append: one row per reward event with quantity > 0;
    # beneficiaryReward records as curation_reward like the reference
    # (engine_comments_contract_processor.py:172-182)
    hist_rows = parsed.filter(F.col("q") > 0).select(
        F.col("account"),
        F.col("token"),
        F.col("timestamp"),
        F.col("q").alias("quantity"),
        F.col("transactionId").alias("trx"),
        F.when(F.col("event") == "authorReward", F.lit("author_reward"))
        .otherwise(F.lit("curation_reward"))
        .alias("type"),
        F.col("authorperm"),
        _event_order().alias("__order"),
    )
    # id derives from the already-unique event coordinates (block, tx, event
    # position) — see _event_order. The DAO contract only needs
    # ORDER BY id DESC == reverse event order plus uniqueness
    # (reference: engine/account_history_storage.py:72-74), not density, and
    # block numbers grow monotonically, so ids stay monotone across batches.
    # An unpartitioned row_number here would funnel a bulk catch-up batch's
    # every reward event through one task; this is a map-only projection.
    new_hist = hist_rows.select(
        F.col("__order").alias("id"),
        "account", "token", "timestamp", "quantity", "trx", "type", "authorperm",
    )
    return {"account_history": state["account_history"].unionByName(new_hist)}, post_rows


# ---------------------------------------------------------------------------
# createRewardPool / updateRewardPool
# (engine_comments_contract_processor.py:215-274)
# ---------------------------------------------------------------------------
def apply_reward_pools(
    state: dict[str, DataFrame], events: DataFrame
) -> tuple[dict[str, DataFrame], None]:
    p = events.filter(F.col("event").isin("createRewardPool", "updateRewardPool"))

    def _cfg(col, typ):
        return F.get_json_object(F.col("payload"), f"$.config.{col}").cast(typ)

    existing_pool = state["token_config"].select(
        "token", F.col("reward_pool_id").alias("old_pool_id")
    )
    delta = (
        p.select(
            _payload("symbol").alias("token"),
            F.col("_id").cast("int").alias("new_pool_id"),
            _cfg("postRewardCurveParameter", "decimal(10,4)").alias("author_curve_exponent"),
            _cfg("curationRewardCurveParameter", "decimal(10,4)").alias("curation_curve_exponent"),
            _cfg("curationRewardPercentage", "int").alias("curation_reward_percentage"),
            _cfg("cashoutWindowDays", "int").alias("cashout_window_days"),
            _cfg("voteRegenerationDays", "int").alias("vote_regeneration_days"),
            _cfg("downvoteRegenerationDays", "int").alias("downvote_regeneration_days"),
            F.coalesce(_cfg("disableDownvote", "boolean"), F.lit(False)).alias("disable_downvoting"),
            F.coalesce(_cfg("ignoreDeclinePayout", "boolean"), F.lit(False)).alias("ignore_decline_payout"),
            "seq",
        )
        .join(F.broadcast(existing_pool), "token", "left")
        .withColumn("reward_pool_id", F.coalesce(F.col("new_pool_id"), F.col("old_pool_id")))
        .drop("new_pool_id", "old_pool_id")
    )
    token_config = merge_upsert(
        state["token_config"],
        delta,
        ["token"],
        seq_col="seq",
        update_cols=[
            "author_curve_exponent", "curation_curve_exponent",
            "curation_reward_percentage", "cashout_window_days",
            "vote_regeneration_days", "downvote_regeneration_days",
            "disable_downvoting", "ignore_decline_payout", "reward_pool_id",
        ],
    )
    return {"token_config": token_config}, None


# ---------------------------------------------------------------------------
# promotions: tokens.transfer to the promoted-post account with an
# authorperm memo (engine_promote_post_processor.py:26-101;
# routing stream_engine_sidechain_blocks.py:57-87)
# ---------------------------------------------------------------------------
def apply_promotions(
    state: dict[str, DataFrame], txs: DataFrame
) -> tuple[dict[str, DataFrame], DataFrame]:
    t = txs.filter((F.col("contract") == "tokens") & (F.col("action") == "transfer"))
    promoted_accounts = F.broadcast(
        state["token_config"].select(
            F.col("token"), F.col("promoted_post_account").alias("to_account")
        )
    )
    parsed = (
        t.select(
            _payload("symbol").alias("token"),
            _payload("to").alias("to_account"),
            _payload("quantity").cast(_NUM).alias("quantity"),
            memo_to_authorperm(F.get_json_object(F.col("payload"), "$.memo")).alias("authorperm"),
            "seq",
        )
        .filter(F.col("quantity").isNotNull() & (F.col("authorperm") != ""))
        .join(promoted_accounts, ["token", "to_account"], "inner")
    )
    # promoted += quantity and a rescore, for posts that exist after the
    # batch's rewards (the posts fold)
    return {}, _post_delta(parsed, promotion=F.col("quantity"))
