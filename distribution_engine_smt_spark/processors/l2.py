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

Documented deviations (query-visible and deliberate):
- payout flush sets last_payout = event timestamp on EXISTING posts too.
  The reference only sets it when the post row is missing
  (engine_comments_contract_processor.py:277-304 writes the stale row back),
  which leaves paid-out posts permanently "pending" — a reference bug.
- authorReward resets vote_rshares/score_trend/score_hot to 0. The
  reference stages the reset in its dict but the flush never writes it
  for existing rows (same stale-row write-back).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions import memo_to_authorperm, score
from ..functions.scoring import SCORE_TIMESCALE_HOT, SCORE_TIMESCALE_TREND
from ..functions.timeutils import add_days
from ..operators import additive_merge, merge_upsert
from ..operators.skew import hot_key_aggregate
from ..session import batch_persist


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


def _skip(df: DataFrame, present: bool | None) -> bool:
    """Family guard: trust the precomputed batch flag when given, else fall
    back to a per-call isEmpty (direct/unit use of one apply_* function)."""
    return (not present) if present is not None else df.isEmpty()


def _ok_txs(txs: DataFrame) -> DataFrame:
    """Sequence + parse the tx log and apply the error-log gate (reference:
    custom_json_processor.py:50-66, engine_comments_contract_processor.py:33,42).
    Map-only, so it works on batch and streaming frames alike."""
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


def parse_l2_events(txs: DataFrame) -> DataFrame:
    """Raw tx rows -> exploded comments-contract event rows. Shared by the
    batch path (apply_l2_batch) and the continuous vote-fold stream
    (streaming/runner.run_l2_vote_stream); every step is map-only."""
    return _explode_events(_ok_txs(txs).filter(F.col("contract") == "comments"))


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
    """Apply one batch of L2 transactions in event order."""
    ok = _ok_txs(txs)
    flags = _batch_flags(ok)
    loaded_posts = state["posts"]
    comments_txs = ok.filter(F.col("contract") == "comments")
    events = _explode_events(comments_txs)

    state = apply_mutes(state, comments_txs, present=flags["mutes"])
    state = apply_new_comments(state, events, present=flags["new_comments"])
    state = apply_votes(state, events, present=flags["votes"])
    state = apply_rewards(state, events, present=flags["rewards"])
    state = apply_reward_pools(state, events, present=flags["pools"])
    if flags["promotions"] and state["posts"] is not loaded_posts:
        # the batch's mutes -> newComment -> votes -> rewards posts chain:
        # read by the promotion probe and merge and again by the posts write
        state = {**state, "posts": batch_persist(state["posts"])}
    state = apply_promotions(state, ok, present=flags["promotions"])
    return state


# ---------------------------------------------------------------------------
# setMute / setPostMute (engine_comments_contract_processor.py:33-49)
# ---------------------------------------------------------------------------
def apply_mutes(
    state: dict[str, DataFrame], txs: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    mutes = txs.filter(F.col("action").isin("setMute", "setPostMute"))
    if _skip(mutes, present):
        return state
    out = dict(state)
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
    out["accounts"] = merge_upsert(
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
        .select("authorperm", F.col("pool_token").alias("token"), "muted", "seq")
        # only existing posts (reference checks get_token_post)
        .join(state["posts"].select("authorperm", "token"), ["authorperm", "token"], "left_semi")
    )
    out["posts"] = merge_upsert(
        out.get("posts", state["posts"]),
        post_mutes,
        ["authorperm", "token"],
        seq_col="seq",
        update_cols=["muted"],
    )
    return out


# ---------------------------------------------------------------------------
# newComment (engine_comments_contract_processor.py:56-74)
# ---------------------------------------------------------------------------
def apply_new_comments(
    state: dict[str, DataFrame], events: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    nc = events.filter(F.col("event") == "newComment")
    if _skip(nc, present):
        return state
    cfg = F.broadcast(
        state["token_config"].select("token", "cashout_window_days")
    )
    acct = state["accounts"].select(
        F.col("name"), F.col("symbol").alias("token"), F.col("muted").alias("acct_muted")
    )
    delta = (
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
        .select(
            "authorperm",
            "author",
            "created",
            "token",
            add_days(F.col("created"), F.coalesce(F.col("cashout_window_days"), F.lit(7))).alias(
                "cashout_time"
            ),
            F.lit(False).alias("main_post"),
            F.coalesce(F.col("acct_muted"), F.lit(False)).alias("muted"),
            F.lit(0).cast(_NUM).alias("vote_rshares"),
            F.lit(0).cast(_NUM).alias("total_payout_value"),
            F.lit(0).cast(_NUM).alias("curator_payout_value"),
            F.lit(0).cast(_NUM).alias("promoted"),
            F.lit(0).cast("long").alias("beneficiaries_payout_value"),
            F.lit(0).alias("children"),
            F.lit(0.0).alias("score_trend"),
            F.lit(0.0).alias("score_hot"),
            F.lit(0.0).alias("score_promoted"),
            F.lit("1970-01-01 00:00:00").cast("timestamp").alias("last_payout"),
            "seq",
        )
    )
    out = dict(state)
    out["posts"] = merge_upsert(
        state["posts"],
        delta,
        ["authorperm", "token"],
        seq_col="seq",
        update_cols=[
            "author", "created", "cashout_time", "main_post", "muted",
            "vote_rshares", "total_payout_value", "curator_payout_value",
            "promoted", "beneficiaries_payout_value", "children",
            "score_trend", "score_hot", "score_promoted", "last_payout",
        ],
    )
    return out


# ---------------------------------------------------------------------------
# newVote / updateVote (engine_comments_contract_processor.py:75-115)
# ---------------------------------------------------------------------------
def apply_votes(
    state: dict[str, DataFrame], events: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    parsed = parse_vote_rows(events)
    if _skip(parsed, present):
        return state
    votes, posts = state["votes"], state["posts"]

    # last vote per (authorperm, token, voter) in the batch
    w = Window.partitionBy("authorperm", "token", "voter").orderBy(F.desc("seq"))
    last = parsed.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")

    # net rshares delta per voter = last_in_batch - stored (0 if new voter);
    # intermediate in-batch updates cancel out exactly like the reference's
    # sequential old_rshares reads (engine_comments_contract_processor.py:80-95)
    stored = votes.select(
        "authorperm", "token", "voter", F.col("rshares").alias("old_rshares")
    )
    deltas = last.join(stored, ["authorperm", "token", "voter"], "left").select(
        "authorperm",
        "token",
        (F.col("rshares") - F.coalesce(F.col("old_rshares"), F.lit(0).cast(_NUM))).alias(
            "rshares_delta"
        ),
        "timestamp",
        "seq",
    )
    # salted two-phase fold: a viral post's entire vote batch would land on
    # one reducer under a plain groupBy (operators/skew.py rationale)
    per_post = hot_key_aggregate(
        deltas,
        ["authorperm", "token"],
        {
            "vote_rshares": ("rshares_delta", "sum"),
            "last_vote_ts": ("timestamp", "max"),
            "seq": ("seq", "max"),
        },
    ).withColumn("vote_rshares", F.col("vote_rshares").cast(_NUM))
    # only posts that exist get the running sum + rescore
    per_post = per_post.join(
        posts.select("authorperm", "token"), ["authorperm", "token"], "left_semi"
    )
    new_posts = additive_merge(
        posts, per_post.select("authorperm", "token", "vote_rshares"),
        ["authorperm", "token"], add_cols=["vote_rshares"],
    )
    # rescore with the final rshares at the last vote event's timestamp
    rescored = new_posts.join(
        per_post.select("authorperm", "token", "last_vote_ts"),
        ["authorperm", "token"],
        "left",
    ).withColumn(
        "score_trend",
        F.when(
            F.col("last_vote_ts").isNotNull(),
            score(F.col("vote_rshares"), F.col("last_vote_ts"), SCORE_TIMESCALE_TREND),
        ).otherwise(F.col("score_trend")),
    ).withColumn(
        "score_hot",
        F.when(
            F.col("last_vote_ts").isNotNull(),
            score(F.col("vote_rshares"), F.col("last_vote_ts"), SCORE_TIMESCALE_HOT),
        ).otherwise(F.col("score_hot")),
    ).drop("last_vote_ts")

    out = dict(state)
    out["votes"] = merge_upsert(
        votes,
        last.select("authorperm", "voter", "timestamp", "token", "rshares", "percent", "seq"),
        ["authorperm", "token", "voter"],
        seq_col="seq",
    )
    out["posts"] = rescored
    return out


# ---------------------------------------------------------------------------
# reward events (engine_comments_contract_processor.py:116-214,277-304)
# ---------------------------------------------------------------------------
def apply_rewards(
    state: dict[str, DataFrame], events: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    r = events.filter(
        F.col("event").isin("curationReward", "beneficiaryReward", "authorReward")
    )
    if _skip(r, present):
        return state
    posts, history = state["posts"], state["account_history"]
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
    # salted two-phase fold (same hot-authorperm rationale as apply_votes):
    # all five aggregates are decomposable, conditional sums included
    per_post = hot_key_aggregate(
        parsed,
        ["authorperm", "token"],
        {
            "total_payout_value": ("q", "sum"),
            "curator_payout_value": (
                F.when(F.col("event") == "curationReward", F.col("q")), "sum"
            ),
            "beneficiaries_payout_value": (
                F.when(F.col("event") == "beneficiaryReward", F.col("q")), "sum"
            ),
            "last_payout": ("timestamp", "max"),
            "had_author_reward": (
                F.when(F.col("event") == "authorReward", F.lit(1)).otherwise(F.lit(0)),
                "max",
            ),
        },
    ).select(
        "authorperm",
        "token",
        F.col("total_payout_value").cast(_NUM).alias("total_payout_value"),
        F.col("curator_payout_value").cast(_NUM).alias("curator_payout_value"),
        F.col("beneficiaries_payout_value").cast("long").alias("beneficiaries_payout_value"),
        "last_payout",
        "had_author_reward",
    )
    new_posts = additive_merge(
        posts,
        per_post.select(
            "authorperm", "token",
            "total_payout_value", "curator_payout_value", "beneficiaries_payout_value",
        ).fillna(0, ["curator_payout_value", "beneficiaries_payout_value"]),
        ["authorperm", "token"],
        add_cols=[
            "total_payout_value", "curator_payout_value", "beneficiaries_payout_value",
        ],
    )
    # last_payout + authorReward resets (see module docstring deviations)
    flags = per_post.select("authorperm", "token", F.col("last_payout").alias("__lp"), "had_author_reward")
    new_posts = (
        new_posts.join(flags, ["authorperm", "token"], "left")
        .withColumn("last_payout", F.coalesce(F.col("__lp"), F.col("last_payout")))
        .withColumn(
            "vote_rshares",
            F.when(F.col("had_author_reward") == 1, F.lit(0).cast(_NUM)).otherwise(
                F.col("vote_rshares")
            ),
        )
        .withColumn(
            "score_trend",
            F.when(F.col("had_author_reward") == 1, F.lit(0.0)).otherwise(F.col("score_trend")),
        )
        .withColumn(
            "score_hot",
            F.when(F.col("had_author_reward") == 1, F.lit(0.0)).otherwise(F.col("score_hot")),
        )
        .drop("__lp", "had_author_reward")
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
    out = dict(state)
    out["posts"] = new_posts
    out["account_history"] = history.unionByName(new_hist)
    return out


# ---------------------------------------------------------------------------
# createRewardPool / updateRewardPool
# (engine_comments_contract_processor.py:215-274)
# ---------------------------------------------------------------------------
def apply_reward_pools(
    state: dict[str, DataFrame], events: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    p = events.filter(F.col("event").isin("createRewardPool", "updateRewardPool"))
    if _skip(p, present):
        return state

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
    out = dict(state)
    out["token_config"] = merge_upsert(
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
    return out


# ---------------------------------------------------------------------------
# promotions: tokens.transfer to the promoted-post account with an
# authorperm memo (engine_promote_post_processor.py:26-101;
# routing stream_engine_sidechain_blocks.py:57-87)
# ---------------------------------------------------------------------------
def apply_promotions(
    state: dict[str, DataFrame], txs: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    t = txs.filter((F.col("contract") == "tokens") & (F.col("action") == "transfer"))
    if _skip(t, present):
        return state
    posts = state["posts"]
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
    # salted fold like votes/rewards: one heavily-promoted post must not
    # funnel every transfer through a single reducer
    per_post = hot_key_aggregate(
        parsed, ["authorperm", "token"], {"promoted": ("quantity", "sum")}
    ).withColumn("promoted", F.col("promoted").cast(_NUM))
    # only existing (authorperm, token) rows are promoted
    per_post = per_post.join(
        posts.select("authorperm", "token"), ["authorperm", "token"], "left_semi"
    )
    if per_post.isEmpty():
        return state
    new_posts = additive_merge(posts, per_post, ["authorperm", "token"], add_cols=["promoted"])
    promoted_aps = per_post.select("authorperm", "token").withColumn("__p", F.lit(1))
    new_posts = (
        new_posts.join(promoted_aps, ["authorperm", "token"], "left")
        .withColumn(
            "score_promoted",
            F.when(
                F.col("__p") == 1,
                score(F.col("promoted"), F.col("created"), SCORE_TIMESCALE_TREND),
            ).otherwise(F.col("score_promoted")),
        )
        .drop("__p")
    )
    out = dict(state)
    out["posts"] = new_posts
    return out
