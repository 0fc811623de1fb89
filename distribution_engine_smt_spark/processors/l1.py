"""L1 (Hive mainnet) op processing: comment / delete_comment / custom_json
(follow, reblog) — the set-based equivalent of the reference's op loop
(reference: stream_blocks.py:125-158 dispatch;
processors/comment_processor_for_engine.py;
processors/custom_json_follow_processor.py;
processors/custom_json_reblog_processor.py).

Batch-order semantics: ops carry (block_num, op_seq); a single ``seq``
column gives last-writer-wins inside a batch. Comment/delete interleaving is
resolved per authorperm: a comment op counts only if no later delete exists;
a delete wins only over earlier comments.

Documented deviations from the reference (each makes the Spark version
saner without changing query-visible behavior):
- accounts.last_post/last_root_post update every token the author posts
  under (the reference writes only the final loop token —
  comment_processor_for_engine.py:152-159 leaks the loop variable).
- post_metadata.json_metadata keeps the raw op string (the reference
  re-serializes the parsed dict).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import (
    build_tags_csv,
    construct_authorperm,
    extract_user,
    is_main_post,
    truncate,
)
from ..functions.dmp import fold_body_edits
from ..operators import additive_merge, delete_by_keys, merge_upsert
from ..operators.skew import hot_key_aggregate
from ..session import batch_persist


def _seq():
    # built lazily: Column construction requires an active SparkContext
    return (
        F.col("block_num") * F.lit(1_000_000) + F.coalesce(F.col("op_seq"), F.lit(0))
    ).alias("seq")


def _with_seq_ap(ops: DataFrame) -> DataFrame:
    return ops.withColumn("seq", _seq()).withColumn(
        "authorperm", construct_authorperm(F.col("author"), F.col("permlink"))
    )


def _batch_flags(ops: DataFrame) -> dict[str, bool]:
    """ONE driver job classifying which op families a batch contains —
    replaces a chain of per-family ``isEmpty()`` jobs (each a full Spark
    job of pure latency at a 3 s trigger cadence)."""

    def _has(cond):
        return F.max(F.when(cond, 1).otherwise(0))

    is_cj = F.col("type") == "custom_json"
    row = ops.agg(
        _has(F.col("type") == "comment").alias("comments"),
        _has(F.col("type") == "delete_comment").alias("deletes"),
        _has(
            is_cj
            & (F.col("id") == "follow")
            & (F.get_json_object(F.col("json"), "$[0]") == "follow")
        ).alias("follows"),
        _has(
            is_cj
            & F.col("id").isin("follow", "reblog")
            & (F.get_json_object(F.col("json"), "$[0]") == "reblog")
        ).alias("reblogs"),
        _has(is_cj & (F.col("id") == "scot_set_tribe_settings")).alias("tribe"),
    ).first()
    return {k: bool(row[k]) for k in row.asDict()}


def _skip(df: DataFrame, present: bool | None) -> bool:
    """Family guard: trust the precomputed batch flag when given, else fall
    back to a per-call isEmpty (direct/unit use of one apply_* function)."""
    return (not present) if present is not None else df.isEmpty()


def apply_l1_batch(state: dict[str, DataFrame], ops: DataFrame) -> dict[str, DataFrame]:
    """Apply one batch of L1 ops. Dispatch mirrors stream_blocks.py:125-158."""
    ops = _with_seq_ap(ops)
    flags = _batch_flags(ops)
    loaded_posts = state["posts"]
    comments = ops.filter(F.col("type") == "comment")
    deletes = ops.filter(F.col("type") == "delete_comment")
    cjson = ops.filter(F.col("type") == "custom_json")

    # comment ops superseded by a later delete of the same authorperm are
    # dropped; deletes superseded by a later re-post are dropped
    if flags["deletes"]:
        last_del = deletes.groupBy("authorperm").agg(F.max("seq").alias("del_seq"))
        comments = comments.join(F.broadcast(last_del), "authorperm", "left").filter(
            F.col("del_seq").isNull() | (F.col("seq") > F.col("del_seq"))
        ).drop("del_seq")
        last_com = ops.filter(F.col("type") == "comment").groupBy("authorperm").agg(
            F.max("seq").alias("com_seq")
        )
        deletes = deletes.join(F.broadcast(last_com), "authorperm", "left").filter(
            F.col("com_seq").isNull() | (F.col("seq") > F.col("com_seq"))
        )

    state = apply_comments(state, comments, present=flags["comments"])
    state = apply_deletes(state, deletes, present=flags["deletes"])
    state = apply_follows(state, cjson, present=flags["follows"])
    if flags["reblogs"] and state["posts"] is not loaded_posts:
        # the batch's new posts chain: read by the reblog semi-join and
        # again by the posts write
        state = {**state, "posts": batch_persist(state["posts"])}
    state = apply_reblogs(state, cjson, present=flags["reblogs"])
    state = apply_tribe_settings(state, cjson, present=flags["tribe"])
    return state


# ---------------------------------------------------------------------------
# comment ops (reference: comment_processor_for_engine.py:32-209)
# ---------------------------------------------------------------------------
def apply_comments(
    state: dict[str, DataFrame], comments: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    if _skip(comments, present):
        return state
    posts, meta, accounts = state["posts"], state["post_metadata"], state["accounts"]

    # the reference only processes comments whose post rows already exist
    # (L2 newComment creates them first — ST2 alignment guarantees order)
    existing_aps = posts.select("authorperm").distinct()
    c = comments.join(existing_aps, "authorperm", "left_semi")

    enriched = c.withColumn("main_post", is_main_post(F.col("parent_author"), F.col("parent_permlink"))).withColumn(
        "parent_authorperm",
        F.when(
            ~F.col("main_post"),
            construct_authorperm(F.col("parent_author"), F.col("parent_permlink")),
        ),
    ).withColumn(
        # category tag: parent_permlink of a main post, unless it contains a
        # comma (comment_processor_for_engine.py:68-75)
        "category",
        F.when(
            F.col("main_post")
            & (F.col("parent_permlink") != "")
            & ~F.col("parent_permlink").contains(","),
            F.col("parent_permlink"),
        ),
    ).withColumn(
        "meta_tags",
        F.from_json(
            F.get_json_object(F.col("json_metadata"), "$.tags"), "array<string>"
        ),
    ).withColumn(
        "tags", build_tags_csv(F.col("category"), F.col("meta_tags"))
    )

    # last op per authorperm decides the scalar fields
    w = Window.partitionBy("authorperm").orderBy(F.desc("seq"))
    last_op = (
        enriched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    # ordered DMP body fold seeded with the stored body
    # (comment_processor_for_engine.py:102-130)
    seeds = meta.join(
        c.select("authorperm").distinct(), "authorperm", "left_semi"
    ).select(
        "authorperm",
        F.lit(-1).cast("long").alias("block_num"),
        F.lit(0).alias("op_seq"),
        "body",
    )
    edits = c.select("authorperm", "block_num", "op_seq", "body")
    bodies = fold_body_edits(seeds.unionByName(edits))

    # the body fold feeds the posts, accounts and post_metadata deltas (and,
    # through posts, the reblog semi-join): computed once per batch
    final = batch_persist(
        last_op.drop("body").join(bodies, "authorperm", "left").withColumn(
            "desc", truncate(F.col("body"), 300)
        )
    )

    # posts: update scalar fields on every (authorperm, token) row
    post_delta = final.select(
        "authorperm",
        truncate(F.col("title"), 256).alias("title"),
        "desc",
        truncate(F.col("tags"), 256).alias("tags"),
        "parent_author",
        "parent_permlink",
        "main_post",
        "seq",
    )
    token_rows = posts.select("authorperm", "token").join(
        post_delta, "authorperm", "inner"
    )
    new_posts = merge_upsert(
        posts,
        token_rows,
        ["authorperm", "token"],
        seq_col="seq",
        update_cols=["title", "desc", "tags", "parent_author", "parent_permlink", "main_post"],
    )

    # children counters: +1 per processed reply op on every parent row
    # (comment_processor_for_engine.py:160-196 — edits count too).
    # Salted two-phase count: a viral post's reply flood would otherwise
    # funnel through one reducer (operators/skew.py rationale). Computed
    # once, applied to both posts and post_metadata below.
    replies = enriched.filter(
        (~F.col("main_post")) & F.col("parent_authorperm").isNotNull()
    )
    parent_counts = hot_key_aggregate(
        replies.select(F.col("parent_authorperm").alias("authorperm")),
        ["authorperm"],
        {"children": ("*", "count")},
    ).withColumn("children", F.col("children").cast("int"))
    parent_exists = parent_counts.join(
        new_posts.select("authorperm").distinct(), "authorperm", "left_semi"
    )
    new_posts = additive_merge(
        new_posts, parent_exists, ["authorperm"], add_cols=["children"]
    )

    # accounts: last_post / last_root_post per (author, token) they post
    # under, in one keyed merge: only the column that fired is set, and a new
    # (author, token) is inserted with its other columns NULL
    set_cols = ("last_root_post", "last_post")
    fired = (
        final.join(posts.select("authorperm", "token"), "authorperm")
        .groupBy(F.col("author").alias("name"), F.col("token").alias("symbol"))
        .agg(
            F.max(F.when(F.col("main_post"), F.col("timestamp"))).alias("__d_last_root_post"),
            F.max(F.when(~F.col("main_post"), F.col("timestamp"))).alias("__d_last_post"),
        )
        .filter(F.col("__d_last_root_post").isNotNull() | F.col("__d_last_post").isNotNull())
    )
    new_accounts = accounts.join(fired, ["name", "symbol"], "full_outer").select(*[
        F.coalesce(F.col(f"__d_{c}"), F.col(c)).alias(c) if c in set_cols else F.col(c)
        for c in accounts.columns
    ])

    # post_metadata: body, raw json_metadata, tags, parent link, depth/url
    # inheritance (comment_processor_for_engine.py:174-201)
    parent_meta = meta.select(
        F.col("authorperm").alias("parent_authorperm"),
        F.col("depth").alias("parent_depth"),
        F.col("url").alias("parent_url"),
    )
    meta_delta = (
        final.join(parent_meta, "parent_authorperm", "left")
        .select(
            "authorperm",
            F.col("body"),
            F.col("json_metadata"),
            F.col("tags"),
            "parent_authorperm",
            F.when(F.col("main_post"), F.lit(0).cast("short"))
            .otherwise((F.coalesce(F.col("parent_depth"), F.lit(0)) + 1).cast("short"))
            .alias("depth"),
            F.when(
                F.col("main_post"),
                F.concat(F.lit("/"), F.col("parent_permlink"), F.lit("/"), F.col("authorperm")),
            )
            .otherwise(F.col("parent_url"))
            .alias("url"),
            F.col("seq"),
        )
    )
    new_meta = merge_upsert(
        meta,
        meta_delta,
        ["authorperm"],
        seq_col="seq",
        update_cols=["body", "json_metadata", "tags", "parent_authorperm", "depth", "url"],
    )
    # parent metadata children counter — same fold as parent_counts above
    meta_parent_exists = parent_counts.join(
        new_meta.select("authorperm"), "authorperm", "left_semi"
    )
    new_meta = additive_merge(
        new_meta, meta_parent_exists, ["authorperm"], add_cols=["children"]
    )

    out = dict(state)
    out["posts"], out["post_metadata"], out["accounts"] = new_posts, new_meta, new_accounts
    return out


# ---------------------------------------------------------------------------
# delete_comment (reference: stream_blocks.py:151-156,
# engine/post_storage.py:407-415 — deletes post rows for ALL tokens; the
# metadata row is left in place, matching the reference)
# ---------------------------------------------------------------------------
def apply_deletes(
    state: dict[str, DataFrame], deletes: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    if _skip(deletes, present):
        return state
    out = dict(state)
    out["posts"] = delete_by_keys(state["posts"], deletes.select("authorperm"), ["authorperm"])
    return out


# ---------------------------------------------------------------------------
# custom_json: follow (reference: custom_json_follow_processor.py:18-42)
# ---------------------------------------------------------------------------
def apply_follows(
    state: dict[str, DataFrame], cjson: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    follows_ops = cjson.filter(
        (F.col("id") == "follow")
        & (F.get_json_object(F.col("json"), "$[0]") == "follow")
    )
    if _skip(follows_ops, present):
        return state
    parsed = follows_ops.select(
        extract_user(F.col("required_posting_auths"), F.col("required_auths")).alias("user"),
        F.get_json_object(F.col("json"), "$[1].follower").alias("follower"),
        F.get_json_object(F.col("json"), "$[1].following").alias("following"),
        F.get_json_object(F.col("json"), "$[1].what").alias("what"),
        "seq",
    ).filter(
        F.col("user").isNotNull()
        & (F.col("user") == F.col("follower"))
        & F.col("following").isNotNull()
        & (F.length("follower") <= 20)
        & (F.length("following") <= 20)
    )
    # state: 2 mute ("ignore"), 1 follow ("blog"), 0 otherwise
    delta = parsed.select(
        "follower",
        "following",
        F.when(F.col("what") == '["ignore"]', F.lit(2))
        .when(F.col("what") == '["blog"]', F.lit(1))
        .otherwise(F.lit(0))
        .cast("short")
        .alias("state"),
        "seq",
    )
    out = dict(state)
    out["follows"] = merge_upsert(
        state["follows"], delta, ["follower", "following"], seq_col="seq"
    )
    return out


# ---------------------------------------------------------------------------
# custom_json: reblog — under id 'follow' OR 'reblog'
# (reference: stream_blocks.py:125-146, custom_json_reblog_processor.py)
# ---------------------------------------------------------------------------
def apply_reblogs(
    state: dict[str, DataFrame], cjson: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    reblog_ops = cjson.filter(
        F.col("id").isin("follow", "reblog")
        & (F.get_json_object(F.col("json"), "$[0]") == "reblog")
    )
    if _skip(reblog_ops, present):
        return state
    parsed = reblog_ops.select(
        extract_user(F.col("required_posting_auths"), F.col("required_auths")).alias("user"),
        F.get_json_object(F.col("json"), "$[1].account").alias("account"),
        F.get_json_object(F.col("json"), "$[1].author").alias("r_author"),
        F.get_json_object(F.col("json"), "$[1].permlink").alias("r_permlink"),
        F.get_json_object(F.col("json"), "$[1].delete").alias("del_flag"),
        "timestamp",
        "seq",
    ).filter(
        F.col("user").isNotNull()
        & (F.col("user") == F.col("account"))
        & F.col("r_author").isNotNull()
        & F.col("r_permlink").isNotNull()
    ).withColumn(
        "authorperm", construct_authorperm(F.col("r_author"), F.col("r_permlink"))
    )
    # only reblogs of existing MAIN posts count
    # (custom_json_reblog_processor.py:38-39: parent_author == '')
    mains = state["posts"].filter(
        F.col("parent_author").isNull() | (F.col("parent_author") == "")
    ).select("authorperm").distinct()
    parsed = parsed.join(mains, "authorperm", "left_semi")

    w = Window.partitionBy("account", "authorperm").orderBy(F.desc("seq"))
    last = parsed.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)

    adds = last.filter(F.col("del_flag").isNull() | (F.col("del_flag") != "delete")).select(
        "account", "authorperm", "timestamp", "seq"
    )
    dels = last.filter(F.col("del_flag") == "delete").select("account", "authorperm")

    out = dict(state)
    reblogs = merge_upsert(
        state["reblogs"], adds, ["account", "authorperm"], seq_col="seq"
    )
    out["reblogs"] = delete_by_keys(reblogs, dels, ["account", "authorperm"])
    return out


# ---------------------------------------------------------------------------
# custom_json: scot_set_tribe_settings
# (reference: custom_json_set_tribe_settings.py:18-47 — updates
# promoted_post_account for the reward pool named in the payload. The
# reference validates the sender against the token issuer fetched from the
# engine API; issuer is external state we don't index, so the check is
# delegated to the caller — documented deviation.)
# ---------------------------------------------------------------------------
def apply_tribe_settings(
    state: dict[str, DataFrame], cjson: DataFrame, present: bool | None = None
) -> dict[str, DataFrame]:
    ops = cjson.filter(F.col("id") == "scot_set_tribe_settings")
    if _skip(ops, present):
        return state
    parsed = ops.select(
        extract_user(F.col("required_posting_auths"), F.col("required_auths")).alias("user"),
        F.get_json_object(F.col("json"), "$.reward_pool_id").cast("int").alias("reward_pool_id"),
        F.get_json_object(F.col("json"), "$.promoted_post_account").alias("promoted_post_account"),
        "seq",
    ).filter(
        F.col("user").isNotNull()
        & F.col("reward_pool_id").isNotNull()
        & F.col("promoted_post_account").isNotNull()
    )
    pool_tokens = state["token_config"].select("token", "reward_pool_id")
    delta = parsed.join(F.broadcast(pool_tokens), "reward_pool_id").select(
        "token", "promoted_post_account", "seq"
    )
    out = dict(state)
    out["token_config"] = merge_upsert(
        state["token_config"], delta, ["token"], seq_col="seq",
        update_cols=["promoted_post_account"],
    )
    return out


# ---------------------------------------------------------------------------
# follow-refresh reconciliation (reference: engine/follow_storage.py:35-65,
# triggered from server/app.py:903-927): a fetched authoritative following
# list replaces the stored follow set for that follower — additions upsert
# state=1, stale rows flip to state=0 (soft-removed, NOT deleted), and
# mutes (state=2) are never touched.
# ---------------------------------------------------------------------------
def refresh_follows(follows: DataFrame, fetched: DataFrame) -> DataFrame:
    """``fetched(follower, following)`` is the authoritative follow list for
    every follower that appears in it; followers absent from ``fetched``
    keep their rows unchanged. Set-based over ALL followers at once — the
    reference's per-account loop becomes two anti-joins and one merge."""
    followers = fetched.select("follower").distinct()
    fetched = fetched.select("follower", "following").distinct()
    scoped = follows.join(followers, "follower", "left_semi")
    existing = scoped.filter(F.col("state") == 1).select("follower", "following")
    # adds anti-join against EVERY live row (state 1 follows AND state 2
    # mutes): a muted pair appearing in the fetched list must stay muted,
    # not be flipped to a follow
    present = scoped.filter(F.col("state").isin(1, 2)).select(
        "follower", "following"
    )
    adds = fetched.join(present, ["follower", "following"], "left_anti").select(
        "follower", "following", F.lit(1).cast("short").alias("state")
    )
    removes = existing.join(fetched, ["follower", "following"], "left_anti").select(
        "follower", "following", F.lit(0).cast("short").alias("state")
    )
    return merge_upsert(
        follows, adds.unionByName(removes), ["follower", "following"]
    )
