"""Structured Streaming wrapper around the batch processors.

The reference runs two cooperating daemons (reference: stream_blocks.py,
stream_engine_sidechain_blocks.py); here each becomes a file-source
``readStream`` whose micro-batches are handed to the same pure batch
functions (processors.apply_l1_batch / apply_l2_batch) inside
``foreachBatch`` — batch-first core, streaming as a thin shell
(SURVEY.md §7 guiding shape).

Semantics mapped from the reference (§2.9):

- ST1 head-delay gate: ops younger than 15 s are filtered out of the batch;
  the file source re-lists, so they are picked up by a later trigger
  (reference: stream_blocks.py:80-84 returns False to pause).
- ST2 cross-stream alignment (L2 leads, L1 follows): before each L1 batch
  commits, L1 drops ops at-or-after the L2 checkpoint's
  last_engine_streamed_timestamp — the driver-side gate SURVEY.md §7 #4
  (reference: stream_blocks.py:64-93).
- ST3 per-block transactionality: replay-idempotence is enforced with the
  block high-water mark the reference keeps in its configuration row
  (last_streamed_block — reference: stream_blocks.py:60-63): each batch
  drops ops at-or-below the persisted mark before processing, and the new
  mark is promoted atomically WITH the state it describes (journaled
  multi-table swap, see ``save_state``). foreachBatch is at-least-once;
  a replayed batch therefore re-applies nothing.
- ST4 resume: Structured Streaming checkpointLocation + the configuration
  table mirror (id=1/2 rows) the reference exposes via /state.
- ST5/ST7 ordering: blockchains are totally ordered; batches are applied in
  trigger order and intra-batch order is (block_num, op_seq) via the
  processors' seq column. The high-water mark assumes the same total order
  the reference assumes: block N+1 is never delivered before block N, and
  all ops of one block share the block's timestamp.
- ST6 poll cadence: Trigger.ProcessingTime("3 seconds") == the reference's
  3 s sleep; Trigger.AvailableNow for catch-up passes.

Scale: state tables re-written per micro-batch are the token-partitioned
parquet layout from ``tables.write_table``; writes are staged to a scratch
directory and promoted by directory rename, so a batch touching 2 tokens
stages and swaps 2 partition directories, never the table.

Per batch, shared work runs once and unchanged tables are not written:

- A batch's new state is a set of lazy plans that share upstream work.
  An L2 batch folds posts in one keyed pass (one aggregate over every
  family's per-post rows, one join with the loaded posts), so no action
  re-reads a shared frame and it caches nothing. An L1 batch persists
  each frame more than one of its actions reads (the DMP body fold of
  comments, and the posts chain read by the reblog fold), and every later
  action reads the cached copy. The batch's ``session.batch_scope``
  unpersists them once the state swap has committed; the scope is per
  thread, since the L1 and L2 streams run ``foreachBatch`` concurrently.
- Only tables whose frame is not the loaded one are staged: an L2 batch
  without reward pools leaves follows, reblogs and token_config as they
  are on disk.
- The checkpoint row is one aggregate over the batch, built JVM-side.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas, tables
from ..functions import construct_authorperm, is_main_post
from ..processors import apply_l1_batch, apply_l2_batch
from ..session import batch_scope
from .stateful import vote_delta_stream

HEAD_DELAY_SECONDS = 15  # reference: stream_blocks.py:82


def head_delay_filter(
    ops: DataFrame, ts_col: str = "timestamp", now: datetime | None = None
) -> DataFrame:
    """ST1: refuse ops younger than 15 s (freshness floor)."""
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)
    return ops.filter(
        F.col(ts_col) <= F.timestamp_add("SECOND", F.lit(-HEAD_DELAY_SECONDS), F.lit(now))
    )


def l2_alignment_bound(state: dict[str, DataFrame]):
    """ST2: the L2 checkpoint timestamp L1 must stay strictly behind
    (reference: stream_blocks.py:86-93 — L1 processes an op only when
    op.timestamp < last_engine_streamed_timestamp)."""
    row = (
        state["configuration"]
        .filter(F.col("id") == 2)
        .select("last_engine_streamed_timestamp")
        .first()
    )
    return row[0] if row else None


def _checkpoint_row(cfg_id: int, name: str, batch: DataFrame,
                    block_col: str, ts_col: str) -> DataFrame:
    """The stream's configuration row (id 1 = L1, id 2 = L2): the batch's
    head block and timestamp in that stream's two columns. One lazy
    aggregate over the batch, so the row never leaves the JVM: no driver
    collect and no Python worker to parallelize a local list."""
    b, t, none = F.max(block_col), F.max(ts_col), F.lit(None)
    is_l2 = cfg_id == 2
    cols = {
        "id": F.lit(cfg_id),
        "last_streamed_block": none if is_l2 else b,
        "last_streamed_timestamp": none if is_l2 else t,
        "last_engine_streamed_block": b if is_l2 else none,
        "last_engine_streamed_timestamp": t if is_l2 else none,
        "name": F.lit(name),
    }
    return batch.agg(*[
        cols[f.name].cast(f.dataType).alias(f.name) for f in schemas.CONFIGURATION.fields
    ])


def _changed_tables(state: dict[str, DataFrame], new_state: dict[str, DataFrame]) -> list[str]:
    """Tables a batch changed: the processors hand back the loaded frame
    itself for every table they leave alone, so only the others are staged."""
    return [n for n in schemas.STATE_TABLES if new_state[n] is not state[n]]


class DualStreamRunner:
    """Owns the two streams' state under one root directory:

        root/state/<table>/     current materialized tables
        root/checkpoints/l1     Spark streaming checkpoint (L1)
        root/checkpoints/l2     Spark streaming checkpoint (L2)
        root/_staging/          in-flight state swap (scratch + intent log)

    Batches route through the pure processors; the configuration table's
    rows 1/2 mirror progress for the /state endpoint (F18)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.state_dir = os.path.join(root, "state")
        os.makedirs(self.state_dir, exist_ok=True)
        self._recover_pending_swap()

    # -- atomic state swap ---------------------------------------------------
    # A batch's output spans several table directories; plain parquet has no
    # cross-table transaction. The swap is made crash-safe with an intent
    # journal: (1) write every new table/partition into root/_staging/data,
    # (2) atomically record the list of directory renames in INTENT.json,
    # (3) execute the renames, (4) clear the staging dir. A crash before (2)
    # leaves the old state untouched (the replayed batch recomputes it); a
    # crash after (2) is rolled FORWARD on the next runner start, so the
    # state and the block high-water mark stored inside it always promote
    # together — the advisor-required "same save" property.
    def _staging_dir(self) -> str:
        return os.path.join(self.root, "_staging")

    def _intent_path(self) -> str:
        return os.path.join(self._staging_dir(), "INTENT.json")

    def _execute_moves(self, moves: list[list[str | None]]) -> None:
        for src, dst in moves:
            if src is None:
                # deletion entry: a touched partition ended the batch EMPTY
                # (e.g. a delete_comment removed its last row) — the old
                # directory must go, or the deleted rows resurrect on the
                # next load. Idempotent under crash-replay.
                if os.path.exists(dst):
                    shutil.rmtree(dst)
                continue
            if not os.path.exists(src):
                continue  # this rename already happened before a crash
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)

    def _recover_pending_swap(self) -> None:
        intent = self._intent_path()
        if os.path.isfile(intent):
            with open(intent) as f:
                moves = json.load(f)["moves"]
            self._execute_moves(moves)
        if os.path.isdir(self._staging_dir()):
            shutil.rmtree(self._staging_dir())

    # -- state persistence ---------------------------------------------------
    def load_state(self) -> dict[str, DataFrame]:
        self._recover_pending_swap()
        return tables.load_state(self.spark, self.state_dir)

    def save_state(
        self,
        state: dict[str, DataFrame],
        only: list[str] | None = None,
        touched_partitions: dict[str, list] | None = None,
    ) -> None:
        """Persist state tables via the journaled staged swap. When
        ``touched_partitions`` names the partition values a batch touched
        (e.g. {'posts': ['TKN']}), partitioned tables stage and swap only
        those partition directories — the 100 TB write path: a batch
        touching 2 tokens renames 2 directories, not the table. Writing to
        staging (never in place) also removes the read-overwrite conflict,
        so no localCheckpoint materialization is needed."""
        self._recover_pending_swap()
        staging = self._staging_dir()
        data_dir = os.path.join(staging, "data")
        touched_partitions = touched_partitions or {}
        moves: list[list[str]] = []
        for name in only or schemas.STATE_TABLES:
            df = state[name]
            part_cols = tables.PARTITION_COLUMNS.get(name)
            bucketed = not part_cols and name in tables.HASH_BUCKETS
            touched = touched_partitions.get(name)
            stage_path = os.path.join(data_dir, name)
            if (part_cols or bucketed) and touched is not None:
                if not touched:
                    continue  # batch didn't touch this table at all
                if bucketed:
                    pcol = tables.BUCKET_COL
                    delta = tables.conform(df, name).withColumn(
                        pcol, tables.bucket_expr(name)
                    ).filter(F.col(pcol).isin(touched))
                    sort_cols = [tables.HASH_BUCKETS[name][0]]
                else:
                    pcol = part_cols[0]
                    delta = tables.conform(df.filter(F.col(pcol).isin(touched)), name)
                    sort_cols = tables.SORT_COLUMNS.get(name, [])
                w = delta.repartition(pcol)
                if sort_cols:
                    w = w.sortWithinPartitions(pcol, *sort_cols)
                w.write.mode("overwrite").partitionBy(pcol).parquet(stage_path)
                for v in touched:
                    pdir = f"{pcol}={v}"
                    dst = os.path.join(self.state_dir, name, pdir)
                    if os.path.isdir(os.path.join(stage_path, pdir)):
                        moves.append([os.path.join(stage_path, pdir), dst])
                    else:
                        # the touched partition has ZERO rows post-batch (a
                        # delete emptied it): journal a deletion, or the old
                        # directory survives and resurrects deleted rows
                        # while the HWM advances past the delete op
                        moves.append([None, dst])
            else:
                tables.write_table(df, data_dir, name)
                moves.append([stage_path, os.path.join(self.state_dir, name)])
        os.makedirs(staging, exist_ok=True)
        tmp = self._intent_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"moves": moves}, f)
        os.replace(tmp, self._intent_path())  # journal is now durable
        self._execute_moves(moves)
        shutil.rmtree(staging)

    # -- holdback re-queue ---------------------------------------------------
    # The file source's checkpoint marks a file consumed the moment its batch
    # runs, so ops a gate rejects (too young, or ahead of the L2 clock) would
    # be lost under continuous triggers. Instead, ineligible ops are parked in
    # root/holdback/<stream> and unioned into the next batch; the reference
    # gets the same effect by returning False and re-reading the block
    # (reference: stream_blocks.py:64-93 pauses instead of skipping).
    def _holdback_path(self, which: str) -> str:
        return os.path.join(self.root, "holdback", which)

    def _load_holdback(self, which: str, schema) -> DataFrame | None:
        path = self._holdback_path(which)
        if not os.path.isdir(path):
            return None
        if not any(f.endswith(".parquet") for f in os.listdir(path)):
            return None
        return self.spark.read.schema(schema).parquet(path)

    def _save_holdback(self, which: str, df: DataFrame) -> None:
        # tiny frame (ops within ~15 s of head); single file keeps re-listing cheap
        df.coalesce(1).write.mode("overwrite").parquet(self._holdback_path(which))

    def _config_rows(self, state: dict[str, DataFrame]) -> dict[int, dict]:
        """Both checkpoint rows in ONE driver job (HWM + alignment bound)."""
        return {
            r["id"]: r.asDict()
            for r in state["configuration"].filter(F.col("id").isin(1, 2)).collect()
        }

    @staticmethod
    def _eligibility_split(ops: DataFrame, cond) -> tuple[DataFrame, DataFrame]:
        """Null-safe gate split. A NULL timestamp cannot be compared to the
        head-delay or alignment bounds; three-valued logic would drop the row
        from BOTH sides. The reference processes every op of a block, so NULL
        timestamps route to the eligible side explicitly."""
        safe = F.coalesce(cond, F.lit(True))
        return ops.filter(safe), ops.filter(~safe)

    # -- batch handlers (called by foreachBatch and usable directly) --------
    def process_l1_batch(self, ops: DataFrame, batch_id: int, now: datetime | None = None) -> None:
        state = self.load_state()
        held = self._load_holdback("l1", schemas.OPS_L1)
        if held is not None:
            ops = ops.unionByName(held, allowMissingColumns=True)
        # decouple from the holdback files we are about to overwrite
        ops = ops.localCheckpoint(eager=True)
        cfg = self._config_rows(state)
        # replay idempotence (ST3): drop blocks at-or-below the persisted
        # high-water mark — additive counters must never re-apply
        hwm = cfg.get(1, {}).get("last_streamed_block")
        if hwm is not None:
            ops = ops.filter(F.col("block_num") > F.lit(hwm))
        now_ = now or datetime.now(timezone.utc).replace(tzinfo=None)
        cond = F.col("timestamp") <= F.timestamp_add(
            "SECOND", F.lit(-HEAD_DELAY_SECONDS), F.lit(now_)
        )
        bound = cfg.get(2, {}).get("last_engine_streamed_timestamp")
        if bound is not None:
            # L2 leads: only ops strictly older than the L2 clock commit
            cond = cond & (F.col("timestamp") < F.lit(bound))
        eligible, parked = self._eligibility_split(ops, cond)
        if eligible.isEmpty():
            self._save_holdback("l1", parked)
            return
        # the scope owns the frames the processors persist for this batch;
        # they are released once the swap inside has committed. State
        # (including the new HWM) promotes atomically first, holdback
        # second: a crash between the two re-runs the batch against the OLD
        # holdback, and the HWM filter discards the already-applied blocks
        # — never the reverse order, which could lose parked ops
        with batch_scope():
            self._commit_l1(state, eligible)
        self._save_holdback("l1", parked)

    def process_l2_batch(self, txs: DataFrame, batch_id: int, now: datetime | None = None) -> None:
        state = self.load_state()
        held = self._load_holdback("l2", schemas.TXS_L2)
        if held is not None:
            txs = txs.unionByName(held, allowMissingColumns=True)
        txs = txs.localCheckpoint(eager=True)
        cfg = self._config_rows(state)
        hwm = cfg.get(2, {}).get("last_engine_streamed_block")
        if hwm is not None:
            txs = txs.filter(F.col("blockNumber") > F.lit(hwm))
        now_ = now or datetime.now(timezone.utc).replace(tzinfo=None)
        cond = F.col("timestamp") <= F.timestamp_add(
            "SECOND", F.lit(-HEAD_DELAY_SECONDS), F.lit(now_)
        )
        eligible, parked = self._eligibility_split(txs, cond)
        if eligible.isEmpty():
            self._save_holdback("l2", parked)
            return
        txs = eligible
        with batch_scope():
            self._commit_l2(state, txs)
        self._save_holdback("l2", parked)

    def _commit_l1(self, state: dict[str, DataFrame], eligible: DataFrame) -> None:
        """Fold one gated L1 batch into ``state`` and swap in what changed."""
        new_state = apply_l1_batch(state, eligible)
        from ..operators import merge_upsert

        ckpt = _checkpoint_row(1, "HIVED", eligible, "block_num", "timestamp")
        new_state["configuration"] = merge_upsert(
            new_state["configuration"], ckpt, ["id"]
        )
        changed = _changed_tables(state, new_state)
        touched: dict[str, list] = {}
        com = eligible.filter(F.col("type") == "comment")
        meta_keys = com.select(
            construct_authorperm(F.col("author"), F.col("permlink")).alias("authorperm")
        ).unionByName(
            com.filter(
                ~F.coalesce(
                    is_main_post(F.col("parent_author"), F.col("parent_permlink")),
                    F.lit(True),
                )
            ).select(
                construct_authorperm(
                    F.col("parent_author"), F.col("parent_permlink")
                ).alias("authorperm")
            )
        ).filter(F.col("authorperm").isNotNull())
        if "post_metadata" in changed:
            # post_metadata is hash-bucketed on disk; a batch's comment ops
            # touch only the buckets of their own authorperms plus
            # (children counters) their parents'. Scoping the save rewrites
            # those bucket dirs, not the table — the largest L1 table
            # (bodies) stops being a full rewrite per micro-batch.
            touched["post_metadata"] = [
                r[0]
                for r in meta_keys.select(
                    tables.bucket_expr("post_metadata").alias("b")
                ).distinct().collect()
            ]
        if "posts" in changed or "accounts" in changed:
            # token partitions: L1 comments/deletes only ever touch posts and
            # accounts rows whose authorperm appears in the batch (comments
            # update existing rows — the semi-join in apply_comments — and
            # deletes remove pre-batch rows), so the touched token set is the
            # tokens of the PRE-batch posts rows for those authorperms
            del_aps = eligible.filter(F.col("type") == "delete_comment").select(
                construct_authorperm(F.col("author"), F.col("permlink")).alias(
                    "authorperm"
                )
            )
            all_aps = meta_keys.unionByName(del_aps).filter(
                F.col("authorperm").isNotNull()
            ).distinct()
            tokens = [
                r[0]
                for r in state["posts"]
                .join(all_aps, "authorperm", "left_semi")
                .select("token")
                .distinct()
                .collect()
            ]
            touched["posts"] = touched["accounts"] = tokens
        self.save_state(new_state, only=changed, touched_partitions=touched)

    def _commit_l2(self, state: dict[str, DataFrame], txs: DataFrame) -> None:
        """Fold one gated L2 batch into ``state`` and swap in what changed."""
        new_state = apply_l2_batch(state, txs)
        from ..operators import merge_upsert

        ckpt = _checkpoint_row(2, "ENGINE_SIDECHAIN", txs, "blockNumber", "timestamp")
        new_state["configuration"] = merge_upsert(
            new_state["configuration"], ckpt, ["id"]
        )
        # tokens this batch touched — bounds the partitioned-table writes to
        # the touched partitions. Three sources: symbols in event data,
        # payload symbols, and mute payloads, which carry rewardPoolId (not
        # symbol — reference: engine_comments_contract_processor.py:33-49)
        # resolved through token_config; a mutes-only batch must still
        # persist the accounts/posts partitions it updated.
        sym_events = txs.select(
            F.explode_outer(
                F.from_json(
                    F.col("logs"), "struct<events:array<struct<data:struct<symbol:string>>>>"
                )["events"]
            ).alias("ev")
        ).select(F.col("ev.data.symbol").alias("s"))
        sym_payload = txs.select(
            F.get_json_object(F.col("payload"), "$.symbol").alias("s")
        )
        pool_ids = txs.filter(
            F.col("action").isin("setMute", "setPostMute")
        ).select(F.get_json_object(F.col("payload"), "$.rewardPoolId").alias("pool_id"))
        # resolve against the POST-batch token_config so a pool created and
        # muted in the same batch still maps to its token
        sym_mutes = pool_ids.join(
            new_state["token_config"].select(
                F.col("reward_pool_id").cast("string").alias("pool_id"),
                F.col("token").alias("s"),
            ),
            "pool_id",
        ).select("s")
        tokens = [
            r["s"]
            for r in sym_events.unionByName(sym_payload)
            .unionByName(sym_mutes)
            .filter(F.col("s").isNotNull())
            .distinct()
            .collect()
        ]
        touched = {
            "posts": tokens,
            "votes": tokens,
            "account_history": tokens,
            "accounts": tokens,
        }
        self.save_state(
            new_state,
            only=_changed_tables(state, new_state),
            touched_partitions=touched,
        )

    def apply_vote_delta_batch(self, deltas: DataFrame, batch_id: int) -> None:
        """Sink for the continuous vote-fold mode (run_l2_vote_stream, ST7):
        one micro-batch of per-voter rshares deltas from the engine state
        store -> per-post additive merge into posts.

        The per-voter last-rshares lives INSIDE the streaming state store
        (streaming/stateful.py), so unlike apply_votes this sink never
        re-reads the votes table to compute deltas. Scope: this mode
        maintains the posts.vote_rshares running totals only — the votes
        table rows and trend/hot rescoring stay with the batch path
        (reference semantic ST7/A6:
        engine_comments_contract_processor.py:80-115)."""
        if deltas.isEmpty():
            return
        state = self.load_state()
        from ..operators import additive_merge
        from .stateful import sum_vote_deltas

        per_post = sum_vote_deltas(deltas).withColumnRenamed(
            "rshares_delta", "vote_rshares"
        )
        # only posts that exist get the running sum (apply_votes parity)
        per_post = per_post.join(
            state["posts"].select("authorperm", "token"),
            ["authorperm", "token"],
            "left_semi",
        ).localCheckpoint(eager=True)  # cut lineage: used for tokens AND merge
        tokens = [r["token"] for r in per_post.select("token").distinct().collect()]
        if not tokens:
            return
        out = dict(state)
        out["posts"] = additive_merge(
            state["posts"], per_post, ["authorperm", "token"],
            add_cols=["vote_rshares"],
        )
        # this sink writes exactly one table; stage/swap only the touched
        # token partitions of posts
        self.save_state(out, only=["posts"], touched_partitions={"posts": tokens})


def _file_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one op-log file ≈ one block range
        .json(path)
    )


def run_l1_stream(
    runner: DualStreamRunner,
    source_path: str,
    trigger: dict | None = None,
    available_now: bool = False,
):
    """L1 daemon: op-log files -> foreachBatch(apply_l1_batch).
    ``available_now=True`` is the catch-up pass (the reference's cron-style
    re-run, ST6); otherwise 3 s processing-time cadence."""
    stream = _file_stream(runner.spark, source_path, schemas.OPS_L1)
    writer = stream.writeStream.foreachBatch(runner.process_l1_batch).option(
        "checkpointLocation", os.path.join(runner.root, "checkpoints", "l1")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**(trigger or {"processingTime": "3 seconds"}))
    return writer.start()


def run_l2_stream(
    runner: DualStreamRunner,
    source_path: str,
    trigger: dict | None = None,
    available_now: bool = False,
):
    """L2 daemon: sidechain tx-log files -> foreachBatch(apply_l2_batch)."""
    stream = _file_stream(runner.spark, source_path, schemas.TXS_L2)
    writer = stream.writeStream.foreachBatch(runner.process_l2_batch).option(
        "checkpointLocation", os.path.join(runner.root, "checkpoints", "l2")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**(trigger or {"processingTime": "3 seconds"}))
    return writer.start()


def run_l2_vote_stream(
    runner: DualStreamRunner,
    source_path: str,
    trigger: dict | None = None,
    available_now: bool = False,
    ttl: bool = False,
):
    """Optional continuous vote-fold mode (ST7): the same L2 tx-log files,
    but newVote/updateVote events flow through the engine-managed
    per-(post, voter) state (streaming/stateful.vote_delta_stream) instead
    of the re-derive-vs-stored-votes batch fold. Per-voter deltas are
    additive-merged into posts by apply_vote_delta_batch.

    Runs on its own checkpoint (``checkpoints/l2votes``) so it can coexist
    with — or replace — the vote half of the batch L2 stream; don't run both
    against the same state dir or votes double-count. ``ttl=True`` arms the
    cashout-window state expiry (processing-time trigger only — see
    vote_delta_stream)."""
    from ..processors.l2 import parse_l2_events, parse_vote_rows

    stream = _file_stream(runner.spark, source_path, schemas.TXS_L2)
    votes = parse_vote_rows(parse_l2_events(stream)).select(
        "authorperm", "token", "voter", "rshares", "seq"
    )
    deltas = vote_delta_stream(votes, ttl=ttl)
    writer = (
        deltas.writeStream.foreachBatch(runner.apply_vote_delta_batch)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(runner.root, "checkpoints", "l2votes"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(**(trigger or {"processingTime": "3 seconds"}))
    return writer.start()
