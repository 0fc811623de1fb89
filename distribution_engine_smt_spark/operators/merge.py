"""Keyed upsert / merge primitives — the engine's core write path.

The reference's single write primitive is ``table.upsert(row, key_cols)``
(reference: engine/post_storage.py:32-35 and every *_storage.py): insert-or-
update by composite key, one row at a time inside a per-block transaction.
On Spark that row-RPC pattern becomes a set-based micro-batch MERGE:

    new_state = merge_upsert(target, delta, keys)

implemented without a transactional store as last-writer-wins dedup:
union the delta on top of the target, rank rows per key by a sequence
column, keep rank 1. Counter columns (children, vote_rshares, payout
accumulators — reference: engine_comments_contract_processor.py:96-214,
comment_processor_for_engine.py:160-196) use ``additive_merge`` instead,
which adds deltas to existing values.

Scale notes (100 TB), plan-asserted in tests/test_plan_shapes.py
(test_bucketed_merge_exchanges):
- ``additive_merge`` is join-shaped (full outer on the key): with the
  target bucketed by the merge key, the TARGET branch carries no Exchange
  — only the (small) delta side shuffles to meet the bucketing.
- ``merge_upsert`` is window-shaped (union + last-writer-wins rank): it
  pays exactly ONE Exchange for the union — the minimum for a global
  rank — and bucketing cannot remove it, because the window's required
  distribution sits above the union, not above the scans. What bounds it
  at scale is partition scoping, not bucketing:
  ``DualStreamRunner.save_state``'s journaled swap stages and swaps only
  the partitions a batch touched, so that one exchange carries
  touched-partition rows, never the table.
- ``merge_upsert`` is idempotent under replay when ``seq`` is derived from
  (block_num, op_seq): re-merging the same delta yields the same state
  (reference semantics ST3/ST4 — per-block transactionality + resume).
- ``additive_merge`` must NOT be replayed blindly; callers key deltas by
  block range and only apply unseen ranges (the streaming runner enforces
  this via its checkpoint).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SEQ_COL = "__seq"
_SRC_COL = "__src"


def _aligned_union(target: DataFrame, delta: DataFrame) -> DataFrame:
    """Union target + delta on the target's columns; delta may omit columns
    (missing ones become NULL, matching ``dataset`` upsert semantics where
    unspecified columns keep their value only on UPDATE — see merge_upsert's
    update_cols handling for the keep-on-update case)."""
    cols = target.columns
    missing = [c for c in cols if c not in delta.columns]
    d = delta
    for c in missing:
        d = d.withColumn(c, F.lit(None).cast(target.schema[c].dataType))
    return target.select(*cols), d.select(*cols)


def merge_upsert(
    target: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    seq_col: str | None = None,
    update_cols: Iterable[str] | None = None,
) -> DataFrame:
    """Insert-or-update ``delta`` rows into ``target`` by composite key.

    Last-writer-wins: for each key, the highest-``seq_col`` delta row (or any
    delta row over the target row when ``seq_col`` is None) survives.

    ``update_cols`` — when given, only these non-key columns take the delta's
    value; all other columns keep the target's existing value (NULL-filling
    for brand-new keys). This mirrors partial-row upserts in the reference
    (e.g. vote upserts touch only rshares/percent/timestamp,
    reference: engine/vote_storage.py:21-24).
    """
    keys = list(keys)
    if seq_col is None:
        # target rows rank below all delta rows
        target_seq = F.lit(0).cast("long")
        delta_seq = F.lit(1).cast("long")
    else:
        # state tables usually don't persist a seq column — existing rows
        # rank at 0 and any delta row (batch seq > 0) wins
        if seq_col in target.columns:
            target_seq = F.coalesce(F.col(seq_col).cast("long"), F.lit(0))
        else:
            target_seq = F.lit(0).cast("long")
        delta_seq = F.col(seq_col).cast("long")

    if update_cols is not None:
        update_cols = [c for c in update_cols if c not in keys]
        carry = [
            c
            for c in target.columns
            if c not in keys and c not in update_cols and c != seq_col
        ]
        if carry:
            # partial update: join delta to target to carry untouched columns
            d_cols = keys + update_cols + ([seq_col] if seq_col else [])
            t = target.select(*keys, *carry)
            delta = delta.select(*d_cols).join(t, on=keys, how="left")

    t_df, d_df = _aligned_union(
        target.withColumn(SEQ_COL, target_seq).withColumn(_SRC_COL, F.lit(0)),
        delta.withColumn(SEQ_COL, delta_seq).withColumn(_SRC_COL, F.lit(1)),
    )
    unioned = t_df.unionByName(d_df)
    w = Window.partitionBy(*keys).orderBy(F.desc(SEQ_COL), F.desc(_SRC_COL))
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", SEQ_COL, _SRC_COL)
    )


def additive_merge(
    target: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    add_cols: Sequence[str],
    set_cols: Iterable[str] | None = None,
) -> DataFrame:
    """Merge ``delta`` into ``target`` adding ``add_cols`` to existing values.

    Backs the reference's denormalized running aggregates: children counters
    (reference: comment_processor_for_engine.py:160-196), vote_rshares running
    sum (engine_comments_contract_processor.py:96-115), and per-block payout
    accumulation (engine_comments_contract_processor.py:277-304).

    ``set_cols`` (optional) are overwritten from the delta when present
    (e.g. recomputed score columns that ride along with an rshares delta).
    Keys present only in the delta are inserted (counters start from the
    delta value).
    """
    keys = list(keys)
    set_cols = list(set_cols or [])
    d_cols = keys + list(add_cols) + set_cols
    d = delta.select(*d_cols)
    # full outer: delta-only keys insert, target-only keys pass through
    renamed = d.select(
        *keys, *[F.col(c).alias(f"__d_{c}") for c in list(add_cols) + set_cols]
    )
    joined = target.join(renamed, on=keys, how="full_outer")
    out_cols: list[Column] = [F.col(k) for k in keys]
    for c in target.columns:
        if c in keys:
            continue
        if c in add_cols:
            dtype = target.schema[c].dataType
            out_cols.append(
                (
                    F.coalesce(F.col(c), F.lit(0).cast(dtype))
                    + F.coalesce(F.col(f"__d_{c}").cast(dtype), F.lit(0).cast(dtype))
                ).alias(c)
            )
        elif c in set_cols:
            out_cols.append(F.coalesce(F.col(f"__d_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def delete_by_keys(target: DataFrame, keys_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Anti-join delete: drop target rows whose key appears in ``keys_df``.

    Rewrites the reference's DELETE statements (delete_posts across all
    tokens, reblog hard delete — reference: engine/post_storage.py:407-415,
    engine/reblog_storage.py:35-37)."""
    return target.join(keys_df.select(*keys).distinct(), on=list(keys), how="left_anti")


def delete_by_predicate(target: DataFrame, predicate: Column) -> DataFrame:
    """Retention delete: keep rows NOT matching the predicate
    (reference: delete_old_posts(days) — engine/post_storage.py:417-424)."""
    return target.filter(~predicate)
