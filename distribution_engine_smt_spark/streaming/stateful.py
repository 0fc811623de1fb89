"""Custom stateful streaming operator via applyInPandasWithState.

The batch-first processors re-derive running aggregates per micro-batch
against the stored state (SURVEY.md ST7); this module is the
continuous-query alternative: per-key state lives INSIDE the streaming
engine (RocksDB/HDFS state store at scale), so totals update without
re-reading the posts table.

Demonstrated on the vote running-sum (reference semantics A6: per
(authorperm, token, voter) the LAST rshares replaces the previous one;
the post total is the sum over voters).

Scale design — state is keyed by (authorperm, token, voter), NOT by post:
a viral post with 1M voters becomes 1M independent, few-byte state rows
hash-distributed across the state store, never one multi-MB JSON map
deserialized per batch. Each key stores only the voter's last rshares and
expires after a TTL (votes stop mattering after the cashout window —
reference: sql/engine.sql cashout_time). The operator emits per-voter
DELTAS; the per-post running total is a downstream additive merge exactly
like the batch path (processors/l2.py: apply_votes' per-voter deltas,
summed per post by the posts fold and added as additive_merge adds).
"""

from __future__ import annotations

from decimal import Decimal
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DELTA_SCHEMA = StructType(
    [
        StructField("authorperm", StringType()),
        StructField("token", StringType()),
        StructField("voter", StringType()),
        StructField("rshares_delta", DecimalType(38, 10)),
    ]
)

# engine-managed state per (authorperm, token, voter): the voter's last
# rshares as a string — a few bytes, never a per-post map
STATE_SCHEMA = StructType([StructField("last_rshares", StringType())])

# votes stop affecting payout after the cashout window; expire idle keys
STATE_TTL_MS = 14 * 24 * 3600 * 1000


def _make_vote_delta_fn(ttl: bool):
    """Build the per-key fold, closing over the ttl flag (cloudpickle ships
    the closure by value — executors import nothing from this repo)."""

    def _emit_vote_delta(
        key: Tuple[str, str, str],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        from decimal import Decimal as _D

        import pandas as _pd

        if state.hasTimedOut:
            state.remove()
            return
        rows = _pd.concat(list(batches), ignore_index=True)
        if rows.empty:
            return
        # reference semantics: later (block, seq) wins per voter
        newest = _D(str(rows.sort_values("seq")["rshares"].iloc[-1]))
        last = _D(state.get[0]) if state.exists else _D(0)
        state.update((str(newest),))
        if ttl:
            # ProcessingTimeTimeout is armed: a failure here must SURFACE —
            # swallowing it would silently disable state expiry and let the
            # store grow without bound (the old blanket except did exactly
            # that)
            state.setTimeoutDuration(14 * 24 * 3600 * 1000)
        yield _pd.DataFrame(
            {
                "authorperm": [key[0]],
                "token": [key[1]],
                "voter": [key[2]],
                "rshares_delta": [newest - last],
            }
        )

    return _emit_vote_delta


def vote_delta_stream(votes_stream: DataFrame, ttl: bool = False) -> DataFrame:
    """votes_stream(authorperm, token, voter, rshares, seq) -> per-voter
    rshares deltas. State = one last-rshares row per (post, voter) key;
    hash-partitioned across the cluster state store.

    ``ttl=True`` arms the cashout-window expiry (ProcessingTimeTimeout) —
    use it on the continuous processing-time trigger. Keep the default for
    ``availableNow`` catch-up runs: processing-time timers prevent an
    availableNow query from ever terminating (measured; the timer batch
    loop persists past the drained backlog)."""
    conf = (
        GroupStateTimeout.ProcessingTimeTimeout if ttl else GroupStateTimeout.NoTimeout
    )
    return votes_stream.groupBy("authorperm", "token", "voter").applyInPandasWithState(
        _make_vote_delta_fn(ttl),
        outputStructType=DELTA_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=conf,
    )


def sum_vote_deltas(deltas: DataFrame) -> DataFrame:
    """Batch-side reduction of one micro-batch of deltas to per-post
    adjustments — the additive_merge input shape used by the batch path."""
    return deltas.groupBy("authorperm", "token").agg(
        F.sum("rshares_delta").cast(DecimalType(38, 10)).alias("rshares_delta")
    )


def apply_vote_deltas(totals: dict, deltas_rows) -> dict:
    """Driver-side fold helper for sinks/tests: totals[(authorperm, token)]
    += delta, mirroring additive_merge on the posts table."""
    for r in deltas_rows:
        k = (r["authorperm"], r["token"])
        totals[k] = totals.get(k, Decimal(0)) + r["rshares_delta"]
    return totals


# ---------------------------------------------------------------------------
# streaming twin of pipeline.temporal.event_zscore_anomaly
# ---------------------------------------------------------------------------

ZSCORE_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("n", IntegerType()),
        StructField("z", DoubleType()),
        StructField("is_anomaly", BooleanType()),
    ]
)

# per-user state: the last <= window values, oldest..newest, serialized as
# comma-joined repr() floats (repr round-trips doubles exactly, so the
# streaming fold is bit-identical to the batch fold)
ZSCORE_STATE_SCHEMA = StructType([StructField("hist", StringType())])


def _make_zscore_fn(window: int = 6, min_n: int = 3):
    """Per-user rolling z-score fold, closed over (window, min_n);
    self-contained for cloudpickle-by-value shipping."""

    def _fold(
        key: Tuple[int],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import math as _math

        import pandas as _pd

        hist: list[float] = []
        if state.exists:
            (packed,) = state.get
            if packed:
                hist = [float(x) for x in packed.split(",")]
        rows = _pd.concat(list(batches), ignore_index=True)
        # event-time order within the micro-batch; cross-batch order is the
        # source's responsibility (see zscore_stream docstring)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        out: dict[str, list] = {c: [] for c in ("event_id", "user_id", "n", "z", "is_anomaly")}
        (user_id,) = key
        for event_id, value in zip(rows["event_id"], rows["value"]):
            n = len(hist)
            if n >= min_n:
                s = 0.0
                for x in hist:
                    s += x
                s2 = 0.0
                for x in hist:
                    s2 += x * x
                var = (s2 - s * s / n) / (n - 1)
                if var > 0.0:
                    z = (float(value) - s / n) / _math.sqrt(var)
                    out["event_id"].append(int(event_id))
                    out["user_id"].append(int(user_id))
                    out["n"].append(n)
                    out["z"].append(z)
                    out["is_anomaly"].append(abs(z) > 2.0)
            hist.append(float(value))
            hist = hist[-window:]
        state.update((",".join(repr(x) for x in hist),))
        if out["event_id"]:
            yield _pd.DataFrame(out)

    return _fold


def zscore_stream(events_stream: DataFrame) -> DataFrame:
    """Continuous per-user rolling z-score (twin of the batch
    event_zscore_anomaly): state per user is the last <= 6 values — a
    few dozen bytes, TTL-able, hash-distributed across the state store —
    so a billion users is a billion tiny rows, never a wide window.

    Emits UNROUNDED z (the batch query rounds for its oracle); the drain
    test rounds both sides identically. Requires per-key event-time
    monotone arrival across micro-batches (replay/log sources); a truly
    late event would need frame reconstruction, which is the batch
    query's job.
    """
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _make_zscore_fn(),
        ZSCORE_OUT_SCHEMA,
        ZSCORE_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming funnel: per-user stage machine (twin of pipeline.olap/temporal
# event_funnel batch semantics under event-time-ordered arrival)
# ---------------------------------------------------------------------------
FUNNEL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", IntegerType()),
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)

# per-user state: first-view / first-click-after-view / first-purchase-
# after-click as epoch micros; -1 = not reached
FUNNEL_STATE = StructType(
    [
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
    ]
)


def _funnel_fn(
    key: Tuple[int],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    import pandas as _pd

    rows = _pd.concat(list(batches), ignore_index=True)
    if rows.empty:
        return
    rows = rows.sort_values("ts")
    tv, tc, tp = state.get if state.exists else (-1, -1, -1)
    ts_us = (rows["ts"].astype("int64") // 1000).tolist()
    for t, et in zip(ts_us, rows["event_type"].tolist()):
        if et == "view":
            # refine first-view only while no click committed against it
            if tv < 0 or (t < tv and tc < 0):
                tv = t
        elif et == "click":
            if tv >= 0 and t > tv and (tc < 0 or (t < tc and tp < 0)):
                tc = t
        elif et == "purchase":
            if tc >= 0 and t > tc and (tp < 0 or t < tp):
                tp = t
    state.update((tv, tc, tp))
    stage = 3 if tp >= 0 else 2 if tc >= 0 else 1 if tv >= 0 else 0
    yield _pd.DataFrame(
        {
            "user_id": [key[0]],
            "stage": [stage],
            "t_view": [tv],
            "t_click": [tc],
            "t_purchase": [tp],
        }
    )


def funnel_stream(events_stream: DataFrame) -> DataFrame:
    """Continuous funnel (streaming twin of ``event_funnel``): per-user
    state machine over strictly event-time-ordered view > click >
    purchase, emitting the user's current stage on every update.

    Semantics: exact against the batch funnel when arrival respects
    event-time order ACROSS micro-batches at stage boundaries (the
    append-log case — files land roughly chronologically; within a batch
    the fold sorts by event time, so any intra-batch disorder is free).
    A stage once committed is monotone: a late earlier view cannot
    un-commit an already-accepted click — the bounded-state price of an
    O(1)-per-user incremental funnel; the batch operator is the exact
    backfill, same pairing as every processor in this engine.

    Scale: state is three longs per user, hash-distributed; output mode
    update emits only users touched by the micro-batch."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUT,
        stateStructType=FUNNEL_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# KMV bottom-k sketch as engine-managed state: the min-merge class
# ---------------------------------------------------------------------------
KMV_SKETCH_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("k_used", IntegerType()),
        StructField("kth_hash", LongType()),
    ]
)

# state per group: the <= k smallest 60-bit hashes, kept sorted
KMV_STATE_SCHEMA = StructType(
    [StructField("hvs", StringType())]  # comma-joined longs: tiny, portable
)


def _make_kmv_fold(k: int):
    """Per-key bottom-k merge. Hashes are computed ENGINE-side (the md5
    column twin) before this operator, so the Python fold is pure integer
    min-merge — it can't drift from the batch sketch's hash. Closure
    ships by value (no repo imports on executors)."""

    def _fold(
        key: Tuple[str],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        rows = _pd.concat(list(batches), ignore_index=True)
        if rows.empty:
            return
        incoming = set(int(v) for v in rows["hv"])
        held = (
            set(int(v) for v in state.get[0].split(",") if v)
            if state.exists
            else set()
        )
        merged = sorted(held | incoming)[:k]
        state.update((",".join(str(v) for v in merged),))
        yield _pd.DataFrame(
            {
                "event_type": [key[0]],
                "k_used": [len(merged)],
                "kth_hash": [merged[-1]],
            }
        )

    return _fold


def kmv_sketch_stream(hashed_stream: DataFrame, k: int) -> DataFrame:
    """hashed_stream(event_type, hv) -> per-type bottom-k sketch summary
    after each micro-batch (update mode). State per key is <= k longs —
    the min-merge sketch class as engine-managed state, completing the
    streaming trio (HLL registers max-merge, CMS cells sum-merge). The
    ESTIMATE is computed on read from (k_used, kth_hash) with the same
    Spark round() expression as the batch query, so the Python fold
    stays purely integer and cannot introduce float drift."""
    return hashed_stream.groupBy("event_type").applyInPandasWithState(
        _make_kmv_fold(k),
        outputStructType=KMV_SKETCH_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
