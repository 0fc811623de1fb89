"""applyInPandasWithState vote deltas over a real stream: state is one
last-rshares row per (post, voter) key — bounded, TTL-able — and the
per-post total is a downstream additive fold. An updateVote replaces (not
adds) the voter's contribution."""

from __future__ import annotations

import json
import os
from decimal import Decimal

from distribution_engine_smt_spark.streaming.stateful import (
    apply_vote_deltas,
    sum_vote_deltas,
    vote_delta_stream,
)


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_stream(spark, src, ckpt, totals):
    stream = (
        spark.readStream.schema(
            "authorperm string, token string, voter string, rshares decimal(38,10), seq long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    deltas = vote_delta_stream(stream)

    def sink(df, batch_id):
        apply_vote_deltas(totals, sum_vote_deltas(df).collect())

    q = (
        deltas.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_vote_deltas_replace_across_batches(spark, tmp_path):
    src = tmp_path / "votes"
    src.mkdir()
    totals: dict = {}

    _write(src / "b1.json", [
        {"authorperm": "@a/p", "token": "T", "voter": "v1", "rshares": "100", "seq": 1},
        {"authorperm": "@a/p", "token": "T", "voter": "v2", "rshares": "50", "seq": 2},
    ])
    _run_stream(spark, src, tmp_path / "ckpt", totals)
    assert totals[("@a/p", "T")] == Decimal(150)

    # batch 2: v1 UPDATES the vote (replace, not add) + new post appears;
    # v2's contribution survives in the per-voter state
    _write(src / "b2.json", [
        {"authorperm": "@a/p", "token": "T", "voter": "v1", "rshares": "10", "seq": 3},
        {"authorperm": "@b/q", "token": "T", "voter": "v3", "rshares": "7", "seq": 4},
    ])
    _run_stream(spark, src, tmp_path / "ckpt", totals)
    assert totals[("@a/p", "T")] == Decimal(60)   # 10 (v1 replaced) + 50 (v2)
    assert totals[("@b/q", "T")] == Decimal(7)


def test_viral_post_state_stays_per_voter(spark, tmp_path):
    """Thousands of voters on ONE post: state is N tiny keys, not one
    monolithic map — the batch completes and the total is exact."""
    src = tmp_path / "viral"
    src.mkdir()
    totals: dict = {}
    n = 2_000
    _write(src / "b1.json", [
        {"authorperm": "@hot/post", "token": "T", "voter": f"v{i}", "rshares": "1", "seq": i}
        for i in range(n)
    ])
    _run_stream(spark, src, tmp_path / "ckpt-viral", totals)
    assert totals[("@hot/post", "T")] == Decimal(n)

    # one of the voters updates their vote: only that voter's delta flows
    _write(src / "b2.json", [
        {"authorperm": "@hot/post", "token": "T", "voter": "v0", "rshares": "5", "seq": n + 1},
    ])
    _run_stream(spark, src, tmp_path / "ckpt-viral", totals)
    assert totals[("@hot/post", "T")] == Decimal(n + 4)


# ---------------------------------------------------------------------------
# runner-path drain-equals-batch: the continuous vote-fold mode
# (run_l2_vote_stream -> apply_vote_delta_batch) must land the same
# posts.vote_rshares totals as the batch L2 stream over the same tx log
# ---------------------------------------------------------------------------
def _seed_posts_state(spark, root):
    from datetime import datetime

    from distribution_engine_smt_spark import schemas, tables
    from distribution_engine_smt_spark.streaming import DualStreamRunner

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    runner = DualStreamRunner(spark, str(root))
    state = {n: tables.empty_table(spark, n) for n in schemas.STATE_TABLES}
    rows = [
        (ap, ap[1:].split("/")[0], t0, None, None, True, False, "TKN",
         Decimal(0), None, None, Decimal(0), Decimal(0), 0.0, 0.0, 0,
         Decimal(0), None, None, 0, "", "", 0.0, False)
        for ap in ("@alice/p1", "@bob/p2")
    ]
    state["posts"] = spark.createDataFrame(rows, schemas.POSTS)
    runner.save_state(state)
    return runner


def _l2_vote_row(block, tx_seq, author, permlink, voter, rshares):
    return {
        "blockNumber": block,
        "timestamp": "2024-01-01T12:00:00",
        "tx_seq": tx_seq,
        "contract": "comments",
        "action": "vote",
        "sender": voter,
        "transactionId": f"t{block}-{tx_seq}",
        "payload": json.dumps(
            {"author": author, "permlink": permlink, "voter": voter, "weight": 10000}
        ),
        "logs": json.dumps(
            {"events": [{"contract": "comments", "event": "newVote",
                         "data": {"symbol": "TKN", "rshares": str(rshares)}}]}
        ),
    }


def test_runner_vote_stream_drain_equals_batch(spark, tmp_path):
    from datetime import datetime

    from distribution_engine_smt_spark.streaming import (
        run_l2_stream,
        run_l2_vote_stream,
    )

    src = tmp_path / "txs"
    src.mkdir()
    _write(src / "b1.json", [
        _l2_vote_row(1, 0, "alice", "p1", "v1", 100),
        _l2_vote_row(1, 1, "alice", "p1", "v2", 50),
        _l2_vote_row(1, 2, "alice", "p1", "v3", 25),
        _l2_vote_row(1, 3, "bob", "p2", "z", 7),
    ])
    _write(src / "b2.json", [
        _l2_vote_row(2, 0, "alice", "p1", "v1", 10),   # replaces v1's 100
        _l2_vote_row(2, 1, "alice", "p1", "v4", 5),
    ])

    def totals(runner):
        return {
            r["authorperm"]: r["vote_rshares"]
            for r in runner.load_state()["posts"].collect()
        }

    # batch path (process_l2_batch: re-derive deltas vs stored votes)
    batch_runner = _seed_posts_state(spark, tmp_path / "batch")
    q = run_l2_stream(batch_runner, str(src), available_now=True)
    q.awaitTermination(180)
    batch_totals = totals(batch_runner)

    # continuous path (vote_delta_stream state store -> additive merge)
    stream_runner = _seed_posts_state(spark, tmp_path / "stream")
    q = run_l2_vote_stream(stream_runner, str(src), available_now=True)
    q.awaitTermination(180)
    stream_totals = totals(stream_runner)

    assert batch_totals == stream_totals == {
        "@alice/p1": Decimal(10 + 50 + 25 + 5),
        "@bob/p2": Decimal(7),
    }


# ---------------------------------------------------------------------------
# streaming z-score twin: drained stream == batch query, state spans batches
# ---------------------------------------------------------------------------


def test_zscore_stream_drain_equals_batch(spark, tmp_path):
    import duckdb

    import distribution_engine_smt_spark.pipeline  # noqa: F401
    from distribution_engine_smt_spark.driver_queries import QUERIES
    from distribution_engine_smt_spark.streaming.stateful import zscore_stream

    sf = "/root/testdata/sf0.001"
    ev = duckdb.sql(
        f"SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts, value"
        f" FROM '{sf}/events.parquet' ORDER BY ts, event_id"
    ).fetchall()
    # three chronological chunks: every user's history crosses batches.
    # The file source feeds new files in modification-time order (ties in
    # directory-listing order), so the chunks get strictly increasing
    # mtimes: files written back to back can share one, and a later chunk
    # fed first breaks the chronology the z-score state depends on.
    src = tmp_path / "events"
    src.mkdir()
    third = len(ev) // 3
    for i, chunk in enumerate([ev[:third], ev[third : 2 * third], ev[2 * third :]]):
        path = src / f"b{i}.json"
        _write(
            path,
            [
                {"event_id": e, "user_id": u, "ts": t, "value": v}
                for e, u, t, v in chunk
            ],
        )
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    got: dict[int, tuple] = {}

    def sink(df, batch_id):
        for r in df.collect():
            got[r["event_id"]] = (r["user_id"], r["n"], round(r["z"], 6), r["is_anomaly"])

    q = (
        zscore_stream(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "the stream did not drain within 180 s"

    batch = {
        r["event_id"]: (r["user_id"], r["n"], r["z"], r["is_anomaly"])
        for r in QUERIES["event_zscore_anomaly"](spark, sf).collect()
    }
    assert set(got) == set(batch)
    for eid in batch:
        assert got[eid] == batch[eid], eid


def test_funnel_stream_drain_equals_batch(spark, tmp_path):
    """Chronological waves through the per-user funnel state machine must
    reproduce the batch funnel's per-step user counts exactly."""
    import duckdb

    import distribution_engine_smt_spark.pipeline  # noqa: F401
    from distribution_engine_smt_spark.driver_queries import QUERIES
    from distribution_engine_smt_spark.streaming.stateful import funnel_stream

    sf = "/root/testdata/sf0.001"
    ev = duckdb.sql(
        f"SELECT event_id, user_id, CAST(ts AS VARCHAR) AS ts, event_type"
        f" FROM '{sf}/events.parquet' ORDER BY ts, event_id"
    ).fetchall()
    src = tmp_path / "events_funnel"
    src.mkdir()
    third = len(ev) // 3
    for i, chunk in enumerate([ev[:third], ev[third : 2 * third], ev[2 * third :]]):
        _write(
            src / f"b{i}.json",
            [
                {"event_id": e, "user_id": u, "ts": t, "event_type": et}
                for e, u, t, et in chunk
            ],
        )
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    final: dict[int, int] = {}

    def sink(df, batch_id):
        for r in df.collect():
            final[r["user_id"]] = r["stage"]  # last update wins

    q = (
        funnel_stream(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = {
        r["step_no"]: r["n_users"]
        for r in QUERIES["event_funnel"](spark, sf).collect()
    }
    got = {
        1: sum(1 for s in final.values() if s >= 1),
        2: sum(1 for s in final.values() if s >= 2),
        3: sum(1 for s in final.values() if s >= 3),
    }
    assert got == batch


def test_kmv_stream_matches_batch_sketch(spark, tmp_path):
    """Min-merge streaming trio-completer: the per-type bottom-k state
    after a two-wave drain with a checkpoint restart equals the batch KMV
    sketch — same kth hash, and the same estimate once finalized with the
    batch query's round() expression."""
    import pyspark.sql.functions as F

    from distribution_engine_smt_spark.pipeline.temporal import (
        KMV_K,
        _HEX15,
        kmv_distinct,
    )
    from distribution_engine_smt_spark.streaming.windows import run_kmv_stream
    from distribution_engine_smt_spark.tables import load_tpch

    sf = "/root/testdata/sf0.01"
    ev = load_tpch(spark, sf)["events"].select("event_type", "user_id")
    wave1 = ev.filter(F.col("user_id") % 2 == 0)
    wave2 = ev.filter(F.col("user_id") % 2 == 1)

    stream_dir = tmp_path / "kmv_stream"
    stream_dir.mkdir()
    out_dir = str(tmp_path / "kmv_sketch")
    ckpt = str(tmp_path / "kmv_ckpt")
    wave1.write.parquet(str(stream_dir / "wave1"))
    schema = wave1.schema

    def drain():
        q = run_kmv_stream(
            spark, str(stream_dir / "*"), schema, out_dir, ckpt, KMV_K
        )
        q.awaitTermination(120)

    drain()
    wave2.write.parquet(str(stream_dir / "wave2"))
    drain()

    streamed = spark.read.parquet(out_dir)
    # finalize with the same Spark expression the batch query uses
    est = F.when(
        F.col("k_used") < KMV_K, F.col("k_used").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(KMV_K - 1))
            / (F.col("kth_hash").cast("double") / F.lit(float(_HEX15))),
            4,
        )
    )
    got = {
        r["event_type"]: (r["kth_hash"], r["est"])
        for r in streamed.select("event_type", "kth_hash", est.alias("est")).collect()
    }
    want = {
        r["event_type"]: (r["kth_hash"], r["est_distinct"])
        for r in kmv_distinct(spark, sf).collect()
    }
    assert got == want
