"""applyInPandasWithState streaming twins over real streams: each drained
stream must land on its batch query's answer, with per-key state that
spans micro-batch boundaries."""

from __future__ import annotations

import json
import os


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


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
