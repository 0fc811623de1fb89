"""``ingest``: replay a seeded op log through the runner's batch handlers.

Closed loop, one block range at a time, as a daemon draining a backlog:
the range's L2 batch is handed to ``DualStreamRunner.process_l2_batch``,
a fresh server then reads one post voted in that batch through
``get_post``, and the range's L1 batch goes to ``process_l1_batch``. The
next range starts when the previous one has committed. A run replays the
fixed ``gen.SIZES.rounds`` ranges whatever their speed, so a faster engine
measures the same work. Every check runs after the timed loop.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext
from datetime import timedelta

import common
import gen

NOW = gen.FIXED_ANCHOR + timedelta(days=1)

L2_FOLDS = ("apply_mutes", "apply_new_comments", "apply_votes", "apply_rewards",
            "apply_reward_pools", "apply_promotions")
L1_FOLDS = ("apply_comments", "apply_deletes", "apply_follows", "apply_reblogs",
            "apply_tribe_settings")


def install_spans(tracer) -> dict:
    """Wrap the ingest path's public functions; returns the save_state
    rewrite log the traced run reads ``tables.*`` from."""
    from distribution_engine_smt_spark import operators, schemas, tables
    from distribution_engine_smt_spark.processors import l1, l2
    from distribution_engine_smt_spark.streaming import runner as runner_mod

    cls = runner_mod.DualStreamRunner
    tracer.wrap(cls, "load_state", "runner.load_state")
    tracer.wrap(runner_mod, "apply_l2_batch", "processors.apply_l2")
    tracer.wrap(runner_mod, "apply_l1_batch", "processors.apply_l1")
    for fn in L2_FOLDS:
        tracer.wrap(l2, fn, f"processors.{fn}")
    for fn in L1_FOLDS:
        tracer.wrap(l1, fn, f"processors.{fn}")
    for mod in (operators, l1, l2):
        tracer.wrap(mod, "merge_upsert", "merge")
        tracer.wrap(mod, "additive_merge", "merge")

    rewrites: dict[str, list[tuple[int, int]]] = {}
    orig_save = cls.save_state

    def save_state(self, state, only=None, touched_partitions=None):
        with tracer.span("runner.save_state"):
            orig_save(self, state, only=only, touched_partitions=touched_partitions)
        with tracer.paused():
            parts = size = 0
            touched = touched_partitions or {}
            for name in only or schemas.STATE_TABLES:
                base = os.path.join(self.state_dir, name)
                part_cols = tables.PARTITION_COLUMNS.get(name)
                scoped = part_cols or name in tables.HASH_BUCKETS
                if scoped and name in touched:
                    pcol = part_cols[0] if part_cols else tables.BUCKET_COL
                    dirs = [os.path.join(base, f"{pcol}={v}") for v in touched[name]]
                else:
                    dirs = [base]
                parts += len(dirs)
                size += sum(_dir_bytes(d) for d in dirs)
            unit = tracer._tls.__dict__.get("unit")
            rewrites.setdefault(unit, []).append((parts, size))

    tracer._patch(cls, "save_state", save_state)
    return rewrites


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def run(spark, seed: int, run_dir, tracer, spark_start_s: float) -> dict:
    from distribution_engine_smt_spark import schemas
    from distribution_engine_smt_spark.serving import build_state_server
    from distribution_engine_smt_spark.streaming import DualStreamRunner

    rewrites = install_spans(tracer) if tracer else None

    # -- set-up: inputs, then the seed state ---------------------------------
    t = time.perf_counter()
    st = gen.seed_state(seed, gen.FIXED_ANCHOR)
    rounds = gen.op_log(seed, st)
    files = gen.write_round_files(rounds, run_dir.sub("oplog"))
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    runner = DualStreamRunner(spark, run_dir.sub("state"))
    runner.save_state(common.seed_frames(spark, st, run_dir.sub("seed")))
    seed_s = time.perf_counter() - t

    # -- timed closed loop ------------------------------------------------
    l2_s, l1_s, round_s, fresh_s, fresh_bodies = [], [], [], [], []
    ops = attempted = failed = 0
    unit = tracer.unit if tracer else (lambda kind, uid: nullcontext())
    for r, (p2, p1) in enumerate(files):
        rd = rounds[r]
        try:
            attempted += 1
            t0 = time.perf_counter()
            with unit("l2", f"l2-{r}"):
                runner.process_l2_batch(spark.read.schema(schemas.TXS_L2).json(p2), r, now=NOW)
            t1 = time.perf_counter()
            attempted += 1
            ap, token = rd.probe
            with unit("fresh", f"fresh-{r}"):
                srv = build_state_server(runner.load_state())
                body = srv.handle_json("get_post", {
                    "token": token, "account": ap[1:ap.index("/")],
                    "permlink": ap[ap.index("/") + 1:]})
            t2 = time.perf_counter()
            attempted += 1
            with unit("l1", f"l1-{r}"):
                runner.process_l1_batch(spark.read.schema(schemas.OPS_L1).json(p1), r, now=NOW)
            t3 = time.perf_counter()
        except Exception as exc:  # counted, then the run fails its checks
            failed += 1
            print(f"ingest: block range {r} raised {exc!r}", flush=True)
            break
        l2_s.append(t1 - t0)
        fresh_s.append(t2 - t0)
        l1_s.append(t3 - t2)
        round_s.append((t1 - t0) + (t3 - t2))
        fresh_bodies.append(body)
        ops += len(rd.l2) + len(rd.l1)
    loop_s = sum(round_s)
    peak_mb = common.peak_rss_mb()

    # -- checks, outside the timed region -------------------------------
    t = time.perf_counter()
    errors = check(runner, st, rounds, fresh_bodies) if not failed else ["a batch raised"]
    check_s = time.perf_counter() - t

    metrics = {
        "setup_s": spark_start_s + gen_s + seed_s,
        "peak_rss_mb": peak_mb,
        "latency_ms": common.median(round_s) * 1000.0,
    }
    layers = {}
    if tracer:
        layers = layer_metrics(tracer, rewrites, runner, spark_start_s, gen_s, seed_s,
                               l2_s, l1_s, fresh_s)
        layers["ingest.ops_per_s"] = ops / loop_s if loop_s else 0.0
    return {"errors": errors, "attempted": attempted, "failed": failed,
            "metrics": metrics, "layers": layers,
            "detail": {"gen_s": gen_s, "seed_s": seed_s, "check_s": check_s, "ranges": len(round_s),
                       "l2_s": l2_s, "l1_s": l1_s, "fresh_s": fresh_s}}


def check(runner, st, rounds, fresh_bodies) -> list[str]:
    """Final state and checkpoint rows against the tally; every fresh read
    against the vote total its batch left behind."""
    errors = []
    tally = gen.Tally.from_seed(st)
    for rd in rounds:
        tally.apply_l2(rd)
        tally.apply_l1(rd)
    for r, body in enumerate(fresh_bodies):
        rows = json.loads(body)
        got = rows[0]["vote_rshares"] if rows else None
        if got is None or int(got) != tally.fresh[r]:
            errors.append(f"fresh read {r}: got {got}, want {tally.fresh[r]}")
    state = runner.load_state()
    posts = {
        (r["authorperm"], r["token"]): (int(r["vote_rshares"]), r["children"])
        for r in state["posts"].select("authorperm", "token", "vote_rshares", "children").collect()
    }
    want = {k: (v[0], v[1]) for k, v in tally.posts.items()}
    if posts.keys() != want.keys():
        errors.append(f"posts keys differ: {len(posts.keys() - want.keys())} extra, "
                      f"{len(want.keys() - posts.keys())} missing")
    else:
        bad = [k for k in want if posts[k] != want[k]]
        if bad:
            errors.append(f"{len(bad)} posts differ in vote_rshares/children, e.g. {bad[0]}: "
                          f"got {posts[bad[0]]}, want {want[bad[0]]}")
    per_token = {}
    for _, tok in posts:
        per_token[tok] = per_token.get(tok, 0) + 1
    if per_token != tally.posts_per_token():
        errors.append(f"posts per token {per_token} != {tally.posts_per_token()}")
    follows = {(r[0], r[1]): r[2] for r in state["follows"].collect()}
    if follows != tally.follows:
        errors.append("follows differ from the tally")
    reblogs = {(r[0], r[1]) for r in state["reblogs"].select("account", "authorperm").collect()}
    if reblogs != tally.reblogs:
        errors.append("reblogs differ from the tally")
    hist = state["account_history"].count()
    if hist != tally.history_rows:
        errors.append(f"account_history rows {hist} != {tally.history_rows}")
    cfg = {r["id"]: r for r in state["configuration"].collect()}
    if cfg.get(1) is None or cfg[1]["last_streamed_block"] != tally.last_l1_block:
        errors.append("checkpoint row 1 does not hold the last L1 block")
    if cfg.get(2) is None or cfg[2]["last_engine_streamed_block"] != tally.last_l2_block:
        errors.append("checkpoint row 2 does not hold the last L2 block")
    return errors


def layer_metrics(tracer, rewrites, runner, spark_start_s, gen_s, seed_s, l2_s, l1_s, fresh_s) -> dict:
    med = common.median
    stats = tracer.spark_stats()
    batches = [u for u, v in tracer.units.items() if v["kind"] in ("l2", "l1")]

    def per_batch(values: dict) -> float:
        return med([values.get(u, 0.0) for u in batches])

    def per_kind(name: str, kind: str) -> float:
        return med(list(tracer.unit_totals(name, kind).values()))

    saves = [s for u in batches for s in rewrites.get(u, [])]
    out = {
        "session.spark_start_s": spark_start_s,
        "gen.inputs_s": gen_s,
        "gen.seed_state_s": seed_s,
        "ingest.l2_commit_p50_s": med(l2_s),
        "ingest.l1_commit_p50_s": med(l1_s),
        "ingest.fresh_p50_s": med(fresh_s),
        "runner.l2_batch_s": per_kind("l2", "l2"),
        "runner.l1_batch_s": per_kind("l1", "l1"),
        "runner.self_s": med([sp.self_s for sp in tracer.spans if sp.name in ("l2", "l1")]),
        "runner.save_state_s": per_batch(tracer.unit_totals("runner.save_state")),
        "runner.load_state_s": per_batch(tracer.unit_totals("runner.load_state")),
        "processors.apply_l2_s": per_kind("processors.apply_l2", "l2"),
        "processors.apply_l1_s": per_kind("processors.apply_l1", "l1"),
        "merge.calls": per_batch(tracer.unit_counts("merge", "l2") | tracer.unit_counts("merge", "l1")),
        "merge.construct_s": per_batch(tracer.unit_totals("merge")),
        "py4j.calls_per_batch": med([tracer.units[u]["py4j"] for u in batches]),
        "tables.partitions_rewritten": med([p for p, _ in saves]),
        "tables.bytes_rewritten": med([b for _, b in saves]),
        "tables.state_files": common.parquet_files(runner.state_dir),
    }
    ranges = max(len(batches) // 2, 1)
    for fn in L2_FOLDS + L1_FOLDS:
        out[f"processors.{fn}_s"] = tracer.self_s(f"processors.{fn}") / ranges
    for key in common.SPARK_STATS:
        out[f"spark.{key}"] = med([stats[u][key] for u in batches])
    return out
