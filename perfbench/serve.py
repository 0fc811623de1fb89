"""``serve``: an open-loop Poisson stream of endpoint requests.

The seed state is written once through ``DualStreamRunner.save_state``, so
a change to the write layout reaches the reads, then loaded and served by
``build_state_server``. Requests arrive at a fixed rate whatever the
server does; at most ``cpus`` worker threads serve them, and each latency
is timed from the request's due time, so a stall also delays the requests
queued behind it. Ingest stays idle.

Before the window, the same session runs the registry query suite
(``suite.py``), then a closed-loop warm-up on a throwaway server. Within
one process, request latency keeps falling over the first minute of
serving; without both, the window would catch that fall at a different
point in every run.
"""

from __future__ import annotations

import itertools
import json
import math
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from datetime import datetime, timedelta, timezone

import common
import gen
import suite

# requests per second, about a quarter of the closed-loop capacity (7.5/s
# with 4 worker threads on 4 cores) when the benchmark was written; at half
# capacity, Poisson bursts queued requests and the median moved by a third
# between runs
RATE = 2.0
SAMPLE = 24  # responses recomputed directly over the parquet
# seconds of closed-loop requests from every worker thread on a throwaway
# server right before the timed window. The suite warms Spark but not the
# serving path: with a 4 s warm-up the median of the same seed read 331 ms
# in one process and 626 ms in another; with 12-15 s, ten seeds read
# 294-359 ms. Closed-loop throughput was still rising after 40 s of serving
WARMUP_S = 10.0

# (endpoint, weight). An assumption, not a measurement: no traffic log of
# the reference server exists to take a mix from. "Mostly discussion
# pages" is read as 60% for the three discussion sorts, split evenly; the
# other ten endpoints share the remaining 40% evenly.
MIX = (
    ("get_discussions_by_created", 20), ("get_discussions_by_trending", 20),
    ("get_discussions_by_hot", 20), ("get_post", 4), ("get_thread", 4), ("get_feed", 4),
    ("get_discussions_by_blog", 4), ("get_account_history", 4), ("get_following", 4),
    ("get_follow_count", 4), ("get_trending_tags", 4), ("config", 4), ("state", 4),
)
# Zipf exponent of every drawn parameter (token, tag, account, post): the
# textbook s = 1, also an assumption
ZIPF_S = 1.0
PAGES = ("get_discussions_by_created", "get_discussions_by_trending", "get_discussions_by_hot")


def anchor_day() -> datetime:
    """The served pages filter on the wall clock (a 30-day window), so the
    serve state is anchored to the run's UTC day."""
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    return datetime(now.year, now.month, now.day)


def requests(seed: int, st: gen.SeedState, n: int) -> list[tuple[str, dict]]:
    """``n`` requests with Zipf-drawn parameters, so repeated keys hit the
    server's TTL cache on a minority of requests. Each endpoint gets its
    exact share of ``n`` (largest remainder), in seeded order, so seeds
    differ in parameters and order but not in mix. Half the discussion
    pages carry a tag and a third are keyset continuation pages; half the
    history pages name an account."""
    rng = random.Random(seed * 104729 + 7)
    posts = st.tables["posts"]
    mains = [p for p in posts if p[5]]
    recent = mains[-4000:]
    accounts = sorted({p[1] for p in posts})
    z = gen._zipf_index
    total = sum(w for _, w in MIX)
    quota = {e: n * w // total for e, w in MIX}
    by_rem = sorted(MIX, key=lambda ew: -(n * ew[1] % total))
    for e, _ in by_rem[: n - sum(quota.values())]:
        quota[e] += 1
    # the k-th request of an endpoint takes its variant (tag, continuation
    # page, history offset) from k, so seeds share the variant mix too
    order = [(e, k) for e, _ in MIX for k in range(quota[e])]
    rng.shuffle(order)
    out = []
    for ep, k in order:
        token = gen.TOKENS[z(rng, len(gen.TOKENS), ZIPF_S)]
        acct = accounts[z(rng, len(accounts), ZIPF_S)]
        if ep in PAGES:
            p = {"token": token, "limit": 20}
            if k % 2 == 0:
                p["tag"] = gen.TAGS[z(rng, len(gen.TAGS), ZIPF_S)]
            if k % 3 == 1:  # keyset continuation page
                a = recent[rng.randrange(len(recent))]
                p["token"] = a[7]
                p["start_author"], p["start_permlink"] = a[1], a[0][a[0].index("/") + 1:]
        elif ep in ("get_post", "get_thread"):
            a = posts[len(posts) - 1 - z(rng, len(posts), ZIPF_S)]
            key = "account" if ep == "get_post" else "author"
            p = {"token": a[7], key: a[1], "permlink": a[0][a[0].index("/") + 1:]}
        elif ep == "get_account_history":
            p = {"token": token, "limit": 20, "offset": 20 * (k % 5)}
            if k % 2 == 0:
                p["account"] = acct
        elif ep in ("get_feed", "get_discussions_by_blog"):
            p = {"token": token, "account": acct}
        elif ep == "get_following":
            p = {"follower": acct, "limit": 100}
        elif ep == "get_follow_count":
            p = {"account": acct}
        elif ep == "get_trending_tags":
            p = {"token": token}
        elif ep == "config":
            p = {"token": token}
        else:
            p = {}
        out.append((ep, p))
    return out


def arrivals(n: int, seconds: float) -> list[float]:
    """Due times of ``n`` Poisson arrivals, the first at 0 and the last at
    ``seconds``: the exponential distribution's quantiles at the midpoints
    of ``n - 1`` equal strata, as gaps in one fixed shuffled order. Every
    run replays this same arrival trace; the seed picks the requests. With
    a seeded order, how many requests landed in bursts varied from run to
    run, and the latency with it (one seed's requests ran 30% faster than
    the others', nearly all of them alone)."""
    m = n - 1
    gaps = [-math.log(1.0 - (j + 0.5) / m) for j in range(m)]
    random.Random(0).shuffle(gaps)
    due, t = [0.0], 0.0
    for g in gaps:
        t += g
        due.append(t)
    return [d / t * seconds if t else 0.0 for d in due]


def install_spans(tracer, serving, frame_cls, catalyst_ms: list) -> None:
    """Wrap the read path; must run before the server is built, because
    ``build_state_server`` binds the query functions when it runs. Each
    collect's Catalyst time is appended to ``catalyst_ms``."""
    from distribution_engine_smt_spark import queries
    from distribution_engine_smt_spark.queries import accounts, api_edge, discussions, social, thread

    for mod in (queries, accounts, api_edge, discussions, social, thread):
        for fn in dir(mod):
            if (fn.startswith("get_") or fn == "format_discussion_rows") and callable(getattr(mod, fn)):
                if getattr(getattr(mod, fn), "__module__", "").startswith("distribution_engine_smt_spark"):
                    tracer.wrap(mod, fn, "queries.construct")
    tracer.wrap(serving.QueryServer, "handle_json", "serving.handle")

    orig_collect = frame_cls.collect
    lock = threading.Lock()

    def collect(df):
        with tracer.span("serving.collect"):
            rows = orig_collect(df)
        ms = tracer.record_catalyst(df)
        with lock:
            catalyst_ms.append(ms)
        return rows

    tracer._patch(frame_cls, "collect", collect)

    real_json = serving.json

    class TimedJson:
        """serving's json module, with the response body's dumps timed."""

        def __getattr__(self, name):
            return getattr(real_json, name)

        @staticmethod
        def dumps(obj, **kw):
            if kw.get("sort_keys"):  # the cache key, not the body
                return real_json.dumps(obj, **kw)
            with tracer.span("serving.serialize"):
                return real_json.dumps(obj, **kw)

    tracer._patch(serving, "json", TimedJson())


def run(spark, seed: int, seconds: float, run_dir, tracer, spark_start_s: float, cpus: int) -> dict:
    from distribution_engine_smt_spark import serving
    from distribution_engine_smt_spark.streaming import DualStreamRunner

    # -- set-up ----------------------------------------------------------
    t = time.perf_counter()
    st = gen.seed_state(seed, anchor_day())
    n = max(1, int(round(RATE * seconds)))
    reqs = requests(seed, st, n)
    due = arrivals(n, seconds)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    runner = DualStreamRunner(spark, run_dir.sub("state"))
    runner.save_state(common.seed_frames(spark, st, run_dir.sub("seed")))
    seed_s = time.perf_counter() - t

    sres = suite.run(spark, seed, run_dir, tracer)

    # warm the JIT on a throwaway server so the measured cache starts empty;
    # its cache clock jumps a year per read, so no warm-up request is a hit
    state = runner.load_state()
    warm = serving.build_state_server(
        state, cache=serving.TTLCache(clock=itertools.count(0, 86400 * 365).__next__))
    pending = iter(requests(seed + 1, st, 1000))
    warm_lock = threading.Lock()
    t = time.perf_counter()

    def warm_up() -> None:
        while time.perf_counter() - t < WARMUP_S:
            with warm_lock:
                req = next(pending, None)
            if req is None:
                return
            warm.handle_json(*req)

    with ThreadPoolExecutor(max_workers=cpus) as workers:
        for f in [workers.submit(warm_up) for _ in range(cpus)]:
            f.result()
    warmup_s = time.perf_counter() - t

    catalyst_ms: list[float] = []
    if tracer:
        install_spans(tracer, serving, type(state["posts"]), catalyst_ms)
    server = serving.build_state_server(state)

    # -- timed open loop --------------------------------------------------
    latency = [float("inf")] * n
    bodies: list[str | None] = [None] * n
    late = [0.0] * n
    finished = [0.0] * n
    failures = []
    lock = threading.Lock()

    def one(i: int, due_at: float) -> None:
        ep, p = reqs[i]
        try:
            with tracer.unit("request", f"req-{i}") if tracer else nullcontext():
                body = server.handle_json(ep, p)
        except Exception as exc:  # a failed request misses every latency limit
            with lock:
                failures.append(f"{ep} {p}: {exc!r}")
            return
        end = time.perf_counter()
        latency[i], bodies[i], finished[i] = end - due_at, body, end

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=cpus) as pool:
        futures = []
        for i, d in enumerate(due):
            wait = t0 + d - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            late[i] = time.perf_counter() - (t0 + d)
            futures.append(pool.submit(one, i, t0 + d))
        for f in futures:
            f.result()
    window = max(finished) - t0 if any(finished) else float(seconds)
    peak_mb = common.peak_rss_mb()

    # -- checks, outside the timed region -------------------------------
    errors = [f"request failed: {f}" for f in failures[:5]]
    for i, body in enumerate(bodies):
        if body is None:
            continue
        try:
            json.loads(body)
        except ValueError:
            errors.append(f"response {i} does not parse")
    errors += check_sample(seed, reqs, bodies, runner.state_dir)
    errors += [f"suite: {f}" for f in sres["failures"]] + suite.check(sres)

    ok = [x for x in latency if x != float("inf")]
    hit_ratio = server.cache.hits / max(server.cache.hits + server.cache.misses, 1)
    build_s = sum(sres["build_s"].values())
    metrics = {
        "setup_s": spark_start_s + gen_s + seed_s + sres["gen_s"] + build_s,
        "peak_rss_mb": peak_mb,
        "latency_ms": common.trimmed_mean(latency) * 1000.0,
    }
    layers = {}
    if tracer:
        layers = layer_metrics(tracer, reqs, latency, late, runner, spark_start_s, gen_s, seed_s)
        layers.update(suite.layer_metrics(sres, tracer))
        layers["spark.catalyst_ms"] = common.median(catalyst_ms)
        layers["serving.cache_hit_ratio"] = hit_ratio
        layers["serving.warmup_s"] = warmup_s
        layers["loadgen.completed_per_s"] = len(ok) / window
    return {"errors": errors, "attempted": n + sres["attempted"],
            "failed": len(failures) + len(sres["failures"]),
            "metrics": metrics, "layers": layers,
            "detail": {"cache_hit_ratio": hit_ratio,
                       "p90_ms": common.percentile(latency, 0.9) * 1000.0,
                       "late_p50_ms": common.median(late) * 1000.0,
                       "requests": n, "warmup_s": warmup_s,
                       "suite_cold_s": sum(sres["cold"].values()),
                       "suite_warm_s": sum(sres["warm"].values()),
                       "store_build_s": build_s, "corpus_s": sres["gen_s"]}}


def layer_metrics(tracer, reqs, latency, late, runner, spark_start_s, gen_s, seed_s) -> dict:
    med = common.median
    stats = tracer.spark_stats()
    construct = tracer.unit_totals("queries.construct")
    collect = tracer.unit_totals("serving.collect")
    serialize = tracer.unit_totals("serving.serialize")
    # only requests that missed the cache reach Spark; report their medians
    misses = [f"req-{i}" for i in range(len(reqs)) if f"req-{i}" in collect]
    out = {
        "session.spark_start_s": spark_start_s,
        "gen.inputs_s": gen_s,
        "gen.seed_state_s": seed_s,
        "serving.p50_ms": common.percentile(latency, 0.5) * 1000.0,
        "serving.p90_ms": common.percentile(latency, 0.9) * 1000.0,
        "loadgen.late_ms": med(late) * 1000.0,
        "queries.construct_ms": med([construct.get(u, 0.0) for u in misses]) * 1000.0,
        "serving.collect_ms": med([collect[u] for u in misses]) * 1000.0,
        "serving.serialize_ms": med([serialize.get(u, 0.0) for u in misses]) * 1000.0,
        "py4j.calls_per_request": med([tracer.units[u]["py4j"] for u in misses]),
        "tables.state_files": common.parquet_files(runner.state_dir),
    }
    for ep, _ in MIX:
        out[f"serving.{ep}_p50_ms"] = med([latency[i] for i, (e, _) in enumerate(reqs) if e == ep]) * 1000.0
    for key in common.SPARK_STATS:
        out[f"spark.{key}"] = med([stats[u][key] for u in misses])
    return out


# -- direct recomputation ------------------------------------------------
def check_sample(seed: int, reqs, bodies, state_dir: str) -> list[str]:
    """Recompute a seeded sample of responses with DuckDB over the same
    parquet files the server read."""
    import duckdb

    con = duckdb.connect()
    for name in ("posts", "votes", "follows", "account_history", "accounts", "post_metadata"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{state_dir}/{name}/**/*.parquet', hive_partitioning = true)")
    rng = random.Random(seed * 31 + 3)
    checkable = [i for i, (ep, _) in enumerate(reqs)
                 if bodies[i] is not None and ep in RECOMPUTE]
    errors = []
    for i in sorted(rng.sample(checkable, min(SAMPLE, len(checkable)))):
        ep, p = reqs[i]
        got = RECOMPUTE[ep][1](json.loads(bodies[i]))
        want = RECOMPUTE[ep][0](con, p)
        if got != want:
            errors.append(f"{ep} {p}: served {got!r} != recomputed {want!r}")
    con.close()
    return errors


def _page_sql(p: dict, order_col: str) -> tuple[str, list]:
    now = datetime.now(timezone.utc).replace(tzinfo=None)
    where = ["p.token = ?", "p.main_post", "p.created >= ?",
             "NOT coalesce(p.muted, false)", "NOT coalesce(a.muted, false)"]
    args: list = [p["token"], now - timedelta(days=30)]
    if "tag" in p:
        where.append("list_contains(string_split(p.tags, ','), ?)")
        args.append(p["tag"])
    if "start_author" in p:
        ap = f"@{p['start_author']}/{p['start_permlink']}"
        bound = "created" if order_col == "created" else order_col
        fn = "max" if order_col != "created" else "any_value"
        where.append(f"p.{order_col} <= (SELECT {fn}({bound}) FROM posts "
                     f"WHERE token = ? AND authorperm IN (?, ?))")
        args += [p["token"], ap, "h" + ap]
    sql = (f"SELECT p.authorperm FROM posts p LEFT JOIN accounts a "
           f"ON a.name = p.author AND a.symbol = p.token WHERE {' AND '.join(where)} "
           f"ORDER BY p.{order_col} DESC, p.authorperm ASC LIMIT {int(p.get('limit', 20))}")
    return sql, args


def _page(order_col):
    def recompute(con, p):
        sql, args = _page_sql(p, order_col)
        return [r[0] for r in con.execute(sql, args).fetchall()]
    return recompute


def _page_served(rows):
    return [f"@{r['author']}/{r['permlink']}" for r in rows]


def _post(con, p):
    ap = f"@{p['account']}/{p['permlink']}"
    row = con.execute(
        "SELECT p.vote_rshares, (SELECT count(*) FROM votes v WHERE v.token = p.token "
        "AND v.authorperm = p.authorperm AND v.timestamp <= p.cashout_time) "
        "FROM posts p WHERE p.token = ? AND p.authorperm = ?", [p["token"], ap]).fetchone()
    return [] if row is None else [(float(row[0]), int(row[1]))]


def _history(con, p):
    where, args = ["token = ?"], [p["token"]]
    if "account" in p:
        where.append("account = ?")
        args.append(p["account"])
    return [r[0] for r in con.execute(
        f"SELECT id FROM account_history WHERE {' AND '.join(where)} ORDER BY id DESC "
        f"LIMIT {int(p['limit'])} OFFSET {int(p['offset'])}", args).fetchall()]


def _following(con, p):
    return [r[0] for r in con.execute(
        "SELECT following FROM follows WHERE follower = ? AND state = 1 "
        f"ORDER BY following LIMIT {int(p['limit'])}", [p["follower"]]).fetchall()]


def _follow_count(con, p):
    return list(con.execute(
        "SELECT count(*) FILTER (WHERE follower = ?), count(*) FILTER (WHERE following = ?) "
        "FROM follows WHERE state = 1", [p["account"], p["account"]]).fetchone())


RECOMPUTE = {
    "get_discussions_by_created": (_page("created"), _page_served),
    "get_discussions_by_trending": (_page("score_trend"), _page_served),
    "get_discussions_by_hot": (_page("score_hot"), _page_served),
    "get_post": (_post, lambda rows: [(float(r["vote_rshares"]), int(r["vote_count"])) for r in rows]),
    "get_account_history": (_history, lambda rows: [r["id"] for r in rows]),
    "get_following": (_following, lambda rows: [r["following"] for r in rows]),
    "get_follow_count": (_follow_count, lambda row: [row["following_count"], row["follower_count"]]),
}
