"""Synthetic scale probe: measure sec-vs-scale for the slowest queries
(VERDICT r5 "next round" #3 — convert every "scales" claim from
plan-reading to measurement).

No sf1 exists in /root/testdata, so this generates scale-multiplied
corpora under ``<repo>/.scale/`` (gitignored) from sf0.1 and times the
probe queries at 1x / 3x / 10x. A query whose physical plan is linear in
the data should show time ratios ~= the scale ratios (modulo fixed
startup cost); super-linear growth at 10x is exactly the "quadratic
residue" a 100 TB deployment cannot tolerate.

Generation rules (copy i of m, key offset i*100M — referential integrity
preserved, similarity structure NOT inflated):

- ``documents``: every token of copy i>0 gets an ``_c{i}`` suffix, so
  copies share ZERO shingles with each other or the original — near-dup
  pair counts scale exactly m-fold instead of exploding into
  45-pairs-per-doc cliques of verbatim copies (which would measure an
  adversarial duplicate blowup, not engine scaling).
- ``embeddings``: copy i's vectors are cyclically rotated by i
  components — uncorrelated across copies, so cosine-threshold pair
  structure also scales ~m-fold.
- ``orders``/``lineitem``/``customer``/``events``: key-offset copies
  (o_orderkey, l_orderkey, c_custkey/o_custkey, event_id/user_id);
  small dims (region/nation/supplier/part) stay single-copy, exactly
  like a real 10x fact-table growth against stable dimensions.

Output: BENCH_SCALE.json at the repo root + one JSON summary line, with
per-query {scale: {cold, warm}} and the warm 10x/1x ratio. Queries
marked ``quadratic-baseline`` are the documented all-pairs references
(their banded/blocked scale twins are the production path); they probe
only up to 3x.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from distribution_engine_smt_spark import driver_queries
import distribution_engine_smt_spark.pipeline  # noqa: F401
from distribution_engine_smt_spark.session import get_spark
from distribution_engine_smt_spark.tables import load_tpch

BASE = os.environ.get("SPARK_GRAFT_SCALE_BASE", "/root/testdata/sf0.1")
ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale")
OFF = 100_000_000
SCALES = [1, 3, 10]
DIM = 64

# the slowest bench queries (BENCH_DETAIL.json) plus the composed IVF-PQ
# probe, tagged with the scaling their plan claims; "linear" must hold
# at 10x
PROBE = {
    "cross_source_dup_matrix": "linear",
    "dedup_minhash_lsh": "linear",
    "dedup_embedding_lsh": "linear",
    # 2x probe buckets at the ladder width: candidates stay ~flat per
    # probe, so the chain scales like the single-probe one
    "dedup_embedding_lsh_multiprobe": "linear",
    "graph_pagerank": "linear",
    "minhash_decontaminate": "linear",
    "ann_pq_topk": "linear",
    # IVF-PQ reads nprobe/k of the code table; with k ~ sqrt(n) the probed
    # rows grow ~sqrt(n), so "linear" is a loose upper bound here
    "ann_ivfpq_topk": "linear",
    "thread_tree": "linear",
    "trending_tags": "linear",
    "dedup_ngram_jaccard": "quadratic-baseline",
    "dedup_embedding_cosine": "quadratic-baseline",
}
MAX_SCALE_FOR_BASELINE = 3


def _copies(df, m: int, exprs):
    out = None
    for i in range(m):
        c = df.select(*exprs(i))
        out = c if out is None else out.unionByName(c)
    return out


def _perm_embedding(i: int):
    """Copy i's vectors under a deterministic cosine-isometric coordinate
    permutation: rotate by i % DIM, and REVERSE for the second block of
    DIM copies (supports m up to 2*DIM = 128; rotation alone runs out of
    distinct shifts at DIM and slice() rejects a negative tail length —
    the 100x lesson). Permutations preserve norms and within-copy cosine
    structure (pair counts scale exactly m-fold) while cross-copy
    cosines stay uncorrelated, like the original rotation family."""
    if i == 0:
        return F.col("embedding")
    k = i % DIM
    rot = (
        F.col("embedding")
        if k == 0
        else F.concat(
            F.slice("embedding", k + 1, DIM - k), F.slice("embedding", 1, k)
        )
    )
    if (i // DIM) % 2 == 1:
        return F.reverse(rot)
    return rot


def build_scale_dir(spark, m: int) -> str:
    """Materialize the m-fold corpus (idempotent, atomic per table via
    write-then-rename of the whole directory)."""
    path = os.path.join(ROOT, f"x{m}")
    if os.path.isdir(path):
        return path
    t = load_tpch(spark, BASE)
    tmp = path + ".build"
    os.makedirs(tmp, exist_ok=True)

    def off(col, i):
        return (F.col(col) + F.lit(i * OFF)).alias(col)

    gens = {
        "documents": lambda i: [
            off("doc_id", i),
            (
                F.col("text")
                if i == 0
                else F.regexp_replace("text", r"(\S+)", f"$1_c{i}")
            ).alias("text"),
            "lang",
            "source",
            (F.length(F.col("text")) if i == 0 else F.length(
                F.regexp_replace("text", r"(\S+)", f"$1_c{i}")
            )).cast("long").alias("n_chars"),
        ],
        "embeddings": lambda i: [
            off("vec_id", i),
            _perm_embedding(i).alias("embedding"),
            "label",
        ],
        "events": lambda i: [
            off("event_id", i), "ts", off("user_id", i),
            "event_type", "value", "props",
        ],
        "orders": lambda i: [
            off("o_orderkey", i), off("o_custkey", i), "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ],
        "lineitem": lambda i: [
            off("l_orderkey", i), "l_partkey", "l_suppkey", "l_linenumber",
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus", "l_shipdate",
        ],
        "customer": lambda i: [
            off("c_custkey", i), "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment",
        ],
    }
    for name, df in t.items():
        if name in gens:
            out = _copies(df, m, gens[name])
        else:  # stable dimensions: region/nation/supplier/part
            out = df
        out.write.mode("overwrite").parquet(os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, path)
    return path


def _percentiles(vals: list[float]) -> dict:
    s = sorted(vals)
    if not s:
        return {}
    p = lambda q: s[min(len(s) - 1, int(round(q * (len(s) - 1))))]  # noqa: E731
    return {"n": len(s), "p50": p(0.5), "p95": p(0.95), "max": s[-1]}


def _seed_posts_rows(n: int, n_tokens: int = 10):
    """Synthetic posts rows (schemas.POSTS order) spread over n_tokens."""
    from datetime import datetime
    from decimal import Decimal

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    return [
        (
            f"@u{i}/p{i}", f"u{i}", t0, None, None, True, False,
            f"TKN{i % n_tokens}", Decimal(0), None, None, Decimal(0),
            Decimal(0), 0.0, 0.0, 0, Decimal(0), None, None, 0, "", "",
            0.0, False,
        )
        for i in range(n)
    ]


def _vote_tx(block, tx_seq, author, permlink, voter, rshares, token):
    import json as _json

    return {
        "blockNumber": block,
        "timestamp": "2024-01-01T12:00:00",
        "tx_seq": tx_seq,
        "contract": "comments",
        "action": "vote",
        "sender": voter,
        "transactionId": f"t{block}-{tx_seq}",
        "payload": _json.dumps(
            {"author": author, "permlink": permlink, "voter": voter,
             "weight": 10000}
        ),
        "logs": _json.dumps(
            {"events": [{"contract": "comments", "event": "newVote",
                         "data": {"symbol": token, "rshares": str(rshares)}}]}
        ),
    }


def _write_vote_log(path: str, n_blocks: int, votes_per_block: int,
                    post_count: int) -> None:
    """n_blocks json files, each votes_per_block votes against token TKN0
    posts (authorperm ids i % 10 == 0) — the delta always touches ONE of
    the 10 token partitions, whatever the state size."""
    import json as _json

    os.makedirs(path, exist_ok=True)
    for b in range(n_blocks):
        rows = []
        for v in range(votes_per_block):
            i = ((b * votes_per_block + v) * 10) % post_count  # token TKN0
            rows.append(
                _vote_tx(b + 1, v, f"u{i}", f"p{i}", f"v{b}_{v}", 100, "TKN0")
            )
        with open(os.path.join(path, f"b{b + 1}.json"), "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))


def _time_l2_batches(spark, root: str, src: str, post_rows: int):
    """Seed posts state, then hand each block file of ``src`` to the
    runner's L2 batch handler in block order, as perfbench's ingest loop
    does; return the per-batch wall times (ms)."""
    import glob
    import shutil

    from distribution_engine_smt_spark import schemas, tables
    from distribution_engine_smt_spark.streaming import DualStreamRunner

    shutil.rmtree(root, ignore_errors=True)
    runner = DualStreamRunner(spark, root)
    state = {n: tables.empty_table(spark, n) for n in schemas.STATE_TABLES}
    state["posts"] = spark.createDataFrame(
        _seed_posts_rows(post_rows), schemas.POSTS
    )
    runner.save_state(state)
    files = sorted(
        glob.glob(os.path.join(src, "b*.json")),
        key=lambda p: int(os.path.basename(p)[1:-5]),
    )
    durs = []
    for i, path in enumerate(files):
        t0 = time.perf_counter()
        runner.process_l2_batch(spark.read.schema(schemas.TXS_L2).json(path), i)
        durs.append(round((time.perf_counter() - t0) * 1000))
    return durs


def probe_candidates(spark, dirs: dict[int, str]) -> dict:
    """Bucket occupancy + candidates-per-probe at every scale — the
    measurement that proves the params.* width ladders hold (a fixed
    width shows cand_per_probe growing ~linearly with n; the ladder
    should hold it ~flat)."""
    from distribution_engine_smt_spark import driver_queries as _dq

    out: dict[str, dict] = {}
    for m in SCALES:
        _dq._DF_CACHE.clear()
        spark.catalog.clearCache()
        try:
            rows = _dq.QUERIES["index_occupancy_audit"](spark, dirs[m]).collect()
            out[str(m)] = {
                r["structure"]: {
                    "n_items": r["n_items"],
                    "width": r["width"],
                    "max_bucket": r["max_bucket"],
                    "cand_per_probe": r["cand_per_probe"],
                }
                for r in rows
            }
        except Exception as ex:  # noqa: BLE001 — recorded, not fatal
            out[str(m)] = {"error": str(ex)[:120]}
        print(json.dumps({"candidates_scale": m, **out[str(m)]}))
    top = str(max(SCALES))
    for s, stats in out.get(top, {}).items():
        base = out.get("1", {}).get(s)
        if isinstance(stats, dict) and base and "cand_per_probe" in stats:
            stats[f"ratio_{top}x_vs_1x"] = round(
                stats["cand_per_probe"] / max(base["cand_per_probe"], 1e-9), 2
            )
    return out


# Continuous-mode shuffle sizing: the batch-analytics default (32) forces
# 32 state-store tasks per stateful stage per micro-batch — pure overhead
# at per-block delta sizes (measured: p50 3.2 s -> 2.25 s at 8). This is
# the documented "size shuffle.partitions to the data" knob applied to
# the streaming path; a deployment sets it per stream job.
STREAM_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8"))

_STREAM_WARMED = False


def _stream_conf(spark):
    """Context: pin streaming-sized shuffle partitions + one throwaway
    L2 batch so JVM/codegen init isn't billed to the first measured
    batch."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        global _STREAM_WARMED
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_PARTITIONS))
        try:
            if not _STREAM_WARMED:
                wsrc = os.path.join(ROOT, "stream-warmup-txs")
                if not os.path.isdir(wsrc):
                    _write_vote_log(wsrc, n_blocks=1, votes_per_block=10,
                                    post_count=100)
                _time_l2_batches(
                    spark, os.path.join(ROOT, "stream-warmup"), wsrc, 100
                )
                _STREAM_WARMED = True
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    return cm()


def probe_ingest(spark) -> dict:
    """Ingest scaling (VERDICT r6 #4): replay a FIXED vote-tx log through
    the runner's L2 batch handler, one batch per block file, against
    1x/3x/10x posts state. The votes touch one token partition of ten, so
    per-batch cost should track the touched partition (~state/10), NOT
    the full state rewrite — the partition-scoped save_state claim
    (tables.py merge path)."""
    base_posts = 4000
    src = os.path.join(ROOT, "ingest-txs")
    if not os.path.isdir(src):
        _write_vote_log(src, n_blocks=5, votes_per_block=60,
                        post_count=base_posts)
    out: dict[str, dict] = {}
    with _stream_conf(spark):
        for m in SCALES:
            root = os.path.join(ROOT, f"ingest-x{m}")
            durs = _time_l2_batches(spark, root, src, base_posts * m)
            out[str(m)] = {
                "posts_rows": base_posts * m,
                "cores": spark.sparkContext.defaultParallelism,
                "batch_ms": _percentiles(durs),
            }
            print(json.dumps({"ingest_scale": m, **out[str(m)]}))
    return out


def probe_vote_rate(spark) -> dict:
    """L2 batch latency at 1x/10x vote rate: 60 vs 600 votes per block
    through the runner's L2 batch handler against fixed 4k-post state.
    The reference cadence is one block every 3 s (BASELINE.md)."""
    out: dict[str, dict] = {}
    with _stream_conf(spark):
        for rate, vpb in (("1", 60), ("10", 600)):
            src = os.path.join(ROOT, f"stream-txs-r{rate}")
            if not os.path.isdir(src):
                _write_vote_log(src, n_blocks=5, votes_per_block=vpb,
                                post_count=4000)
            root = os.path.join(ROOT, f"stream-votes-r{rate}")
            durs = _time_l2_batches(spark, root, src, 4000)
            key = f"l2_batch_votes_rate_{rate}x"
            out[key] = {
                "votes_per_block": vpb,
                "cores": spark.sparkContext.defaultParallelism,
                "batch_ms": _percentiles(durs),
            }
            print(json.dumps({"stream": f"votes_{rate}x", **out[key]}))
    return out


def probe_streaming(spark) -> dict:
    """Micro-batch latency at 1x/10x OP-RATE (VERDICT r6 #7): the runner's
    L2 vote batches (``probe_vote_rate``), then the incremental pair store
    and the IVF-PQ ingest stream. The reference cadence is one block every
    3 s (BASELINE.md) — p95 per micro-batch must sit comfortably under
    that."""
    out = probe_vote_rate(spark)
    # --- pair store: docs-per-wave 30 (1x) vs 300 (10x) against the
    # sf0.1 corpus index; waves drained one at a time (wall per wave)
    import shutil
    import time as _time

    from pyspark.sql import functions as F  # noqa: F401  (local alias)

    from distribution_engine_smt_spark.pipeline.dedup import (
        minhash_index,
        run_pair_store_stream,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = load_tpch(spark, BASE)["documents"]
    index_bands, index_sh = minhash_index(docs)
    index_bands = index_bands.localCheckpoint(eager=True)
    index_sh = index_sh.localCheckpoint(eager=True)
    corpus_sources = docs.select("doc_id", "source").localCheckpoint(eager=True)
    corpus_rows = (
        docs.select("doc_id", "text", "source").orderBy("doc_id").limit(1000).collect()
    )
    schema = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    ).schema
    for rate, dpw in (("1", 30), ("10", 300)):
        work = os.path.join(ROOT, f"stream-pairs-r{rate}")
        shutil.rmtree(work, ignore_errors=True)
        src = os.path.join(work, "incoming")
        store = os.path.join(work, "store")
        ckpt = os.path.join(work, "ckpt")
        os.makedirs(src, exist_ok=True)
        # all waves present up front; maxFilesPerTrigger=1 makes each its
        # own micro-batch, so progress durations time one ingest wave each
        for w in range(3):
            rows = corpus_rows[dpw * w : dpw * (w + 1)]
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(
                            [r["doc_id"] + 10_000_000 + w * 100_000 for r in rows],
                            pa.int64(),
                        ),
                        "text": pa.array([r["text"] for r in rows], pa.string()),
                        "source": pa.array([r["source"] for r in rows], pa.string()),
                    }
                ),
                os.path.join(src, f"wave{w}.parquet"),
            )
        t0 = _time.perf_counter()
        q = run_pair_store_stream(
            spark, src, schema, index_bands, index_sh,
            corpus_sources, store, ckpt,
        )
        q.awaitTermination(600)
        durs = [
            p["durationMs"]["triggerExecution"]
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        out[f"pair_store_stream_rate_{rate}x"] = {
            "docs_per_wave": dpw,
            "drain_sec": round(_time.perf_counter() - t0, 3),
            "batch_ms": _percentiles(durs),
        }
        print(json.dumps({"stream": f"pairs_{rate}x", **out[f"pair_store_stream_rate_{rate}x"]}))
    # --- IVF-PQ ingest: vectors-per-wave 50 (1x) vs 500 (10x). Each wave
    # routes through the stored quantizer + encodes against the stored
    # codebook (map-only) and writes PQ_S-byte code rows into its own
    # (cid, batch_id) leaves — per-batch cost should track the wave, not
    # the store. Waves land in a COPY of the base store so reruns never
    # read a clone-polluted index.
    from distribution_engine_smt_spark.operators.storage import (
        build_ivfpq_code_store,
        run_ivfpq_ingest_stream,
    )
    from distribution_engine_smt_spark.pipeline.clustering import kmeans_fit
    from distribution_engine_smt_spark.pipeline.similarity import (
        pq_seed_vectors,
    )

    # the base store builds under its OWN root: at this point the env var
    # was popped (store-build section), so building here would otherwise
    # land in the repo's LIVE .stores — the probe must never mutate the
    # bench's store family
    prev_root = os.environ.get("SPARK_GRAFT_STORE_DIR")
    os.environ["SPARK_GRAFT_STORE_DIR"] = os.path.join(ROOT, "stream-stores")
    try:
        base_store = build_ivfpq_code_store(spark, BASE)
        _, cents = kmeans_fit(spark, BASE)
        seeds = pq_seed_vectors(spark, BASE)
    finally:
        if prev_root is None:
            os.environ.pop("SPARK_GRAFT_STORE_DIR", None)
        else:
            os.environ["SPARK_GRAFT_STORE_DIR"] = prev_root
    emb_rows = (
        load_tpch(spark, BASE)["embeddings"].orderBy("vec_id").limit(500).collect()
    )
    vschema = "vec_id long, embedding array<float>"
    for rate, vpw in (("1", 50), ("10", 500)):
        work = os.path.join(ROOT, f"stream-ivfpq-r{rate}")
        shutil.rmtree(work, ignore_errors=True)
        store = os.path.join(work, "store")
        shutil.copytree(base_store, store)
        src = os.path.join(work, "incoming")
        ckpt = os.path.join(work, "ckpt")
        os.makedirs(src, exist_ok=True)
        for w in range(3):
            rows = [emb_rows[i % len(emb_rows)] for i in range(vpw)]
            pq.write_table(
                pa.table(
                    {
                        "vec_id": pa.array(
                            [20_000_000 + w * 100_000 + i for i in range(vpw)],
                            pa.int64(),
                        ),
                        "embedding": pa.array(
                            [[float(x) for x in r["embedding"]] for r in rows],
                            pa.list_(pa.float32()),
                        ),
                    }
                ),
                os.path.join(src, f"wave{w}.parquet"),
            )
        t0 = _time.perf_counter()
        q = run_ivfpq_ingest_stream(
            spark, src, vschema, store, cents, seeds, ckpt,
            max_files_per_trigger=1,
        )
        q.awaitTermination(600)
        durs = [
            p["durationMs"]["triggerExecution"]
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        out[f"ivfpq_ingest_stream_rate_{rate}x"] = {
            "vectors_per_wave": vpw,
            "drain_sec": round(_time.perf_counter() - t0, 3),
            "batch_ms": _percentiles(durs),
        }
        print(json.dumps({"stream": f"ivfpq_{rate}x", **out[f"ivfpq_ingest_stream_rate_{rate}x"]}))
    return out


def probe_rung_crossing(spark) -> dict:
    """Measure a width-ladder rung crossing ABOVE the r7 ceilings
    (VERDICT r7 #1 'done' bar): a ~135x synthetic embedding corpus
    (270k vectors -> ladder width 13 bits, one past the old
    RHP_MAX_BITS=12 cap) is banded at the OLD ceiling width, then
    width-migrated 12 -> 13 via the delta-plane refinement, and
    candidates-per-probe is read at both widths. The ladder claim being
    proven: at the capped width candidates-per-probe grows linearly in n
    (here ~2x the target occupancy), and one rung crossing — costing ONE
    extra plane fold per vector-table, not a re-band — restores it to
    the flat band every smaller corpus sits in."""
    import shutil

    from distribution_engine_smt_spark import driver_queries as _dq
    from distribution_engine_smt_spark.operators import storage as _st
    from distribution_engine_smt_spark.pipeline.params import (
        RHP_TARGET_BUCKET,
        rhp_bits_for,
    )
    from distribution_engine_smt_spark.tables import TPCH_TABLES

    M = 135  # 135 x 2000 = 270k vectors: rhp_bits_for -> 13 (> r7 cap 12)
    d = os.path.join(ROOT, "rhp_cross")
    emb_path = os.path.join(d, "embeddings.parquet")
    if not os.path.isdir(emb_path):
        os.makedirs(d, exist_ok=True)
        base_emb = load_tpch(spark, BASE)["embeddings"]
        copies = spark.range(M).withColumnRenamed("id", "cp")
        # copy cp: cyclic rotation by cp % 64 AND a cp-dependent sign-flip
        # mask ((cp * (j+7)) % 5 < 2) — rotations repeat past cp=64, the
        # mask decorrelates them (equal transforms need cp ≡ cp' mod 320)
        rot = F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda j: F.try_element_at(
                F.col("embedding"),
                ((j + F.col("cp")) % DIM + 1).cast("int"),
            ).cast("double")
            * F.when((F.col("cp") * (j + 7)) % 5 < 2, F.lit(-1.0)).otherwise(
                F.lit(1.0)
            ),
        )
        synth = base_emb.crossJoin(copies).select(
            (F.col("vec_id") + F.col("cp") * OFF).alias("vec_id"),
            rot.cast("array<float>").alias("embedding"),
            "label",
        )
        tmp = emb_path + ".build"
        synth.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, emb_path)
        for t in TPCH_TABLES:
            dst = os.path.join(d, f"{t}.parquet")
            if t != "embeddings" and not os.path.exists(dst):
                os.symlink(os.path.join(BASE, f"{t}.parquet"), dst)
    n = spark.read.parquet(emb_path).count()
    out: dict = {
        "n_vectors": n,
        "ladder_bits": rhp_bits_for(n),
        "r7_cap_bits": 12,
        "target_occupancy": RHP_TARGET_BUCKET,
    }
    root = os.path.join(ROOT, "stores-cross")
    shutil.rmtree(root, ignore_errors=True)
    prev = os.environ.get("SPARK_GRAFT_STORE_DIR")
    os.environ["SPARK_GRAFT_STORE_DIR"] = root
    _dq._DF_CACHE.clear()
    spark.catalog.clearCache()

    def cpp(bits):
        bands = _st.read_rhp_bands(spark, d, bits)
        sz = bands.groupBy("tbl", "bucket").agg(F.count("*").alias("sz"))
        row = sz.agg(
            F.sum(F.col("sz") * F.col("sz")).alias("s2"),
            F.count("*").alias("nb"),
            F.max("sz").alias("mx"),
        ).first()
        return {
            "cand_per_probe": round(row["s2"] / n, 2),
            "n_buckets": row["nb"],
            "max_bucket": row["mx"],
        }

    t0 = time.perf_counter()
    p12 = _st.build_rhp_band_store(spark, d, bits=12)
    out["build_at_12_sec"] = round(time.perf_counter() - t0, 2)
    out["at_12_bits"] = cpp(12)
    t0 = time.perf_counter()
    p13 = _st.migrate_rhp_band_store(spark, d, p12, 13)
    out["migrate_12_to_13_sec"] = round(time.perf_counter() - t0, 2)
    out["at_13_bits"] = cpp(13)
    out["cand_ratio_13_vs_12"] = round(
        out["at_13_bits"]["cand_per_probe"]
        / max(out["at_12_bits"]["cand_per_probe"], 1e-9),
        3,
    )
    if prev is None:
        os.environ.pop("SPARK_GRAFT_STORE_DIR", None)
    else:
        os.environ["SPARK_GRAFT_STORE_DIR"] = prev
    print(json.dumps({"rung_crossing": out}))
    return out


def probe_ivf_sharded_crossing(spark, sf_dir: str | None = None) -> dict:
    """The IVF analog of probe_rung_crossing (VERDICT r8 #6): when the
    corpus outgrows the flat coarse quantizer's top rung, cell occupancy
    — candidates-per-probe — goes LINEAR in n at the capped width; the
    sharded two-level router (ann_ivf_sharded_topk's IVF-on-IVF) restores
    it. Here the 'old ceiling' is an artificial k1 = 8 on the sf0.1
    corpus (the same capped-width trick the RHP crossing uses: the
    phenomenon is the cap, not the absolute rung), whose ladder width is
    4x wider. Level 2 re-runs the shared Lloyd contract INSIDE each
    level-1 cell at the width the ladder picks for the CELL size, and
    the measured candidate shrinkage must match the occupancy-weighted
    ladder prediction sum(c_i^2 / k2_i) / sum(c_i^2).

    Candidates-per-probe = sum(cell^2)/n (the expected scanned rows for
    a uniformly drawn probe vector), the same statistic the RHP
    crossing and the occupancy audits report."""
    from distribution_engine_smt_spark.pipeline.clustering import (
        _lloyd_fit_frame,
        kmeans_fit,
    )
    from distribution_engine_smt_spark.pipeline.params import ivf_cells_for

    CAP = 8
    sf_dir = sf_dir or BASE
    emb = load_tpch(spark, sf_dir)["embeddings"]
    n = emb.count()
    asg1, _cents1 = kmeans_fit(spark, sf_dir, k=CAP)
    asg1 = asg1.persist()
    sizes = {
        r["cid"]: r["n"]
        for r in asg1.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    flat_capped = round(sum(c * c for c in sizes.values()) / n, 2)

    total_s2 = 0.0
    k2s = {}
    for cid, csize in sorted(sizes.items()):
        cell = emb.join(asg1.filter(F.col("cid") == cid), "vec_id").select(
            "vec_id", "embedding"
        )
        k2 = ivf_cells_for(csize)
        k2s[cid] = k2
        seeds2 = [
            [float(x) for x in r["embedding"]]
            for r in cell.orderBy("vec_id").limit(k2).collect()
        ]
        asg2, _ = _lloyd_fit_frame(cell, seeds2)
        row = (
            asg2.groupBy("cid")
            .agg(F.count("*").alias("sz"))
            .agg(F.sum(F.col("sz") * F.col("sz")).alias("s2"))
            .first()
        )
        total_s2 += row["s2"]
    asg1.unpersist()
    sharded = round(total_s2 / n, 2)
    predicted = round(
        sum(c * c / k2s[cid] for cid, c in sizes.items())
        / sum(c * c for c in sizes.values()),
        3,
    )
    out = {
        "n_vectors": n,
        "ladder_cells": ivf_cells_for(n),
        "capped_k1": CAP,
        "level2_widths": {str(c): k for c, k in sorted(k2s.items())},
        "flat_capped_cand_per_probe": flat_capped,
        "sharded_cand_per_probe": sharded,
        "cand_ratio_sharded_vs_flat": round(sharded / max(flat_capped, 1e-9), 3),
        "ladder_predicted_ratio": predicted,
    }
    print(json.dumps({"ivf_sharded_crossing": out}))
    return out


def probe_adaptive_skew(spark) -> dict:
    """Occupancy-skew mitigation, measured (r9 continuation) in BOTH
    skew regimes the clustered fixtures price:

    - ``width_mismatch``: the balanced fixture probed at k1 = 16 (2x its
      component count — clustered_ivf_occupancy_audit's max/avg 1.586);
    - ``mass_imbalance``: the halving-ladder fixture at the MATCHED
      width k1 = 8 (clustered_mass_occupancy_audit's max/avg 3.988 —
      the realistic dominant-category regime).

    Per regime: flat vs adaptive candidates-per-probe from the store's
    own build accounting, the leaf-count bill vs the everything-split
    (full sharded) layout, and the probe's warm latency — the numbers
    the 100 TB skew budget needs."""
    import shutil

    from distribution_engine_smt_spark.operators import storage as _st
    from distribution_engine_smt_spark.pipeline.clustered import (
        CF_C,
        CF_KSPLIT,
        cf_point,
        clustered_fixture_frame,
        clustered_mass_fixture_frame,
        cm_point,
    )
    from distribution_engine_smt_spark.pipeline.params import ivf_cells_for
    from distribution_engine_smt_spark.tables import TPCH_TABLES

    def regime(label: str, frame_fn, k1: int, q_vec) -> dict:
        corpus = os.path.join(ROOT, f"skewed-corpus-{label}")
        shutil.rmtree(corpus, ignore_errors=True)
        os.makedirs(corpus)
        (
            frame_fn(spark, BASE)
            .select(
                "vec_id",
                F.col("embedding").cast("array<float>").alias("embedding"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(corpus, "embeddings.parquet"))
        )
        for name in TPCH_TABLES:
            if name != "embeddings":
                dst = os.path.join(corpus, f"{name}.parquet")
                if not os.path.exists(dst):
                    os.symlink(os.path.join(BASE, f"{name}.parquet"), dst)
        root = os.path.join(ROOT, f"stores-adaptive-{label}")
        shutil.rmtree(root, ignore_errors=True)
        # save/restore like the other probes (see the pair-store and
        # ingest probes): an exception mid-regime must not leak the
        # override into later probes or clobber a user-configured root
        prev = os.environ.get("SPARK_GRAFT_STORE_DIR")
        os.environ["SPARK_GRAFT_STORE_DIR"] = root
        try:
            t0 = time.perf_counter()
            path = _st.build_adaptive_ivf_store(spark, corpus, k1=k1)
            build_sec = round(time.perf_counter() - t0, 4)
            meta = _st.load_adaptive_ivf_meta(corpus, k1)
            leaves = (
                spark.read.parquet(path)
                .select("cid1", "cid2")
                .distinct()
                .count()
            )
            full_leaves = sum(
                ivf_cells_for(sz) for sz in meta["sizes"].values()
            )
            _st.probe_adaptive_ivf(spark, corpus, q_vec, k1=k1).collect()
            t0 = time.perf_counter()
            _st.probe_adaptive_ivf(spark, corpus, q_vec, k1=k1).collect()
            probe_warm = round(time.perf_counter() - t0, 4)
        finally:
            if prev is None:
                os.environ.pop("SPARK_GRAFT_STORE_DIR", None)
            else:
                os.environ["SPARK_GRAFT_STORE_DIR"] = prev
        return {
            "k1": k1,
            "n_hot_cells": len(meta["hot_cells"]),
            "hot_factor": meta["hot_factor"],
            "max_cell": max(meta["sizes"].values()),
            "cand_per_probe_flat": meta["cand_per_probe_flat"],
            "cand_per_probe_adaptive": meta["cand_per_probe_adaptive"],
            "n_leaves_adaptive": leaves,
            "n_leaves_full_shard": full_leaves,
            "build_sec": build_sec,
            "probe_warm_sec": probe_warm,
        }

    out = {
        "width_mismatch": regime(
            "wm", clustered_fixture_frame, CF_KSPLIT, cf_point(0)
        ),
        "mass_imbalance": regime(
            "mi", clustered_mass_fixture_frame, CF_C, cm_point(0)
        ),
    }
    print(json.dumps({"adaptive_skew_mitigation": out}))
    return out


def main() -> None:
    spark = get_spark("desmt-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # every scale must take the same code path for its ratio to mean
    # anything: point the store root at a never-populated directory so
    # scale-1 cannot silently read the repo's sf0.1 stores (bench builds
    # them) while 3x/10x derive from scratch
    os.environ["SPARK_GRAFT_STORE_DIR"] = os.path.join(ROOT, "no-stores")
    dirs = {1: BASE}
    for m in SCALES:
        if m != 1:
            dirs[m] = build_scale_dir(spark, m)
    # warm the JVM once so scale-1's first query doesn't bill startup
    driver_queries.QUERIES["trending_tags"](spark, BASE).count()
    spark.catalog.clearCache()

    results: dict[str, dict] = {}
    for name, kind in PROBE.items():
        fn = driver_queries.QUERIES[name]
        per_scale = {}
        for m in SCALES:
            if kind == "quadratic-baseline" and m > MAX_SCALE_FOR_BASELINE:
                continue
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                n = fn(spark, dirs[m]).count()
                runs.append(round(time.perf_counter() - t0, 4))
            per_scale[str(m)] = {"cold": runs[0], "warm": runs[1], "rows": n}
            spark.catalog.clearCache()
        top = str(max(int(s) for s in per_scale))
        ratio = round(per_scale[top]["warm"] / max(per_scale["1"]["warm"], 1e-9), 2)
        results[name] = {
            "expected": kind,
            "scales": per_scale,
            f"warm_ratio_{top}x_vs_1x": ratio,
        }
        print(json.dumps({"probe": name, **results[name]}))

    # ---- width-ladder occupancy: candidates-per-probe must stay ~flat
    # (still under the no-stores root so every scale derives identically)
    candidates = probe_candidates(spark, dirs)

    # ---- store-build scaling: the ingest-side half of the scale story.
    # Each scale gets its own scoped store root; the memoized plans are
    # dropped first so the builds compose store-aware exactly like a fresh
    # index-build session (signatures land first, the pair build reads
    # them). The k-means fit can legitimately fail on a perturbed corpus
    # (empty cluster -> reseed required); that is recorded, not fatal.
    from distribution_engine_smt_spark import driver_queries as _dq
    from distribution_engine_smt_spark.operators import storage as _st

    import shutil

    store_builds: dict[str, dict] = {}
    for m in SCALES:
        root = os.path.join(ROOT, f"stores-x{m}")
        shutil.rmtree(root, ignore_errors=True)  # re-runs measure real builds
        os.environ["SPARK_GRAFT_STORE_DIR"] = root
        _dq._DF_CACHE.clear()
        spark.catalog.clearCache()
        per = {}
        for label, builder in [
            ("signatures", _st.build_minhash_signature_store),
            ("postings", _st.build_shingle_postings_store),
            ("pairs", _st.build_dedup_pair_store),
            ("clusters", _st.build_dedup_cluster_store),
            ("kmeans", _st.build_kmeans_fit_store),
            ("rhp_bands", _st.build_rhp_band_store),
            ("pq_codes", _st.build_pq_code_store),
        ]:
            t0 = time.perf_counter()
            try:
                builder(spark, dirs[m])
                per[label] = round(time.perf_counter() - t0, 4)
            except Exception as ex:  # noqa: BLE001 — recorded, not fatal
                per[label] = f"error: {str(ex)[:80]}"
        store_builds[str(m)] = per
        log_total = sum(v for v in per.values() if isinstance(v, float))
        print(json.dumps({"store_build_scale": m, "sec": round(log_total, 2), **per}))
    os.environ.pop("SPARK_GRAFT_STORE_DIR", None)

    # ---- multi-probe recall-vs-cost curve (VERDICT r7 #3): at every
    # scale, pair recall and warm latency of the single-probe and the
    # T=4 multi-probe chains over the SAME stored-width band table —
    # what the extra probes buy, and what they cost, as n grows
    multiprobe_curve: dict[str, dict] = {}
    for m in SCALES:
        _dq = driver_queries
        _dq._DF_CACHE.clear()
        spark.catalog.clearCache()
        per = {}
        for label, qname in [
            ("single_probe", "embedding_lsh_recall_audit"),
            ("multi_probe_t4", "embedding_lsh_multiprobe_recall_audit"),
        ]:
            fn = driver_queries.QUERIES[qname]
            t0 = time.perf_counter()
            row = fn(spark, dirs[m]).collect()[0]
            cold = round(time.perf_counter() - t0, 4)
            t0 = time.perf_counter()
            fn(spark, dirs[m]).collect()
            per[label] = {
                "recall": row["recall"],
                "n_baseline": row["n_baseline"],
                "cold": cold,
                "warm": round(time.perf_counter() - t0, 4),
            }
        multiprobe_curve[str(m)] = per
        print(json.dumps({"multiprobe_curve": m, **per}))

    # ---- rung crossing ABOVE the r7 ladder ceilings (VERDICT r7 #1)
    rung_crossing = probe_rung_crossing(spark)

    # ---- the IVF crossing twin: two-level routing past a capped flat
    # rung (VERDICT r8 #6) — measured at the LARGEST scale so the capped
    # rung is genuinely 4x under the ladder width
    ivf_sharded_crossing = probe_ivf_sharded_crossing(
        spark, dirs[max(SCALES)]
    )

    # ---- occupancy-skew mitigation: adaptive hot-cell splitting
    adaptive_skew = probe_adaptive_skew(spark)

    # ---- ingest + streaming latency (VERDICT r6 #4/#7)
    ingest = probe_ingest(spark)
    streaming = probe_streaming(spark)

    report = {
        "metric": "scale_probe",
        "base_sf_dir": BASE,
        "scales": SCALES,
        "key_offset": OFF,
        "queries": results,
        "candidates_per_probe": candidates,
        "multiprobe_curve": multiprobe_curve,
        "rung_crossing": rung_crossing,
        "ivf_sharded_crossing": ivf_sharded_crossing,
        "adaptive_skew_mitigation": adaptive_skew,
        "store_builds": store_builds,
        "ingest": ingest,
        "streaming": streaming,
    }
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"),
        "w",
    ) as f:
        json.dump(report, f, indent=1)
    worst = max(
        (
            (v[[k for k in v if k.startswith("warm_ratio")][0]] / int(
                [k for k in v if k.startswith("warm_ratio")][0].split("_")[2][:-1]
            ), n)
            for n, v in results.items()
            if v["expected"] == "linear"
        ),
        default=(0, None),
    )
    print(
        json.dumps(
            {
                "metric": "scale_probe_summary",
                "n_queries": len(results),
                "worst_linear_normalized_ratio": round(worst[0], 2),
                "worst_linear_query": worst[1],
            }
        )
    )
    spark.stop()




def main_flagship(mult: int = 30) -> None:
    """VERDICT r9 #3: one measured point PAST 10x for the flagship
    family — dedup_minhash_lsh, dedup_embedding_lsh (T=4 multiprobe),
    ann_ivfpq_topk, the occupancy audit's cand-per-probe columns, and
    the adaptive-store probe — at ``mult``x of sf0.1 (~18 M rows across
    tables at 30x). 30x is where the ladders genuinely CROSS rungs
    (minhash (8,4,2)->(24,8,3), rhp 5->10 bits, ivf 8->32 cells), so
    each rung gets a crossed-or-held verdict with the measured
    cand-per-probe next to it. Results merge into BENCH_SCALE.json
    under ``flagship_30x`` (existing sections untouched)."""
    import shutil

    from distribution_engine_smt_spark import driver_queries as _dq
    from distribution_engine_smt_spark.operators import storage as _st
    from distribution_engine_smt_spark.pipeline.params import (
        ivf_cells_for,
        minhash_widths_for,
        rhp_bits_for,
    )
    from distribution_engine_smt_spark.session import release_caches
    from distribution_engine_smt_spark.tables import load_tpch

    spark = get_spark("desmt-scale-flagship")
    spark.sparkContext.setLogLevel("ERROR")
    prev = os.environ.get("SPARK_GRAFT_STORE_DIR")
    os.environ["SPARK_GRAFT_STORE_DIR"] = os.path.join(
        ROOT, "no-stores-flagship"
    )
    try:
        dirs = {1: BASE, mult: build_scale_dir(spark, mult)}
        driver_queries.QUERIES["trending_tags"](spark, BASE).count()  # warm JVM
        release_caches(spark)

        queries: dict[str, dict] = {}
        for name in ("dedup_minhash_lsh", "dedup_embedding_lsh", "ann_ivfpq_topk"):
            fn = driver_queries.QUERIES[name]
            per = {}
            for m in (1, mult):
                runs = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    n = fn(spark, dirs[m]).count()
                    runs.append(round(time.perf_counter() - t0, 4))
                per[str(m)] = {"cold": runs[0], "warm": runs[1], "rows": n}
                release_caches(spark)
            ratio = round(
                per[str(mult)]["warm"] / max(per["1"]["warm"], 1e-9), 2
            )
            queries[name] = {"scales": per, f"warm_ratio_{mult}x_vs_1x": ratio}
            print(json.dumps({"flagship": name, **queries[name]}))

        # cand-per-probe columns at 1x and multx (ladder flatness proof)
        cands: dict[str, dict] = {}
        for m in (1, mult):
            release_caches(spark)
            rows = _dq.QUERIES["index_occupancy_audit"](spark, dirs[m]).collect()
            cands[str(m)] = {
                r["structure"]: {
                    "n_items": r["n_items"],
                    "width": r["width"],
                    "cand_per_probe": r["cand_per_probe"],
                }
                for r in rows
            }
            print(json.dumps({"flagship_candidates": m, **cands[str(m)]}))
        for s, stats in cands[str(mult)].items():
            base = cands["1"].get(s)
            if base:
                stats[f"ratio_{mult}x_vs_1x"] = round(
                    stats["cand_per_probe"] / max(base["cand_per_probe"], 1e-9),
                    2,
                )

        # adaptive store: build at the ladder width on each corpus, probe
        adaptive: dict[str, dict] = {}
        for m in (1, mult):
            root = os.path.join(ROOT, f"stores-flagship-x{m}")
            shutil.rmtree(root, ignore_errors=True)
            os.environ["SPARK_GRAFT_STORE_DIR"] = root
            release_caches(spark)
            n = load_tpch(spark, dirs[m])["embeddings"].count()
            k1 = ivf_cells_for(n)
            q_vec = [
                float(x)
                for x in load_tpch(spark, dirs[m])["embeddings"]
                .where("vec_id = 0")
                .first()["embedding"]
            ]
            t0 = time.perf_counter()
            _st.build_adaptive_ivf_store(spark, dirs[m], k1=k1)
            build_sec = round(time.perf_counter() - t0, 4)
            meta = _st.load_adaptive_ivf_meta(dirs[m], k1)
            _st.probe_adaptive_ivf(spark, dirs[m], q_vec, k1=k1).collect()
            t0 = time.perf_counter()
            _st.probe_adaptive_ivf(spark, dirs[m], q_vec, k1=k1).collect()
            adaptive[str(m)] = {
                "k1": k1,
                "n": n,
                "n_hot_cells": len(meta["hot_cells"]),
                "cand_per_probe_flat": meta["cand_per_probe_flat"],
                "cand_per_probe_adaptive": meta["cand_per_probe_adaptive"],
                "build_sec": build_sec,
                "probe_warm_sec": round(time.perf_counter() - t0, 4),
            }
            print(json.dumps({"flagship_adaptive": m, **adaptive[str(m)]}))
        os.environ["SPARK_GRAFT_STORE_DIR"] = os.path.join(
            ROOT, "no-stores-flagship"
        )

        # skewed regime (VERDICT r10 #3): the driver corpus is
        # near-uniform, so the adaptive machinery above never fires
        # (n_hot_cells = 0 — itself a finding, kept). Feed it the
        # mass-imbalance halving ladder grown to mult x CF_N rows (the
        # trailing-zeros component map is scale-free, so category
        # proportions hold with fresh per-row noise) at the MATCHED
        # width k1 = CF_C — real corpora skew by category mass, and a
        # perfectly-sized index still goes hot. This is where the
        # split actually fires at scale and the flat-vs-adaptive
        # cand/probe gap gets a measured >= mult x point.
        from distribution_engine_smt_spark.pipeline.clustered import (
            CF_C,
            CF_N,
            clustered_mass_corpus_frame,
            cm_point,
        )
        from distribution_engine_smt_spark.tables import TPCH_TABLES

        adaptive_skewed: dict[str, dict] = {}
        q_vec = cm_point(0)
        for m in (1, mult):
            corpus = os.path.join(ROOT, f"skewed-flagship-x{m}")
            shutil.rmtree(corpus, ignore_errors=True)
            os.makedirs(corpus)
            (
                clustered_mass_corpus_frame(spark, m * CF_N)
                .select(
                    "vec_id",
                    F.col("embedding").cast("array<float>").alias("embedding"),
                )
                .coalesce(max(1, m // 4))
                .write.mode("overwrite")
                .parquet(os.path.join(corpus, "embeddings.parquet"))
            )
            for name in TPCH_TABLES:
                if name != "embeddings":
                    dst = os.path.join(corpus, f"{name}.parquet")
                    if not os.path.exists(dst):
                        os.symlink(
                            os.path.join(BASE, f"{name}.parquet"), dst
                        )
            root = os.path.join(ROOT, f"stores-flagship-skewed-x{m}")
            shutil.rmtree(root, ignore_errors=True)
            os.environ["SPARK_GRAFT_STORE_DIR"] = root
            release_caches(spark)
            t0 = time.perf_counter()
            _st.build_adaptive_ivf_store(spark, corpus, k1=CF_C)
            build_sec = round(time.perf_counter() - t0, 4)
            meta = _st.load_adaptive_ivf_meta(corpus, CF_C)
            _st.probe_adaptive_ivf(spark, corpus, q_vec, k1=CF_C).collect()
            t0 = time.perf_counter()
            _st.probe_adaptive_ivf(spark, corpus, q_vec, k1=CF_C).collect()
            flat = meta["cand_per_probe_flat"]
            adp = meta["cand_per_probe_adaptive"]
            adaptive_skewed[str(m)] = {
                "k1": CF_C,
                "n": m * CF_N,
                "n_hot_cells": len(meta["hot_cells"]),
                "cand_per_probe_flat": flat,
                "cand_per_probe_adaptive": adp,
                "mitigation_ratio": round(flat / max(adp, 1e-9), 2),
                "build_sec": build_sec,
                "probe_warm_sec": round(time.perf_counter() - t0, 4),
            }
            print(
                json.dumps(
                    {"flagship_adaptive_skewed": m, **adaptive_skewed[str(m)]}
                )
            )
        os.environ["SPARK_GRAFT_STORE_DIR"] = os.path.join(
            ROOT, "no-stores-flagship"
        )

        # rung verdicts: did each ladder cross a rung between 1x and multx,
        # and did the economics hold (cand-per-probe ~flat / probe bounded)?
        n1 = load_tpch(spark, dirs[1])["embeddings"].count()
        d1 = load_tpch(spark, dirs[1])["documents"].count()
        nm, dm = n1 * mult, d1 * mult
        rungs = {
            "minhash": {
                "1": list(minhash_widths_for(d1)),
                str(mult): list(minhash_widths_for(dm)),
            },
            "rhp_bits": {"1": rhp_bits_for(n1), str(mult): rhp_bits_for(nm)},
            "ivf_cells": {"1": ivf_cells_for(n1), str(mult): ivf_cells_for(nm)},
        }
        for name, r in rungs.items():
            r["verdict"] = (
                "crossed" if r["1"] != r[str(mult)] else "held"
            )
        report_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
        )
        with open(report_path) as f:
            report = json.load(f)
        report[f"flagship_{mult}x"] = {
            "queries": queries,
            "candidates_per_probe": cands,
            "adaptive_store": adaptive,
            "adaptive_store_skewed": adaptive_skewed,
            "ladder_rungs": rungs,
        }
        with open(report_path, "w") as f:
            json.dump(report, f, indent=1)
        print(json.dumps({"flagship_done": mult, "rungs": rungs}))
    finally:
        if prev is None:
            os.environ.pop("SPARK_GRAFT_STORE_DIR", None)
        else:
            os.environ["SPARK_GRAFT_STORE_DIR"] = prev


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--flagship":
        main_flagship(int(sys.argv[2]))
    else:
        main()
