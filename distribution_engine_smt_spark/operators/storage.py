"""Physical-layout maintenance for parquet state tables: small-file
compaction and range-sorted writes with data-skipping.

At 100 TB the two silent killers of scan throughput are (a) the small-file
problem — every micro-batch merge writes a few files per partition, and a
year of batches turns a 10 GB partition into 50k x 200 KB files whose open
costs dwarf the reads — and (b) unsorted row groups, which force every
query to read every row group because min/max footers span the whole key
domain. The reference never hits either because it is a row-store behind
Postgres (reference: engine/db_storage.py — the LSM/heap layout is the
database's problem); a lakehouse engine must do its own maintenance.

``compact_table``: bin-pack an existing parquet directory into
``ceil(bytes / target_bytes)`` files via a shuffle-free ``coalesce`` —
compaction must not pay a shuffle, it is pure IO — then atomically swap
(write to sibling tmp dir, rename over). Partitioned directories compact
each leaf partition independently, so the operation parallelizes across a
cluster and a failed swap affects one partition.

``write_range_sorted`` / ``pruned_scan_stats``: global range layout —
``repartitionByRange`` + ``sortWithinPartitions`` — gives every output
file a disjoint key span, so any key-range predicate prunes to the few
row groups whose footer min/max intersects it. ``pruned_scan_stats``
proves the skipping from the parquet footers themselves (via pyarrow):
the fraction of row groups a range predicate must read, which is what a
1000-executor scan's IO bill is proportional to.
"""

from __future__ import annotations

import functools
import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # cluster default; tests use ~KBs


def _dlit(vals):
    """Constant array<double> Column in one py4j round-trip (see
    pipeline.similarity.dlit_array; lazy import keeps this module free of
    pipeline imports at load time)."""
    from ..pipeline.similarity import dlit_array

    return dlit_array(vals)


def _leaf_dirs(path: str) -> list[str]:
    """Leaf directories of a (possibly hive-partitioned) parquet tree."""
    leaves: list[str] = []
    for dirpath, dirnames, filenames in os.walk(path):
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    return leaves


def _dir_parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def compact_table(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> dict[str, tuple[int, int]]:
    """Compact every leaf partition of ``path`` to ~``target_bytes`` files.

    Returns {leaf_dir: (files_before, files_after)}. Shuffle-free: each
    leaf is read and ``coalesce(n)``-ed (narrow dependency — input splits
    are concatenated, never redistributed), written to a tmp sibling, then
    swapped in. Data-identical by construction; the swap is
    rename-per-leaf so a crash leaves each partition either old or new,
    never mixed (same staged-rename discipline as the checkpoint sink,
    streaming/runner.py).
    """
    report: dict[str, tuple[int, int]] = {}
    for leaf in _leaf_dirs(path):
        files_before = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        total = _dir_parquet_bytes(leaf)
        n_out = max(1, math.ceil(total / target_bytes))
        if len(files_before) <= n_out:
            report[leaf] = (len(files_before), len(files_before))
            continue
        tmp = f"{leaf}__compact_{uuid.uuid4().hex[:8]}"
        spark.read.parquet(leaf).coalesce(n_out).write.mode("overwrite").parquet(tmp)
        old = f"{leaf}__old_{uuid.uuid4().hex[:8]}"
        os.rename(leaf, old)
        os.rename(tmp, leaf)
        shutil.rmtree(old)
        files_after = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        report[leaf] = (len(files_before), len(files_after))
    return report


def write_range_sorted(
    df: DataFrame, path: str, sort_cols: list[str], n_files: int
) -> None:
    """Write ``df`` with a global range layout on ``sort_cols``: file i
    holds a contiguous, disjoint key span, sorted within. One range
    shuffle (sampled split points, the same mechanism as a global
    orderBy), after which every file's parquet footer min/max is narrow —
    the write-side half of data skipping."""
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


ZORDER_BITS = 16  # fixed-point resolution per dimension


def _zorder_bits_per_dim(n_dims: int) -> int:
    """Bits per dimension for an n_dims-column interleave, scaled down so
    the TOP interleaved bit stays below the long's sign bit: at the full
    ZORDER_BITS=16 resolution, 4+ columns would push a bit into position
    >= 63 (sign bit inverts that bit's sort order; shifts >= 64 wrap per
    JVM semantics and silently corrupt the curve). 63 // n_dims keeps
    every shift in [0, 63) at any column count."""
    return min(ZORDER_BITS, 63 // n_dims)


def _zvalue(
    col: Column, lo: float, span: float, dim: int, n_dims: int, bits: int
) -> Column:
    """Bit-interleave contribution of one dimension: the column scaled to
    a ``bits`` fixed-point rank in [0, 2^bits), its bits spread every
    ``n_dims`` positions starting at ``dim``. Pure integer/long
    expressions — whole-stage codegen, no UDF."""
    scaled = F.least(
        F.lit((1 << bits) - 1),
        F.greatest(
            F.lit(0),
            ((col.cast("double") - F.lit(lo)) / F.lit(span) * F.lit(1 << bits))
            .cast("long"),
        ),
    )
    out = F.lit(0).cast("long")
    for b in range(bits):
        bit = F.shiftright(scaled, b).bitwiseAND(F.lit(1))
        out = out + F.shiftleft(bit, b * n_dims + dim)
    return out


_ZORDER_STR_CHARS = 6  # 48-bit surrogate: exact in a double (< 2^53)


def _zorder_str_surrogate(col: Column) -> Column:
    """Order-preserving fixed-width numeric surrogate for a STRING
    z-order key: the first 6 characters packed big-endian as base-256
    digits (codepoints clamped to 255, so ordering is exact for ASCII
    and monotone-approximate beyond). 48 bits keeps the surrogate — and
    the min/max bounds arithmetic — exactly representable in a double,
    which the rank scaling runs through. Strings sharing a 6-char prefix
    collapse to one rank: the curve clusters by prefix, which is what
    makes the string column's parquet footer min/max narrow."""
    out = F.lit(0).cast("long")
    for i in range(1, _ZORDER_STR_CHARS + 1):
        byte = F.least(
            F.coalesce(F.ascii(F.substring(col, i, 1)), F.lit(0)), F.lit(255)
        ).cast("long")
        out = out + F.shiftleft(byte, 8 * (_ZORDER_STR_CHARS - i))
    return out


def write_zorder_sorted(
    df: DataFrame, path: str, zorder_cols: list[str], n_files: int
) -> None:
    """Write ``df`` clustered on a Z-ORDER (Morton) curve over several
    columns — multi-column data skipping, where a single-column range
    sort cannot help the other dimensions: file i holds a contiguous span
    of the space-filling curve, so EVERY interleaved column's footer
    min/max is narrow (each curve span is a small hyper-rectangle union),
    and a range predicate on ANY of the columns prunes row groups.

    Mechanics: each column maps to a ZORDER_BITS fixed-point rank via its
    own min/max (one bounded agg — at 100 TB these are the table's column
    statistics), ranks bit-interleave into one long z-value (pure codegen
    expressions), and the write is the same one-range-shuffle layout as
    ``write_range_sorted`` keyed on the z-value. This is the lakehouse
    OPTIMIZE-ZORDER shape; ``pruned_scan_stats`` proves the skipping per
    dimension from the footers alone.

    STRING columns interleave via an order-preserving fixed-width
    surrogate (``_zorder_str_surrogate``: first 6 chars base-256) — the
    footer min/max of the string column itself stays narrow because the
    curve clusters by prefix, so string range/prefix predicates prune."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def rank_col(c: str) -> Column:
        if types.get(c) == "string":
            return _zorder_str_surrogate(F.col(c))
        return F.col(c)

    bounds = df.agg(
        *[
            f
            for c in zorder_cols
            for f in (
                F.min(rank_col(c).cast("double")).alias(f"lo_{c}"),
                F.max(rank_col(c).cast("double")).alias(f"hi_{c}"),
            )
        ]
    ).first()
    n = len(zorder_cols)
    bits = _zorder_bits_per_dim(n)
    if all(bounds[f"lo_{c}"] is None for c in zorder_cols):
        # empty input (or every key entirely NULL): min/max aggregate to
        # NULL — nothing to rank, write the frame as-is (mirrors
        # write_range_sorted's behavior)
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return
    z = F.lit(0).cast("long")
    for i, c in enumerate(zorder_cols):
        if bounds[f"lo_{c}"] is None:
            # a non-empty frame whose c is entirely NULL: a degenerate
            # dimension — every row ranks 0 on it, the other columns
            # still interleave (ADVICE r8 #3: this used to TypeError on
            # float(None) when c was not the first column)
            continue
        lo = float(bounds[f"lo_{c}"])
        span = max(float(bounds[f"hi_{c}"]) - lo, 1e-300)
        z = z + _zvalue(rank_col(c), lo, span, i, n, bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def pruned_scan_stats(path: str, column: str, lo, hi) -> dict[str, int]:
    """Row groups a ``column BETWEEN lo AND hi`` scan must read, from the
    parquet footers alone (pyarrow) — the engine-independent measure of
    data skipping that executor scan IO is proportional to."""
    import pyarrow.parquet as pq

    total = 0
    needed = 0
    for leaf in _leaf_dirs(path):
        for fname in os.listdir(leaf):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(leaf, fname)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[column]
            for rg in range(md.num_row_groups):
                stats = md.row_group(rg).column(idx).statistics
                total += 1
                if stats is None or not stats.has_min_max:
                    needed += 1  # no stats -> must read
                elif not (stats.max < lo or stats.min > hi):
                    needed += 1
    return {"row_groups_total": total, "row_groups_needed": needed}


# ---------------------------------------------------------------------------
# IVF index materialization: cluster cell as the physical partition key
# ---------------------------------------------------------------------------


def build_ivf_index(spark, sf_dir: str, out_dir: str):
    """Materialize the trained-IVF layout: embeddings written to parquet
    PARTITIONED BY their k-means cell, which is what turns
    ``ann_ivf_kmeans_topk``'s "a probe reads ~1/k of the corpus" from a
    plan note into an I/O fact — the cell filter becomes a partition
    filter, and Spark never opens the other cells' files.

    Returns the centroids (driver-side k x dim floats) — the only state a
    prober needs besides the index path. At 100 TB this is the index-build
    job: one k-means fit + one partitioned write; rebuilds are per-cell
    replaceable (overwrite a cell directory, not the index).
    """
    from ..pipeline.clustering import kmeans_fit
    from ..tables import load_tpch

    asg, cents = kmeans_fit(spark, sf_dir)
    emb = load_tpch(spark, sf_dir)["embeddings"]
    (
        emb.join(asg, "vec_id")
        # batch_id sub-partition: the SAME two-level layout update_ivf_index
        # appends into (mixed partition depths break discovery); the base
        # build is just batch "base"
        .withColumn("batch_id", F.lit("base"))
        .repartition("cid")  # one writer group per cell -> no file spray
        .write.mode("overwrite")
        .partitionBy("cid", "batch_id")
        .parquet(out_dir)
    )
    return cents


def probe_ivf_index(spark, index_dir: str, centroids, q_vec, top: int = 10):
    """Probe the materialized index: assign the query to its nearest
    centroid DRIVER-SIDE (k distance computations on one vector), then scan
    ONLY that cell via the partition filter and exact-cosine rerank.

    The returned DataFrame's plan carries ``PartitionFilters: [cid = q]``;
    tests assert via ``inputFiles()`` that untouched cells are never read."""
    from pyspark.sql import functions as F

    from ..pipeline.similarity import dot_fold, route

    # driver-side coarse assignment (exactly what a vector-DB router does)
    q_cid = route(q_vec, centroids, 1)[0]
    q_norm = sum(float(x) * float(x) for x in q_vec) ** 0.5
    from ..pipeline.similarity import dlit_array

    q_arr = dlit_array(q_vec)
    cell = spark.read.parquet(index_dir).where(F.col("cid") == q_cid)
    return (
        cell.select(
            "vec_id",
            (
                dot_fold(F.col("embedding"), q_arr)
                / (
                    F.sqrt(dot_fold(F.col("embedding"), F.col("embedding")))
                    * F.lit(q_norm)
                )
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(top)
    )


def _write_batch_leaves(df: DataFrame, path: str, *cells: str) -> None:
    """Land one batch under ``(*cells, batch_id)`` leaves with dynamic
    partition overwrite — the at-least-once replay discipline every
    incremental index write shares: a replayed batch rewrites its own
    leaves instead of appending duplicates."""
    (
        df.repartition(*cells)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cells, "batch_id")
        .parquet(path)
    )


def update_ivf_index(
    spark: SparkSession,
    index_dir: str,
    centroids,
    new_vectors: DataFrame,
    batch_id: str,
):
    """Incremental IVF maintenance: route a batch of NEW vectors through
    the STORED quantizer (the same assignment-time centroids the probe
    router uses — router and cells stay consistent by construction) and
    write them into the cell-partitioned layout.

    Idempotence: files land under (cid, batch_id) with dynamic partition
    overwrite, so replaying a batch after a failure overwrites its own
    partitions instead of appending duplicates — the same at-least-once
    discipline as the streaming partition writes. The probe's partition
    filter on cid is untouched (batch_id is a sub-directory of the cell);
    periodic ``compact_table`` folds small batch files back together.

    At 100 TB this is the ingest path of a vector index: no refit, no
    rewrite of existing cells — k distance literals per new vector,
    map-only, then a partitioned write of just the batch."""
    from ..pipeline.clustering import assign_cid_expr

    assigned = new_vectors.select(
        "vec_id",
        "embedding",
        F.expr(assign_cid_expr("embedding", centroids)).alias("cid"),
        F.lit(batch_id).alias("batch_id"),
    )
    _write_batch_leaves(assigned, index_dir, "cid")


# ---------------------------------------------------------------------------
# derived-artifact stores: one write-once discipline for every family
# ---------------------------------------------------------------------------
#
# The expensive derivations (MinHash signatures and pairs, the k-means
# and PQ fits, band and code tables, pair baselines, fixture fits) are
# consumed by several queries each. At 100 TB (and in any fresh session)
# the correct shape is a WRITE-ONCE STORE: the build job materializes the
# artifact once and every later consumer reads parquet instead of
# re-deriving the chain. Every family follows one contract, owned here:
#
# - naming: ``_store_path(kind, params, sf_dir, tables)`` is
#   ``<store_root>/<kind>-v<STORE_VERSION><params>-<fingerprint>``; the
#   fingerprint covers the input tables' files, so a changed corpus or a
#   retuned sketch names a different directory and a stale store is
#   simply never found;
# - publishing: every builder hands ``_publish(path, write)`` a function
#   that fills a dot-prefixed tmp sibling; ``_publish`` returns an
#   existing store untouched, and otherwise publishes the tmp with one
#   rename (a racing loser discards its copy, a failed write publishes
#   nothing);
# - reading: every ``read_*``/``load_*`` takes the store's key and
#   returns None when the store (or the asked-for variant) is unbuilt
#   (the two fixture fits that return a (frame, meta) pair return
#   (None, None)). Consumers call the read and derive live on None, so no
#   module outside this one knows where a store lives. Builders call the
#   same live derivation, so stored and derived content cannot drift.

STORE_VERSION = 1
_DOCS = ("documents.parquet",)
_EMB = ("embeddings.parquet",)


def store_root() -> str:
    """Root directory for materialized derived artifacts. Local default is
    ``<repo>/.stores`` (gitignored); on a cluster point
    ``SPARK_GRAFT_STORE_DIR`` at the lakehouse path the index-build jobs
    own."""
    default = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".stores",
    )
    return os.environ.get("SPARK_GRAFT_STORE_DIR", default)


def _sf_fingerprint(sf_dir: str, table_files: tuple[str, ...]) -> str:
    """Content fingerprint of the store's input tables: (size, mtime_ns)
    of every parquet file involved. Regenerated testdata or a repointed
    sf_dir changes the fingerprint, which changes the store path — the
    stale store is simply never found."""
    import hashlib

    parts = [os.path.abspath(sf_dir)]
    for t in table_files:
        p = os.path.join(sf_dir, t)
        if os.path.isdir(p):
            for dp, _, fs in sorted(os.walk(p)):
                for f in sorted(fs):
                    if f.endswith(".parquet"):
                        st = os.stat(os.path.join(dp, f))
                        parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
        elif os.path.exists(p):
            st = os.stat(p)
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _store_path(
    kind: str, params: str = "", sf_dir: str | None = None, tables: tuple[str, ...] = ()
) -> str:
    """``<store_root>/<kind>-v<STORE_VERSION><params>[-<fingerprint>]``:
    the one store-naming rule. ``params`` carries the derivation
    parameters (leading ``-``, or a layout tag such as ``p``); the
    fingerprint of ``tables`` under ``sf_dir`` is appended when the store
    derives from corpus tables (fixture stores derive from constants and
    have none)."""
    name = f"{kind}-v{STORE_VERSION}{params}"
    if tables:
        name += f"-{_sf_fingerprint(sf_dir, tables)}"
    return os.path.join(store_root(), name)


def _atomic_publish(tmp: str, path: str) -> None:
    """Publish a fully-written store directory with one rename. If a
    concurrent builder won the race the tmp copy is discarded — both
    builders derived the same deterministic content."""
    try:
        os.rename(tmp, path)
    except OSError:
        if os.path.isdir(path):  # lost the race to an identical build
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            raise


def _publish(path: str, write) -> str:
    """Build-once publish of the store at ``path``: an existing store is
    returned untouched; otherwise ``write(tmp)`` fills a dot-prefixed
    sibling (invisible to every reader and to Spark's file listing) and
    one rename publishes it. A ``write`` that raises publishes nothing
    and leaves no tmp behind."""
    if os.path.isdir(path):
        return path
    root, name = os.path.split(path)
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".{name}.build-{uuid.uuid4().hex[:8]}")
    try:
        write(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    _atomic_publish(tmp, path)
    return path


def _read_store(
    spark: SparkSession, path: str, sub: str | None = None, variant: str | None = None
) -> DataFrame | None:
    """The store's parquet (its ``sub`` table when given), or None when it
    is unbuilt. With ``variant`` the read is pruned to that
    ``variant=...`` partition, and a store that predates the variant
    reads as None, never as an empty table."""
    if sub is not None:
        path = os.path.join(path, sub)
    probe = path if variant is None else os.path.join(path, f"variant={variant}")
    if not os.path.isdir(probe):
        return None
    df = spark.read.parquet(path)
    return df if variant is None else df.filter(F.col("variant") == variant)


def _read_json(path: str, name: str = "_meta.json") -> dict | None:
    """A store's JSON sidecar, or None when it is absent."""
    import json

    f = os.path.join(path, name)
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def _write_json(path: str, blob: dict, name: str = "_meta.json") -> None:
    """Atomically replace a store's JSON sidecar: a dot-prefixed tmp
    (skipped by Spark's file listing and every directory walk here) and
    one ``os.replace``, so a reader sees the old or the new blob."""
    import json

    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".{name}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        json.dump(blob, f)
    os.replace(tmp, os.path.join(path, name))


def _floats(rows) -> list[list[float]]:
    """Centroid lists from JSON (floats round-trip doubles exactly)."""
    return [[float(x) for x in r] for r in rows]


def _int_keyed(level2: dict) -> dict[int, list[list[float]]]:
    """A JSON ``{"cid": centroids}`` map back to int cell keys."""
    return {int(c): _floats(v) for c, v in level2.items()}


def pair_store_path(sf_dir: str) -> str:
    from ..pipeline.dedup import JACCARD_THRESHOLD

    # LSH widths are corpus-size-derived (params.minhash_widths_for), and
    # the corpus size is part of the data the fingerprint keys — "wauto"
    # records that the widths follow the ladder rather than a pinned pair
    return _store_path("pairs", f"-wauto-j{JACCARD_THRESHOLD}", sf_dir, _DOCS)


def build_dedup_pair_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the verified MinHash-LSH near-dup pairs — with both
    sides' sources resolved — as parquet partitioned by ``s1``. This is
    the dedup job's output table: the LSH chain (signatures, band
    fan-out, bucket join, exact verify) runs ONCE, and every audit /
    clustering / survivor-policy consumer thereafter reads a pair table
    that is orders of magnitude smaller than the corpus. Partitioning by
    source makes per-source reads (intra-source dup counts) partition-
    pruned."""
    from ..pipeline.dedup import dedup_pairs_with_sources

    return _publish(
        pair_store_path(sf_dir),
        lambda tmp: dedup_pairs_with_sources(spark, sf_dir)
        .repartition("s1")  # one writer group per partition -> no file spray
        .write.mode("overwrite")
        .partitionBy("s1")
        .parquet(tmp),
    )


def read_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """(d1, d2, jaccard, s1, s2) from the pair store, or None."""
    df = _read_store(spark, pair_store_path(sf_dir))
    return None if df is None else df.select("d1", "d2", "jaccard", "s1", "s2")


def signature_store_path(sf_dir: str, n_hashes: int) -> str:
    return _store_path("minhash-sig", f"-h{n_hashes}", sf_dir, _DOCS)


def build_minhash_signature_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the per-document MinHash signatures (doc_id, m0..m7).
    This is the sketch every signature consumer shares — LSH banding
    (dedup_minhash_lsh derives its band table from signatures with 4 md5
    calls per ROW, trivial next to the corpus-wide min-agg) and the
    decontamination agreement scan (minhash_decontaminate) — so it is
    computed once at ingest and read back everywhere, like a real
    pipeline's signature column family."""
    from ..pipeline.dedup import minhash_signature, minhash_widths

    n_hashes, _, _ = minhash_widths(spark, sf_dir)
    return _publish(
        signature_store_path(sf_dir, n_hashes),
        lambda tmp: minhash_signature(spark, sf_dir)
        .coalesce(8)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def read_minhash_signatures(
    spark: SparkSession, sf_dir: str, n_hashes: int
) -> DataFrame | None:
    """(doc_id, m0..m{n_hashes-1}) from the signature store, or None."""
    df = _read_store(spark, signature_store_path(sf_dir, n_hashes))
    return None if df is None else df.select(
        "doc_id", *[f"m{h}" for h in range(n_hashes)]
    )


def postings_store_path(sf_dir: str) -> str:
    return _store_path("shingle-postings", "", sf_dir, _DOCS)


def build_shingle_postings_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the shingle postings (doc_id, g) — the second half of
    the stored near-dup index (``minhash_index``'s docstring already
    commits to this at 100 TB: postings bucketed by gram so the verify
    joins are shuffle-free on the corpus side). Locally the win is the
    explode + array_distinct pass (the dominant cold cost of the LSH
    chain once signatures are stored): the exact-Jaccard verify reads
    columnar postings instead of re-shingling the corpus."""
    from ..pipeline.dedup import _shingle_df

    # repartition by doc_id: the verify path's semi-joins and the size
    # aggregate are keyed by doc_id, so co-locating a doc's postings keeps
    # the store read's downstream exchanges partial
    return _publish(
        postings_store_path(sf_dir),
        lambda tmp: _shingle_df(spark, sf_dir)
        .repartition(8, "doc_id")
        .write.mode("overwrite")
        .parquet(tmp),
    )


def read_shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """(doc_id, g) from the postings store, or None."""
    df = _read_store(spark, postings_store_path(sf_dir))
    return None if df is None else df.select("doc_id", "g")


def cluster_store_path(sf_dir: str) -> str:
    return pair_store_path(sf_dir) + "-clusters"


def build_dedup_cluster_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the near-dup connected components (doc_id, cluster_id)
    derived from the pair store. The 8-round pointer-jumping label
    propagation is cheap per round but inherently sequential
    (localCheckpoint per round), so a fresh session otherwise pays the
    whole loop before any survivor-policy query answers; clusters are a
    pure function of the pairs, so they belong in the same write-once
    store family."""
    from ..pipeline.curation import dedup_clusters

    # the undecorated query: the memo would pin the derived frame in the
    # session after the store exists
    return _publish(
        cluster_store_path(sf_dir),
        lambda tmp: dedup_clusters.__wrapped__(spark, sf_dir)
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def read_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """(doc_id, cluster_id) from the cluster store, or None."""
    return _read_store(spark, cluster_store_path(sf_dir))


def kmeans_store_path(sf_dir: str, k: int, iters: int) -> str:
    return _store_path("kmeans", f"-k{k}i{iters}", sf_dir, _EMB)


def build_kmeans_fit_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the k-means fit (VERDICT r5 #2): assignments as parquet
    plus the assignment-time centroids as JSON (``json.dumps`` of Python
    floats round-trips doubles exactly). A fresh session then loads the
    quantizer in one tiny read instead of re-running the Lloyd iterations
    — the ~6 s cold cost ann_ivf_kmeans_nprobe paid per session. The fit
    itself already runs through ``clustering.kmeans_fit``, so router and
    stored assignments stay consistent by construction."""
    from ..pipeline.clustering import ITERS, K, kmeans_fit
    from ..pipeline.params import corpus_count, ivf_cells_for

    def write(tmp: str, k: int) -> None:
        asg, cents = kmeans_fit(spark, sf_dir, k=k)
        asg.coalesce(4).write.mode("overwrite").parquet(
            os.path.join(tmp, "assignments")
        )
        _write_json(
            tmp, {"k": k, "iters": ITERS, "centroids": cents}, "centroids.json"
        )

    # two quantizers when the widths differ: the fixed-spec k=4 rung
    # (embedding_kmeans/semdedup replay it) and the corpus-size-derived
    # rung the IVF probes route through (params.ivf_cells_for)
    k_auto = ivf_cells_for(corpus_count(spark, sf_dir, "embeddings"))
    for k in (K, k_auto):
        path = _publish(kmeans_store_path(sf_dir, k, ITERS), functools.partial(write, k=k))
    return path


def load_kmeans_fit(spark: SparkSession, sf_dir: str, k: int, iters: int):
    """(assignments DataFrame, centroids) from the store, or None if no
    store exists for this corpus+params."""
    path = kmeans_store_path(sf_dir, k, iters)
    blob = _read_json(path, "centroids.json")
    if blob is None:
        return None
    asg = spark.read.parquet(os.path.join(path, "assignments"))
    return asg, _floats(blob["centroids"])


def ensure_stores(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Build every derived-artifact store for ``sf_dir`` that doesn't
    exist yet, and return {store: path}. The index-build step: bench.py,
    the profiling tools and the read-path oracle runs call it before
    timing or checking queries, so every consumer reads instead of
    deriving. Stores that exist are returned untouched."""
    from ..pipeline.clustered import CW_N, CW_PROBE

    # order matters: signatures + postings feed the pair build, pairs
    # feed clusters
    return {
        "signatures": build_minhash_signature_store(spark, sf_dir),
        "postings": build_shingle_postings_store(spark, sf_dir),
        "pairs": build_dedup_pair_store(spark, sf_dir),
        "clusters": build_dedup_cluster_store(spark, sf_dir),
        "kmeans": build_kmeans_fit_store(spark, sf_dir),
        "rhp_bands": ensure_rhp_band_store(spark, sf_dir),
        "pq_codes": build_pq_code_store(spark, sf_dir),
        "ivfpq_codes": build_ivfpq_code_store(spark, sf_dir),
        "pq_codebook": build_pq_codebook_store(spark, sf_dir),
        "sharded_ivf": build_sharded_ivf_store(spark, sf_dir),
        "emb_pairs": build_embedding_pair_store(spark, sf_dir),
        "ngram_pairs": build_ngram_pair_store(spark, sf_dir),
        "cmass_fit": build_clustered_mass_fit_store(spark, sf_dir),
        "cmass_sem_pairs": build_clustered_mass_sem_pair_store(spark, sf_dir),
        "cf_fit": build_clustered_cf_fit_store(spark, sf_dir),
        "cmass_fit_wide": build_clustered_mass_fit_store(
            spark, sf_dir, n=CW_N
        ),
        "cmass_sem_pairs_wide": build_clustered_mass_sem_pair_store(
            spark, sf_dir, n=CW_N, probe=CW_PROBE
        ),
    }


# ---------------------------------------------------------------------------
# sharded (two-level) IVF store: level-2 fits as build-time artifacts
# ---------------------------------------------------------------------------


def sharded_ivf_store_path(sf_dir: str) -> str:
    return _store_path("sharded-ivf", "", sf_dir, _EMB)


def build_sharded_ivf_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the two-level IVF layout ``ann_ivf_sharded_topk``'s
    docstring commits to ("at scale this fit is precomputed per cell by
    the index build"): embeddings written PARTITIONED BY (cid1, cid2) —
    level 1 is the corpus-wide trained fit, level 2 re-runs the shared
    Lloyd contract inside each level-1 cell at the ladder width for the
    CELL's size — plus a meta blob holding both levels' assignment-time
    centroids (exact JSON double round-trip, the kmeans-fit-store
    discipline). A probe then routes driver-side through k1 + k2
    centroid distances and reads ``nprobe`` (cid1, cid2) partition
    directories: the two prunings multiply in the PartitionFilters.

    The per-cell fits are a bounded driver loop (k1 cells, each fit
    collecting k2 x DIM decimal means per iteration — the same bounded
    quantizer state every fit in the family holds); the write is one
    cell-sized partitioned write per cell (plan size O(1) in k1)."""
    from ..pipeline.clustering import _lloyd_fit_frame, kmeans_fit
    from ..pipeline.params import ivf_cells_for
    from ..tables import load_tpch

    def write(tmp: str) -> None:
        emb = load_tpch(spark, sf_dir)["embeddings"]
        asg1, cents1 = kmeans_fit(spark, sf_dir)
        k1 = len(cents1)
        # One cell-sized write per cell instead of a k1-way union plan: the
        # union embedded every cell's fit chain in ONE Catalyst plan, which
        # grows with the ladder width (the adaptive builder's k1 = 64 plan
        # exhausted an 8 GiB driver at 100x). Writing each cell's subtree
        # directly keeps plan size O(1) in k1 — the index-build job is k1
        # bounded jobs, exactly how a cluster would shard it. batch_id
        # sub-partition from the start (the ivfpq-code-store layout rule:
        # mixed partition depths break discovery once the ingest stream
        # appends) — the base build is just batch "base".
        level2: dict[str, list[list[float]]] = {}
        for cid in range(k1):
            cell = emb.join(
                asg1.filter(F.col("cid") == cid).select("vec_id"), "vec_id"
            ).select("vec_id", "embedding")
            k2 = ivf_cells_for(cell.count())
            seeds2 = [
                [float(x) for x in r["embedding"]]
                for r in cell.orderBy("vec_id").limit(k2).collect()
            ]
            asg2, cents2 = _lloyd_fit_frame(cell, seeds2)
            level2[str(cid)] = cents2
            out = cell.join(
                asg2.withColumnRenamed("cid", "cid2"), "vec_id"
            ).select("vec_id", "embedding", "cid2")
            (
                out.repartition("cid2")
                .withColumn("batch_id", F.lit("base"))
                .write.mode("overwrite")
                .partitionBy("cid2", "batch_id")
                .parquet(os.path.join(tmp, f"cid1={cid}"))
            )
            marker = os.path.join(tmp, f"cid1={cid}", "_SUCCESS")
            if os.path.exists(marker):
                os.remove(marker)
        _write_json(tmp, {"k1": k1, "cents1": cents1, "level2": level2})

    return _publish(sharded_ivf_store_path(sf_dir), write)


def _ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    checkpoint_dir: str,
    ingest,
    max_files_per_trigger: int | None = None,
):
    """The one store-stream shape: arriving parquet files under
    ``source_dir`` feed ``ingest(batch_df, batch_id)`` through
    foreachBatch as one availableNow pass. ``max_files_per_trigger=1``
    makes one wave file one micro-batch, so replay granularity (and
    measured latency) is per arriving file instead of per backlog."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(source_dir)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def update_sharded_ivf_store(
    spark: SparkSession,
    sf_dir: str,
    new_vectors: DataFrame,
    batch_id: str,
):
    """Incremental maintenance for the two-level layout: route a batch of
    NEW vectors through the STORED two-level quantizer (meta centroids —
    never a re-fit; router and cells stay consistent) and land only the
    batch's rows under ``(cid1, cid2, batch_id)`` with dynamic partition
    overwrite (at-least-once replay rewrites its own leaves). Routing is
    k1 folds for level 1, then k2 folds evaluated ONLY on each level-1
    branch's rows (per-cell filtered select over the persisted routed
    batch — the k1 + k2 fold contract the sharded probe exists for,
    never k1 x k2)."""
    from ..pipeline.clustering import assign_cid_expr
    from ..session import tracked_persist

    cents1, level2 = load_sharded_ivf_meta(sf_dir)
    routed = tracked_persist(
        new_vectors.selectExpr(
            "vec_id", "embedding",
            f"{assign_cid_expr('embedding', cents1)} AS cid1",
        )
    )
    branches = []
    for c1 in range(len(cents1)):
        branches.append(
            routed.where(F.col("cid1") == c1).selectExpr(
                "vec_id",
                "embedding",
                "cid1",
                f"{assign_cid_expr('embedding', level2[c1])} AS cid2",
            )
        )
    assigned = functools.reduce(
        lambda a, b: a.unionByName(b), branches
    ).withColumn("batch_id", F.lit(batch_id))
    _write_batch_leaves(assigned, sharded_ivf_store_path(sf_dir), "cid1", "cid2")


def run_sharded_ivf_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    sf_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of ``update_sharded_ivf_store``: two-level-index
    ingest as a Structured Streaming job, same at-least-once replay
    discipline as every store stream (batch leaves rewrite themselves).
    New vectors are probe-visible as soon as the batch commits — the
    sharded probe's partition discovery lists the (cid1, cid2) cell
    directories, batch leaves included."""

    def ingest(batch_df, batch_id: int):
        update_sharded_ivf_store(
            spark,
            sf_dir,
            batch_df.select("vec_id", "embedding"),
            f"stream-{batch_id}",
        )

    return _ingest_stream(
        spark, source_dir, schema, checkpoint_dir, ingest, max_files_per_trigger
    )


def load_sharded_ivf_meta(sf_dir: str):
    """(cents1, level2 dict) from the store meta, or None if no store
    exists for this corpus."""
    blob = _read_json(sharded_ivf_store_path(sf_dir))
    if blob is None:
        return None
    return _floats(blob["cents1"]), _int_keyed(blob["level2"])


def read_sharded_ivf(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """(vec_id, embedding, cid1, cid2) from the two-level store, or None."""
    df = _read_store(spark, sharded_ivf_store_path(sf_dir))
    return None if df is None else df.select("vec_id", "embedding", "cid1", "cid2")


# ---------------------------------------------------------------------------
# adaptive two-level IVF: split ONLY the hot cells. The full sharded
# store pays k1 level-2 fits and multiplies the partition count by ~k2
# everywhere; on skewed data (clustered_ivf_occupancy_audit: max/avg
# 1.586 when the IVF width mismatches the structure) the latency tail
# lives in a FEW over-occupied cells. Splitting only cells above
# hot_factor x average fixes the tail at a fraction of the build cost
# and file count — the 100 TB skew mitigation the occupancy audit's
# numbers call for (the IVF analog of AQE's skew-join split: pay the
# extra level only where the mass is).
# ---------------------------------------------------------------------------

ADAPTIVE_HOT_FACTOR = 1.25  # cells above this x average occupancy split


def _distinct_seeds(cell, k2: int) -> list[list[float]]:
    """First ``k2`` DISTINCT embeddings in vec_id order, to seed a
    level-2 Lloyd fit. Plain ``orderBy(vec_id).limit(k2)`` seeds break
    on clone-heavy ingest: duplicate vectors among the head members
    give identical centroids, the lowest-index argmin starves the
    later one, and _lloyd_fit_frame raises ValueError — wedging the
    maintenance cron. Scanning a bounded 4*k2 head for distinct
    vectors fixes that; when the head is duplicate-free (every
    current fixture, and the derivation the clustered_* audit mirrors
    assume) the result is IDENTICAL to the plain limit. Fewer than k2
    distinct vectors in the head → fewer seeds (k shrinks), which
    Lloyd handles natively."""
    seeds: list[list[float]] = []
    seen: set[tuple[float, ...]] = set()
    for r in cell.orderBy("vec_id").limit(4 * k2).collect():
        v = tuple(float(x) for x in r["embedding"])
        if v in seen:
            continue
        seen.add(v)
        seeds.append(list(v))
        if len(seeds) == k2:
            break
    return seeds


def adaptive_ivf_store_path(
    sf_dir: str, k1: int, hot_factor: float = ADAPTIVE_HOT_FACTOR
) -> str:
    # hot_factor is part of the key (params-in-the-key discipline, like
    # every other store): two builds with different thresholds are
    # different layouts, and must not silently alias each other.
    return _store_path("adaptive-ivf", f"-k{k1}-h{int(hot_factor * 100)}", sf_dir, _EMB)


def build_adaptive_ivf_store(
    spark: SparkSession,
    sf_dir: str,
    k1: int | None = None,
    hot_factor: float = ADAPTIVE_HOT_FACTOR,
) -> str:
    """Materialize the occupancy-adaptive two-level layout: level-1 fit
    at ``k1`` (ladder width when None), then a level-2 Lloyd fit ONLY
    inside cells whose occupancy exceeds ``hot_factor`` x (n / k1) —
    cold cells keep ``cid2 = 0`` and pay no fit, no extra partitions.
    Same (cid1, cid2, batch_id) layout and exact-JSON meta discipline as
    the full sharded store, plus per-cell sizes and the hot set in the
    meta so consumers (and audits) can see which cells were split and
    why. The build reports its own scan economics: meta carries
    flat/adaptive candidates-per-probe (sum sz^2 / n over level-1 vs
    leaf cells) so the mitigation is measured at build time, not
    assumed."""
    from ..tables import load_tpch

    emb = load_tpch(spark, sf_dir)["embeddings"]
    n = emb.count()
    if k1 is None:
        from ..pipeline.params import ivf_cells_for

        k1 = ivf_cells_for(n)
    return _publish(
        adaptive_ivf_store_path(sf_dir, k1, hot_factor),
        functools.partial(_write_adaptive_ivf, spark, sf_dir, emb, n, k1, hot_factor),
    )


def _write_adaptive_ivf(spark, sf_dir, emb, n, k1, hot_factor, tmp) -> None:
    from ..pipeline.clustering import _lloyd_fit_frame, kmeans_fit
    from ..pipeline.params import ivf_cells_for

    asg1, cents1 = kmeans_fit(spark, sf_dir, k=k1)
    sizes = {
        r["cid"]: r["n"]
        for r in asg1.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    threshold = hot_factor * n / k1
    hot = sorted(c for c, sz in sizes.items() if sz > threshold)
    # One pass over the corpus, not k1 per-cell scans: only HOT cells
    # need a per-cell frame (their level-2 Lloyd fit); cold cells get
    # cid2 = 0 via a left join against the union of hot-cell level-2
    # assignments. The previous k1-way union of per-cell joins built a
    # plan with k1 corpus scans — at k1 = 64 (the 100x ladder width)
    # Catalyst's plan alone exhausted an 8 GiB driver with ZERO hot
    # cells in it. Plan cost now scales with |hot|, not k1.
    level2: dict[str, list[list[float]]] = {}
    leaf_s2 = sum(
        sizes[c] * sizes[c] for c in range(k1) if c not in hot
    )
    asg2_frames = []
    for cid in hot:
        cell = emb.join(
            asg1.filter(F.col("cid") == cid).select("vec_id"), "vec_id"
        ).select("vec_id", "embedding")
        k2 = ivf_cells_for(sizes[cid])
        seeds2 = _distinct_seeds(cell, k2)
        asg2, cents2 = _lloyd_fit_frame(cell, seeds2)
        level2[str(cid)] = cents2
        leaf_s2 += sum(
            r["n"] * r["n"]
            for r in asg2.groupBy("cid").agg(F.count("*").alias("n")).collect()
        )
        asg2_frames.append(asg2.select("vec_id", F.col("cid").alias("cid2")))
    assigned = emb.join(asg1.select("vec_id", "cid"), "vec_id").select(
        "vec_id", "embedding", F.col("cid").alias("cid1")
    )
    if asg2_frames:
        hot_asg = functools.reduce(
            lambda a, b: a.unionByName(b), asg2_frames
        )
        union = assigned.join(hot_asg, "vec_id", "left").select(
            "vec_id",
            "embedding",
            "cid1",
            F.coalesce(F.col("cid2"), F.lit(0)).alias("cid2"),
        )
    else:
        union = assigned.select(
            "vec_id", "embedding", "cid1", F.lit(0).alias("cid2")
        )
    union = union.withColumn(
        "batch_id", F.lit("base")
    )
    (
        union.repartition("cid1", "cid2")
        .write.mode("overwrite")
        .partitionBy("cid1", "cid2", "batch_id")
        .parquet(tmp)
    )
    meta = {
        "k1": k1,
        "hot_factor": hot_factor,
        "cents1": cents1,
        "level2": level2,
        "sizes": {str(c): sz for c, sz in sizes.items()},
        "hot_cells": hot,
        "cand_per_probe_flat": round(
            sum(sz * sz for sz in sizes.values()) / n, 2
        ),
        "cand_per_probe_adaptive": round(leaf_s2 / n, 2),
    }
    _write_json(tmp, meta)


def adaptive_ivfpq_code_store_path(
    sf_dir: str, k1: int, hot_factor: float = ADAPTIVE_HOT_FACTOR
) -> str:
    from ..pipeline.similarity import PQ_K, PQ_S

    return _store_path(
        "adaptive-ivfpq-codes",
        f"-k{k1}-h{int(hot_factor * 100)}-s{PQ_S}k{PQ_K}",
        sf_dir,
        _EMB,
    )


def build_adaptive_ivfpq_code_store(
    spark: SparkSession,
    sf_dir: str,
    k1: int | None = None,
    hot_factor: float = ADAPTIVE_HOT_FACTOR,
) -> str:
    """The ADC twin of the adaptive vector store (VERDICT r10 #6): the
    ADC scan skews exactly like the float scan — a hot cell's code list
    is as oversized as its vector list — but the flat cid-partitioned
    code store split nothing, so one dominant category made every probe
    of that cell read the whole oversized list. PQ codes now land in
    the SAME (cid1, cid2, batch_id) hot-split layout as the vectors:
    encoding is one map-only pass over the adaptive store's own rows
    (routing is inherited by construction, never re-derived, so the
    code leaves can't disagree with the vector leaves), and a probe's
    nprobe2 leaf selection prunes the ADC read the same way it prunes
    the float read. Cold cells keep (cid1, 0) and pay nothing."""
    from ..pipeline.similarity import pq_encode, pq_seed_vectors
    from ..pipeline.params import corpus_count, ivf_cells_for

    if k1 is None:
        k1 = ivf_cells_for(corpus_count(spark, sf_dir, "embeddings"))

    def write(tmp: str) -> None:
        vec = spark.read.parquet(
            build_adaptive_ivf_store(spark, sf_dir, k1=k1, hot_factor=hot_factor)
        )
        codes = pq_encode(
            vec, pq_seed_vectors(spark, sf_dir), keep=("cid1", "cid2", "batch_id")
        )
        (
            codes.repartition("cid1", "cid2")
            .write.mode("overwrite")
            .partitionBy("cid1", "cid2", "batch_id")
            .parquet(tmp)
        )

    return _publish(adaptive_ivfpq_code_store_path(sf_dir, k1, hot_factor), write)


# dot-prefixed: invisible to Spark partition discovery and the footer
# occupancy walk, like every maintenance staging artifact
_CODE_SYNC_MARKER = "._pending_code_sync.json"


def _pending_code_sync_cells(cpath: str) -> list[int]:
    """Cells whose code subtrees a prior maintenance pass promised to
    re-encode but may not have finished (crash window between the
    vector swap + meta publish and the trailing code sync)."""
    blob = _read_json(cpath, _CODE_SYNC_MARKER) or {}
    return sorted(int(c) for c in blob.get("cells", []))


def record_pending_code_sync(sf_dir: str, k1: int, cids) -> bool:
    """Durably record cells whose code subtrees will need re-encoding,
    BEFORE the vector-store swap that invalidates them (ADVICE r11 #1).
    Without this, a crash after the vector swap + meta publish but
    before sync_adaptive_ivfpq_code_cells leaves the code store's leaf
    layout permanently diverged from meta — probe_adaptive_ivfpq then
    selects leaves absent from the codes and silently returns partial
    results, and nothing reconciles until another maintenance pass
    happens to touch the same cells. The marker is merged (never
    overwritten) and replayed by every maintenance/ingest entry point
    via sync_adaptive_ivfpq_code_cells. No-op when no code store has
    been built (there is nothing to diverge)."""
    cpath = adaptive_ivfpq_code_store_path(sf_dir, k1)
    if not os.path.isdir(cpath):
        return False
    cells = sorted(set(_pending_code_sync_cells(cpath)) | {int(c) for c in cids})
    _write_json(cpath, {"cells": cells}, _CODE_SYNC_MARKER)
    return True


def sync_adaptive_ivfpq_code_cells(
    spark: SparkSession, sf_dir: str, k1: int, cids=()
) -> list[int]:
    """Code-store side of a vector-store rebalance/merge: re-encode the
    given cid1 subtrees from the (already rewritten) vector store and
    swap them into the code store with the same dot-retire discipline.
    A split or merge changes a cell's (cid2) leaf set; a code store
    left on the old layout would make probe_adaptive_ivfpq select
    leaves that DON'T EXIST in the codes — an empty ADC scan, i.e.
    silently missing results, not an error. Routing is inherited from
    the vector rows (never re-derived), so the two stores cannot
    disagree. No-op when no code store has been built.

    Crash safety (ADVICE r11 #1): the full work list (requested cells
    merged with any durable pending-sync marker from a crashed prior
    pass) is re-recorded BEFORE the first swap and cleared only after
    the last, so a crash mid-sync replays the remainder on the next
    maintenance or ingest entry. Re-encoding an already-synced cell is
    an idempotent rewrite of identical content. A cell with no live
    code subtree (e.g. merged while its occupancy drifted to zero) is
    CREATED rather than swapped (ADVICE r11 #4 — the bare rename raised
    FileNotFoundError and turned maintenance into a crash)."""
    from ..pipeline.similarity import pq_encode, pq_seed_vectors

    cpath = adaptive_ivfpq_code_store_path(sf_dir, k1)
    if not os.path.isdir(cpath):
        return []
    _sweep_retired(cpath)
    cells = sorted(set(_pending_code_sync_cells(cpath)) | {int(c) for c in cids})
    if not cells:
        return []
    record_pending_code_sync(sf_dir, k1, cells)
    vpath = adaptive_ivf_store_path(sf_dir, k1)
    seeds = pq_seed_vectors(spark, sf_dir)
    synced = []
    for cid in cells:
        vec = (
            spark.read.parquet(vpath)
            .where(F.col("cid1") == cid)
            .select("vec_id", "embedding", "cid2", "batch_id")
        )
        codes = pq_encode(vec, seeds, keep=("cid2", "batch_id"))
        _rewrite_cell(cpath, cid, codes, "rebalance", allow_missing=True)
        synced.append(cid)
    marker = os.path.join(cpath, _CODE_SYNC_MARKER)
    if os.path.isfile(marker):
        os.remove(marker)
    return synced


def update_adaptive_ivfpq_codes(
    spark: SparkSession, sf_dir: str, k1: int, batch_id: str
) -> bool:
    """Ingest-side code-store maintenance: encode exactly one committed
    batch's vector rows (read back from the vector store, so routing is
    inherited) and land them under the same (cid1, cid2, batch_id)
    leaves with dynamic partition overwrite — at-least-once replay
    rewrites itself, like the vector write it mirrors. Without this, a
    probe's ADC scan silently misses every post-build arrival. No-op
    when no code store has been built."""
    from ..pipeline.similarity import pq_encode, pq_seed_vectors

    cpath = adaptive_ivfpq_code_store_path(sf_dir, k1)
    if not os.path.isdir(cpath):
        return False
    _sweep_retired(cpath)
    replay_pending_code_sync(spark, sf_dir, k1)
    vec = (
        spark.read.parquet(adaptive_ivf_store_path(sf_dir, k1))
        .where(F.col("batch_id") == batch_id)
        .select("vec_id", "embedding", "cid1", "cid2", "batch_id")
    )
    codes = pq_encode(
        vec, pq_seed_vectors(spark, sf_dir), keep=("cid1", "cid2", "batch_id")
    )
    _write_batch_leaves(codes, cpath, "cid1", "cid2")
    return True


def replay_pending_code_sync(spark: SparkSession, sf_dir: str, k1: int) -> list[int]:
    """Re-run any code-cell syncs a crashed maintenance pass left
    behind (durable marker in the code store root). Called on entry by
    the maybe_* occupancy checks and the ingest-side code update — the
    same sweep-on-entry discipline the vector store's retired-dir
    recovery uses. No-op with no code store or no marker."""
    cpath = adaptive_ivfpq_code_store_path(sf_dir, k1)
    if not os.path.isdir(cpath) or not _pending_code_sync_cells(cpath):
        return []
    return sync_adaptive_ivfpq_code_cells(spark, sf_dir, k1)


def probe_adaptive_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    q_vec: list[float],
    k1: int,
    nprobe: int = 2,
    nprobe2: int = 1,
    cand: int = 50,
    top: int = 10,
) -> DataFrame:
    """Serve a top-k query off the adaptive CODE store: the same
    driver-side two-level routing as probe_adaptive_ivf selects the
    leaves, the ADC scan reads ONLY those leaves' PQ_S-byte code rows
    (PartitionFilters — pinned by test_adaptive_ivfpq_probe_prunes),
    the best ``cand`` ADC candidates rerank exactly against the vector
    store's SAME leaves. Per probed hot cell the read is
    ~nprobe2/k2 of the cell's codes — the two prunings (cell, leaf)
    multiply, and both apply to the compressed table."""
    from ..pipeline.similarity import adc_cut, pq_query_lut, pq_seed_vectors

    leaves = _adaptive_leaves(load_adaptive_ivf_meta(sf_dir, k1), q_vec, nprobe, nprobe2)
    # last-line read-side guard (ADVICE r11 #1): if a crashed
    # maintenance pass left a selected split leaf absent from the CODE
    # store (meta already published the new layout, sync not yet
    # replayed), widen that cell's read to all its code leaves instead
    # of silently ADC-scanning nothing — a superset read, never a miss
    cpath = adaptive_ivfpq_code_store_path(sf_dir, k1)
    widened: set[int] = set()
    for c1, c2 in leaves:
        if c2 != 0 and not os.path.isdir(
            os.path.join(cpath, f"cid1={c1}", f"cid2={c2}")
        ):
            widened.add(c1)
    cond = None
    for c1, c2 in leaves:
        if c1 in widened:
            continue
        leaf = (F.col("cid1") == c1) & (F.col("cid2") == c2)
        cond = leaf if cond is None else cond | leaf
    for c1 in sorted(widened):
        leaf = F.col("cid1") == c1
        cond = leaf if cond is None else cond | leaf
    codes = spark.read.parquet(cpath).where(cond)
    lut = pq_query_lut(pq_seed_vectors(spark, sf_dir), q_vec)
    shortlist = adc_cut(codes, None, lut, cand)
    vec = spark.read.parquet(
        adaptive_ivf_store_path(sf_dir, k1)
    ).where(cond)
    return _cosine_top(
        vec.join(F.broadcast(shortlist.select("vec_id")), "vec_id"), q_vec, top
    )


def _adaptive_leaves(meta: dict, q_vec, nprobe: int, nprobe2: int) -> list[tuple[int, int]]:
    """Driver-side two-level routing through the stored quantizers: the
    ``nprobe`` nearest level-1 cells; inside a split (hot) cell its
    ``nprobe2`` nearest level-2 leaves, and a cold cell's single
    ``(cid1, 0)`` leaf. Ties break on the lower cell id."""
    from ..pipeline.similarity import route

    leaves = []
    for c1 in route(q_vec, meta["cents1"], nprobe):
        if c1 in meta["level2"]:
            for c2 in route(q_vec, meta["level2"][c1], nprobe2):
                leaves.append((c1, c2))
        else:
            leaves.append((c1, 0))
    return leaves


def _cosine_top(vec: DataFrame, q_vec, top: int) -> DataFrame:
    """The exact-cosine rerank of ``vec``'s embeddings against the query
    vector: top ``top`` by cosine, ties on the lower vec_id."""
    qn = math.sqrt(sum(x * x for x in q_vec))
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            _dlit(q_vec),
            lambda a, b: a * b,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("embedding").cast("array<double>"),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        vec.select("vec_id", (dot / (norm * F.lit(qn))).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(top)
    )


def load_adaptive_ivf_meta(
    sf_dir: str, k1: int, hot_factor: float = ADAPTIVE_HOT_FACTOR
):
    """The adaptive store's meta (int-keyed level2), or None."""
    blob = _read_json(adaptive_ivf_store_path(sf_dir, k1, hot_factor))
    if blob is None:
        return None
    blob["cents1"] = _floats(blob["cents1"])
    blob["level2"] = _int_keyed(blob["level2"])
    return blob


def _write_adaptive_meta(spark: SparkSession, path: str, meta: dict, sizes: dict) -> None:
    """Replace the adaptive store's meta after a rebalance or merge, with
    the cell sizes and the scan-economics accounting refreshed — the
    audit trail consumers (and BENCH_SCALE) read these off the meta, and
    the build-time numbers are stale the moment occupancy changed."""
    n = sum(sizes.values())
    leaf_sizes = [
        r["n"]
        for r in spark.read.parquet(path)
        .groupBy("cid1", "cid2")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    meta["sizes"] = {str(c): sz for c, sz in sizes.items()}
    meta["cand_per_probe_flat"] = round(
        sum(sz * sz for sz in sizes.values()) / n, 2
    )
    meta["cand_per_probe_adaptive"] = round(
        sum(s * s for s in leaf_sizes) / n, 2
    )
    _write_json(path, {**meta, "level2": {str(c): v for c, v in meta["level2"].items()}})


def _rewrite_cell(
    path: str, cid: int, rows: DataFrame, stage: str, allow_missing: bool = False
) -> None:
    """Write one cell's rows as a ``(cid2, batch_id)`` subtree into a
    dot-prefixed ``.<stage>-<cid>-<uuid>`` staging dir (swept by
    ``_sweep_retired`` after a crash), then swap it in."""
    tmp = os.path.join(path, f".{stage}-{cid}-{uuid.uuid4().hex[:8]}")
    (
        rows.repartition("cid2")
        .write.mode("overwrite")
        .partitionBy("cid2", "batch_id")
        .parquet(tmp)
    )
    _swap_cell_subtree(path, cid, tmp, allow_missing=allow_missing)


def probe_adaptive_ivf(
    spark: SparkSession,
    sf_dir: str,
    q_vec: list[float],
    k1: int,
    nprobe: int = 2,
    nprobe2: int = 1,
    top: int = 10,
) -> DataFrame:
    """Serve a top-k query off the adaptive store: driver-side routing
    through the STORED quantizers (k1 level-1 distances; + k2 level-2
    distances only when the routed cell is hot — cold cells read their
    single (cid1, 0) leaf), then one scan of the selected leaf
    directories (PartitionFilters) and an exact cosine rerank. The scan
    cost per probe is leaf-sized: ~nprobe2·sz/k2 for a split hot cell,
    sz for a cold one — bounded by the hot threshold either way.

    ``nprobe2`` is the recall knob for split cells: a hot cell's
    interior is often structureless (within-category placement is
    noise), so one leaf can cut the true neighborhood —
    clustered_adaptive_probe_recall_audit prices the curve (measured:
    width 1 = 1/4 the dominant cell's scan at recall 0.8, width 2 =
    1/2 scan at 1.0)."""
    leaves = _adaptive_leaves(load_adaptive_ivf_meta(sf_dir, k1), q_vec, nprobe, nprobe2)
    df = spark.read.parquet(adaptive_ivf_store_path(sf_dir, k1))
    cond = None
    for c1, c2 in leaves:
        leaf = (F.col("cid1") == c1) & (F.col("cid2") == c2)
        cond = leaf if cond is None else cond | leaf
    return _cosine_top(df.where(cond), q_vec, top)


def run_adaptive_ivf_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    sf_dir: str,
    k1: int,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    maintenance_every: int | None = None,
    cold_factor: float = 1.0,
    compact_max_batch_dirs: int | None = None,
):
    """Streaming twin of ``update_adaptive_ivf_store`` — the same
    foreachBatch wrapper every store stream uses (at-least-once replay
    rewrites its own (cid1, cid2, batch_id) leaves; arrivals are
    probe-visible at batch commit).

    ``maintenance_every=N`` closes the lifecycle loop IN the stream
    (VERDICT r9 #5): after every Nth committed batch, the footer-only
    checks run — maybe_rebalance (split drifted-hot cells) then
    maybe_merge (collapse diluted split cells, hysteresis at
    ``cold_factor``). foreachBatch serializes the hook with ingest, so
    the single-writer rule around subtree swaps holds by construction —
    no batch write is ever in flight during a swap. Replay safety is
    the rebalance/merge guarantee (replayed batches route through the
    LIVE meta and self-rewrite identical leaves); decisions append to
    ``_maintenance_log.jsonl`` in the store for the audit trail. A
    no-op check costs a footer walk."""

    def ingest(batch_df, batch_id: int):
        update_adaptive_ivf_store(
            spark,
            sf_dir,
            batch_df.select("vec_id", "embedding"),
            f"stream-{batch_id}",
            k1=k1,
        )
        if maintenance_every and (batch_id + 1) % maintenance_every == 0:
            import json as _json

            reb = maybe_rebalance_adaptive_ivf_store(spark, sf_dir, k1)
            mrg = maybe_merge_adaptive_ivf_store(
                spark, sf_dir, k1, cold_factor
            )
            cmp_out = {"fired": False, "compacted": []}
            if compact_max_batch_dirs is not None:
                # the in-flight batch is the only replayable one (the
                # checkpoint commits AFTER this hook): its directory
                # carries over untouched so a replay stays idempotent
                cmp_out = maybe_compact_adaptive_ivf_store(
                    spark,
                    sf_dir,
                    k1,
                    max_batch_dirs=compact_max_batch_dirs,
                    exclude_batch_ids={f"stream-{batch_id}"},
                )
            if reb["fired"] or mrg["fired"] or cmp_out["fired"]:
                log = os.path.join(
                    adaptive_ivf_store_path(sf_dir, k1),
                    "_maintenance_log.jsonl",
                )
                with open(log, "a") as f:
                    f.write(
                        _json.dumps(
                            {
                                "batch_id": batch_id,
                                "newly_hot": reb.get("newly_hot", []),
                                "merged": mrg.get("merged", []),
                                "compacted": cmp_out["compacted"],
                            }
                        )
                        + "\n"
                    )

    return _ingest_stream(
        spark, source_dir, schema, checkpoint_dir, ingest, max_files_per_trigger
    )


def adaptive_ivf_occupancy_from_footers(
    sf_dir: str, k1: int, hot_factor: float = ADAPTIVE_HOT_FACTOR
) -> dict[int, int]:
    """Per-level-1-cell row counts read from parquet FOOTERS only — the
    occupancy check a maintenance cron runs costs zero data IO (the
    pruned_scan_stats discipline). Walks the store's cid1=* subtrees and
    sums each file's footer num_rows via pyarrow."""
    import pyarrow.parquet as papq

    path = adaptive_ivf_store_path(sf_dir, k1, hot_factor)
    sizes: dict[int, int] = {}
    for entry in os.listdir(path):
        if not entry.startswith("cid1="):
            continue
        cid = int(entry.split("=", 1)[1])
        total = 0
        for dp, _, fs in os.walk(os.path.join(path, entry)):
            for f in fs:
                if f.endswith(".parquet"):
                    total += papq.ParquetFile(os.path.join(dp, f)).metadata.num_rows
        sizes[cid] = total
    return sizes


def _sweep_retired(path: str) -> list[str]:
    """Recover-then-clean leftover swap dirs from a crashed prior
    maintenance pass. The dot prefix keeps them invisible to Spark
    partition discovery and the footer walk, so a crash leaves the
    store readable; this sweep restores the old-or-new promise at the
    start of the next pass:

    - A ``.retired-cid1=N-*`` whose live ``cid1=N`` is MISSING is the
      ONLY copy of that cell (crash landed between the two renames of
      _swap_cell_subtree): it is renamed BACK into place — the swap
      rolls back to the old state — never deleted.
    - A ``.retired-*`` whose live cell exists is a completed swap's
      stranded old copy: deleted (roll forward).
    - ``.rebalance-*`` / ``.merge-*`` staging is never the only copy
      (the live cell or its retired copy always holds the data):
      deleted after any restore."""
    swept = []
    entries = sorted(os.listdir(path))
    for entry in entries:
        if not entry.startswith(".retired-"):
            continue
        # .retired-cid1=N-<uuid> -> live name cid1=N
        live = entry[len(".retired-"):].rsplit("-", 1)[0]
        live_dir = os.path.join(path, live)
        if os.path.isdir(live_dir):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
        else:
            os.rename(os.path.join(path, entry), live_dir)
        swept.append(entry)
    for entry in entries:
        if entry.startswith((".rebalance-", ".merge-")):
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
            swept.append(entry)
    return swept


def _swap_cell_subtree(
    path: str, cid: int, tmp: str, allow_missing: bool = False
) -> None:
    """Atomically publish a rewritten ``cid1=cid`` subtree. The old
    subtree is first renamed to a DOT-PREFIXED name inside the store
    root (``.retired-cid1=N-<uuid>``) so a crash between rename and
    rmtree — or a concurrent reader hitting the swap window — never
    sees a directory that partition discovery would parse as a cid1
    value (a bare ``cid1=N.retired-...`` breaks type inference AND
    makes the footer occupancy walk crash on int()).

    ``allow_missing``: publish tmp directly when no live subtree exists
    (a replayed code sync for a cell whose subtree was never written,
    or was removed by a crash) — rename-into-place instead of a
    FileNotFoundError out of the first rename (ADVICE r11 #4)."""
    cell_dir = os.path.join(path, f"cid1={cid}")
    if allow_missing and not os.path.isdir(cell_dir):
        os.rename(tmp, cell_dir)
        marker = os.path.join(cell_dir, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)
        return
    retired = os.path.join(path, f".retired-cid1={cid}-{uuid.uuid4().hex[:8]}")
    os.rename(cell_dir, retired)
    os.rename(tmp, cell_dir)
    shutil.rmtree(retired)
    # Spark writes a _SUCCESS marker inside the subtree; partition
    # discovery tolerates it, but drop it to keep leaves uniform
    marker = os.path.join(cell_dir, "_SUCCESS")
    if os.path.exists(marker):
        os.remove(marker)


def maybe_rebalance_adaptive_ivf_store(
    spark: SparkSession, sf_dir: str, k1: int
) -> dict:
    """The cron-shaped maintenance loop: check occupancy from footers
    (no scan), fire the rebalance only if some unsplit cell crossed the
    hot threshold. Returns {"fired": bool, "newly_hot": [...]} — a
    no-op check on a healthy store costs a directory walk.

    Sweeps crash leftovers before reading footers — a mid-swap crash
    leaves a cell's only copy in a dot-prefixed retired dir the footer
    walk skips, so thresholds computed pre-sweep would miss that
    cell's mass (and readers its rows) until some maintenance fired."""
    meta = load_adaptive_ivf_meta(sf_dir, k1)
    _sweep_retired(adaptive_ivf_store_path(sf_dir, k1))
    replay_pending_code_sync(spark, sf_dir, k1)
    sizes = adaptive_ivf_occupancy_from_footers(sf_dir, k1)
    n = sum(sizes.values())
    threshold = meta["hot_factor"] * n / k1
    pending = [
        c for c, sz in sizes.items()
        if sz > threshold and c not in meta["level2"]
    ]
    if not pending:
        return {"fired": False, "newly_hot": []}
    out = rebalance_adaptive_ivf_store(spark, sf_dir, k1)
    return {"fired": True, **out}


def maybe_merge_adaptive_ivf_store(
    spark: SparkSession, sf_dir: str, k1: int, cold_factor: float = 1.0
) -> dict:
    """Merge-side twin of maybe_rebalance: footer-only occupancy check
    (zero data IO), fire merge_cold_cells only if some SPLIT cell
    drifted to or below ``cold_factor`` x average. The (cold 1.0 /
    hot 1.25) pair is the hysteresis band — see
    merge_cold_cells_adaptive_ivf_store. Sweeps crash leftovers first,
    like maybe_rebalance — footer occupancy must include a cell whose
    only copy a mid-swap crash left in a retired dot-dir."""
    meta = load_adaptive_ivf_meta(sf_dir, k1)
    _sweep_retired(adaptive_ivf_store_path(sf_dir, k1))
    replay_pending_code_sync(spark, sf_dir, k1)
    sizes = adaptive_ivf_occupancy_from_footers(sf_dir, k1)
    n = sum(sizes.values())
    threshold = cold_factor * n / k1
    pending = [
        c for c in meta["level2"] if sizes.get(c, 0) <= threshold
    ]
    if not pending:
        return {"fired": False, "merged": []}
    out = merge_cold_cells_adaptive_ivf_store(spark, sf_dir, k1, cold_factor)
    return {"fired": True, **out}


def rebalance_adaptive_ivf_store(
    spark: SparkSession, sf_dir: str, k1: int
) -> dict:
    """Maintenance for DRIFT: stream ingest concentrates new mass in a
    few cells (new data is rarely uniform over an old quantizer), and a
    cell that was cold at build time crosses the hot threshold. This
    re-evaluates occupancy over the CURRENT store (base + all ingested
    batches), runs a level-2 fit for exactly the newly-hot cells, and
    swaps each cell's partition subtree in place (dot-tmp build →
    retire-old → rename-new, the compact_table per-leaf discipline; a
    single-writer maintenance job, like compaction). Already-split and
    still-cold cells are untouched — O(changed cells), never a store
    rebuild. Meta is updated last (level2 + hot_cells + sizes), so
    routers only see a split cell once its leaves exist.

    Replay safety: a pre-rebalance batch REPLAYED after the split is
    still self-rewriting — the rebalance preserves every row's
    batch_id while re-leafing it, and a replay routes through the
    LIVE meta (the same level-2 quantizer the rebalance assigned
    with, same lowest-index argmin tie-break), so it regenerates
    exactly the leaves the rebalance produced and dynamic overwrite
    replaces them with identical content (pinned by
    test_adaptive_ivf_rebalance: replaying the drift batch after the
    split is a byte-level no-op). The remaining constraint is the
    single-writer one every maintenance job here has: don't run the
    subtree swap CONCURRENTLY with an in-flight batch write for the
    same cell — pause/drain the ingest stream around the rebalance,
    as with compaction.

    Returns {"newly_hot": [...], "sizes": {...}} for the caller's audit
    trail."""
    from ..pipeline.clustering import _lloyd_fit_frame
    from ..pipeline.params import ivf_cells_for

    path = adaptive_ivf_store_path(sf_dir, k1)
    _sweep_retired(path)
    meta = load_adaptive_ivf_meta(sf_dir, k1)
    df = spark.read.parquet(path)
    sizes = {
        r["cid1"]: r["n"]
        for r in df.groupBy("cid1").agg(F.count("*").alias("n")).collect()
    }
    n = sum(sizes.values())
    threshold = meta["hot_factor"] * n / k1
    newly_hot = sorted(
        c for c, sz in sizes.items()
        if sz > threshold and c not in meta["level2"]
    )
    # durable promise BEFORE the vector swaps invalidate the code
    # store's leaf layout: a crash anywhere after the first swap is
    # replayed from the marker on the next maintenance/ingest entry
    # (ADVICE r11 #1 — the window between meta publish and the trailing
    # sync left the layouts permanently diverged)
    if newly_hot:
        record_pending_code_sync(sf_dir, k1, newly_hot)
    for cid in newly_hot:
        cell = (
            df.where(F.col("cid1") == cid)
            .select("vec_id", "embedding", "batch_id")
        )
        k2 = ivf_cells_for(sizes[cid])
        seeds2 = _distinct_seeds(cell.select("vec_id", "embedding"), k2)
        asg2, cents2 = _lloyd_fit_frame(
            cell.select("vec_id", "embedding"), seeds2
        )
        rewritten = cell.join(
            asg2.select("vec_id", F.col("cid").alias("cid2")), "vec_id"
        ).select("vec_id", "embedding", "cid2", "batch_id")
        _rewrite_cell(path, cid, rewritten, "rebalance")
        meta["level2"][cid] = cents2
    meta["hot_cells"] = sorted(set(meta["hot_cells"]) | set(newly_hot))
    _write_adaptive_meta(spark, path, meta, sizes)
    # keep the code-store twin's leaf layout mirrored (no-op if unbuilt)
    sync_adaptive_ivfpq_code_cells(spark, sf_dir, k1, newly_hot)
    return {"newly_hot": newly_hot, "sizes": sizes}


def merge_cold_cells_adaptive_ivf_store(
    spark: SparkSession, sf_dir: str, k1: int, cold_factor: float = 1.0
) -> dict:
    """The REVERSE lifecycle: a split cell whose occupancy drifted back
    below ``cold_factor`` x average merges to a single (cid, 0) leaf —
    its level-2 quantizer is dropped and its partition subtree swapped
    in place (the rebalance discipline, run backwards). Splits are not
    permanent: growth elsewhere dilutes an old hot spot, and keeping
    the split costs leaf-count (small files, routing folds) with no
    scan benefit once the cell is ordinary.

    ``cold_factor`` < the build's hot_factor gives HYSTERESIS: a cell
    must drop clearly below average to merge (1.0) but clearly above
    to split (1.25), so occupancy noise around the threshold can't
    flap split/merge on every maintenance tick. Same single-writer
    rule around the swap; replay across the merge is safe for the same
    reason as the rebalance (arrivals route through the live meta —
    a merged cell routes everything to cid2 = 0).

    Returns {"merged": [...], "sizes": {...}}."""
    path = adaptive_ivf_store_path(sf_dir, k1)
    _sweep_retired(path)
    meta = load_adaptive_ivf_meta(sf_dir, k1)
    df = spark.read.parquet(path)
    sizes = {
        r["cid1"]: r["n"]
        for r in df.groupBy("cid1").agg(F.count("*").alias("n")).collect()
    }
    n = sum(sizes.values())
    threshold = cold_factor * n / k1
    merged = sorted(
        c for c in meta["level2"] if sizes.get(c, 0) <= threshold
    )
    # same durable pre-swap promise as the rebalance (ADVICE r11 #1)
    if merged:
        record_pending_code_sync(sf_dir, k1, merged)
    for cid in merged:
        rewritten = (
            df.where(F.col("cid1") == cid)
            .select(
                "vec_id", "embedding", F.lit(0).alias("cid2"), "batch_id"
            )
        )
        _rewrite_cell(path, cid, rewritten, "merge")
        del meta["level2"][cid]
    if merged:
        meta["hot_cells"] = [
            c for c in meta["hot_cells"] if c not in set(merged)
        ]
        _write_adaptive_meta(spark, path, meta, sizes)
    # merged cells collapsed to a single (cid, 0) leaf: mirror the codes
    sync_adaptive_ivfpq_code_cells(spark, sf_dir, k1, merged)
    return {"merged": merged, "sizes": sizes}


def update_adaptive_ivf_store(
    spark: SparkSession,
    sf_dir: str,
    new_vectors: DataFrame,
    batch_id: str,
    k1: int,
):
    """Incremental maintenance: route arrivals through the STORED
    adaptive quantizer — level-1 argmin for everyone, level-2 argmin
    only on rows routed into hot cells (per-branch filtered selects,
    never k1 x k2 folds; cold-cell rows take cid2 = 0) — and land the
    batch under its own (cid1, cid2, batch_id) leaves with dynamic
    partition overwrite (at-least-once replay rewrites itself).

    Sweeps crash leftovers FIRST: if a prior maintenance pass died
    between _swap_cell_subtree's two renames, the retired dot-dir is
    the only copy of that cell. Writing the batch before restoring it
    would recreate the live ``cid1=N`` with only the batch's rows, and
    the next sweep would then roll FORWARD (delete the retired copy) —
    silently dropping the cell's pre-crash rows. Restoring before the
    write keeps the old-or-new guarantee."""
    from ..pipeline.clustering import assign_cid_expr
    from ..session import tracked_persist

    store_path = adaptive_ivf_store_path(sf_dir, k1)
    if os.path.isdir(store_path):
        _sweep_retired(store_path)
    meta = load_adaptive_ivf_meta(sf_dir, k1)
    routed = tracked_persist(
        new_vectors.selectExpr(
            "vec_id", "embedding",
            f"{assign_cid_expr('embedding', meta['cents1'])} AS cid1",
        )
    )
    branches = []
    for c1 in range(len(meta["cents1"])):
        rows = routed.where(F.col("cid1") == c1)
        if c1 in meta["level2"]:
            branches.append(
                rows.selectExpr(
                    "vec_id", "embedding", "cid1",
                    f"{assign_cid_expr('embedding', meta['level2'][c1])} AS cid2",
                )
            )
        else:
            branches.append(
                rows.select(
                    "vec_id", "embedding", "cid1", F.lit(0).alias("cid2")
                )
            )
    assigned = functools.reduce(
        lambda a, b: a.unionByName(b), branches
    ).withColumn("batch_id", F.lit(batch_id))
    _write_batch_leaves(assigned, adaptive_ivf_store_path(sf_dir, k1), "cid1", "cid2")
    # mirror the batch into the code-store twin (no-op if unbuilt):
    # probes over the compressed layout must see arrivals at the same
    # batch-commit boundary the vector layout does
    update_adaptive_ivfpq_codes(spark, sf_dir, k1, batch_id)


# ---------------------------------------------------------------------------
# PQ code store: the encoded table the ADC scan reads
# ---------------------------------------------------------------------------


def pq_code_store_path(sf_dir: str) -> str:
    from ..pipeline.similarity import PQ_K, PQ_S

    return _store_path("pq-codes", f"-s{PQ_S}k{PQ_K}", sf_dir, _EMB)


def build_pq_code_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the product-quantization codes (vec_id, c0..c{S-1}) —
    the PQ_S-byte-per-vector encoded table ann_pq_topk's docstring
    commits to: encoding runs once at ingest, every ADC scan thereafter
    reads the narrow code columns instead of re-running S x K distance
    folds over the float corpus. Keyed by the subspace/codeword constants
    plus the data fingerprint (the seeded codebooks are the first PQ_K
    vectors, i.e. part of the fingerprinted data)."""
    from ..pipeline.similarity import pq_codes_frame

    return _publish(
        pq_code_store_path(sf_dir),
        lambda tmp: pq_codes_frame(spark, sf_dir)
        .coalesce(4)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def read_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """(vec_id, c0..c{S-1}) from the PQ code store, or None."""
    from ..pipeline.similarity import PQ_S

    df = _read_store(spark, pq_code_store_path(sf_dir))
    return None if df is None else df.select("vec_id", *[f"c{s}" for s in range(PQ_S)])


def pq_codebook_store_path(sf_dir: str) -> str:
    from ..pipeline.pq import PQT_ITERS
    from ..pipeline.similarity import PQ_K, PQ_S

    return _store_path("pq-codebook", f"-s{PQ_S}k{PQ_K}i{PQT_ITERS}", sf_dir, _EMB)


def build_pq_codebook_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the TRAINED per-subspace PQ codebook (pq.pq_train_fit)
    as JSON — the "train once, serve many" store for the trained-PQ
    family, symmetric with the k-means fit store: json.dumps of Python
    floats round-trips doubles exactly, so a fresh session loads the
    identical quantizer in one tiny read instead of re-running the
    per-subspace Lloyd rounds. Keyed by the subspace/codeword/iteration
    constants plus the data fingerprint."""
    from ..pipeline.pq import pq_train_fit

    return _publish(
        pq_codebook_store_path(sf_dir),
        lambda tmp: _write_json(
            tmp, {"vseeds": pq_train_fit(spark, sf_dir)}, "codebook.json"
        ),
    )


def load_pq_codebook(sf_dir: str):
    """Trained virtual-seed codebook from the store, or None."""
    blob = _read_json(pq_codebook_store_path(sf_dir), "codebook.json")
    return None if blob is None else _floats(blob["vseeds"])


def ivfpq_code_store_path(sf_dir: str, k: int) -> str:
    from ..pipeline.similarity import PQ_K, PQ_S

    return _store_path("ivfpq-codes", f"-k{k}s{PQ_S}k{PQ_K}", sf_dir, _EMB)


def build_ivfpq_code_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the IVF-PQ inverted lists: the PQ codes written to
    parquet PARTITIONED BY their k-means cell (cid at the corpus-derived
    ladder width). This is the FAISS-IVFPQ file layout re-expressed as a
    lakehouse table — a probe reads ``nprobe`` partition directories of
    PQ_S-byte code rows (the cell filter is a PartitionFilter, so the
    unprobed cells' files are never opened), instead of either the float
    corpus (IVF alone) or the full code table (PQ alone). At 100 TB the
    read per probe is nprobe/k of an already-S-bytes-per-vector table —
    the product of the two prunings."""
    from ..pipeline.clustering import kmeans_fit
    from ..pipeline.params import corpus_count, ivf_cells_for
    from ..pipeline.similarity import pq_codes_frame

    k = ivf_cells_for(corpus_count(spark, sf_dir, "embeddings"))

    def write(tmp: str) -> None:
        asg, _cents = kmeans_fit(spark, sf_dir, k=k)
        (
            pq_codes_frame(spark, sf_dir)
            .join(asg, "vec_id")
            # batch_id sub-partition: the SAME two-level layout
            # update_ivfpq_code_store appends into (mixed partition depths
            # break discovery); the base build is just batch "base"
            .withColumn("batch_id", F.lit("base"))
            .repartition("cid")  # one writer group per cell dir
            .write.mode("overwrite")
            .partitionBy("cid", "batch_id")
            .parquet(tmp)
        )
        _write_json(tmp, {"k": k})

    return _publish(ivfpq_code_store_path(sf_dir, k), write)


def read_ivfpq_codes(spark: SparkSession, sf_dir: str, k: int) -> DataFrame | None:
    """(vec_id, cid, c0..c{S-1}) from the IVF-PQ store at width ``k``, or
    None."""
    from ..pipeline.similarity import PQ_S

    df = _read_store(spark, ivfpq_code_store_path(sf_dir, k))
    return None if df is None else df.select(
        "vec_id", "cid", *[f"c{s}" for s in range(PQ_S)]
    )


def update_ivfpq_code_store(
    spark: SparkSession,
    store_path: str,
    centroids,
    seeds: list[list[float]],
    new_vectors: DataFrame,
    batch_id: str,
):
    """Incremental IVF-PQ maintenance — the vector-DB ingest path for the
    compressed index: route a batch of NEW vectors through the STORED
    coarse quantizer (same centroids the probe router uses) AND encode
    them against the STORED codebook, then write only the code rows into
    the (cid, batch_id) layout. No refit, no re-encode of existing cells:
    k distance literals + S single-fold encodes per new vector, map-only,
    then a partitioned write of just the batch — at 100 TB the write is
    PQ_S bytes per arriving vector.

    Idempotence: dynamic partition overwrite means a replayed batch
    rewrites its own (cid, batch_id) leaves instead of appending
    duplicates — same at-least-once discipline as update_ivf_index. The
    probe's partition filter on cid is untouched (batch_id is a
    sub-directory of the cell)."""
    from ..pipeline.clustering import assign_cid_expr
    from ..pipeline.similarity import pq_encode

    routed = new_vectors.selectExpr(
        "vec_id", "embedding", f"{assign_cid_expr('embedding', centroids)} AS cid"
    )
    assigned = pq_encode(routed, seeds, keep=("cid",)).withColumn(
        "batch_id", F.lit(batch_id)
    )
    _write_batch_leaves(assigned, store_path, "cid")


def run_ivfpq_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    store_path: str,
    centroids,
    seeds: list[list[float]],
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of ``update_ivfpq_code_store``: compressed-index
    ingest as a Structured Streaming job. Each micro-batch routes through
    the stored quantizer and encodes against the stored codebook, landing
    under ``(cid, batch_id=stream-N)`` with dynamic partition overwrite —
    foreachBatch's at-least-once replay rewrites the batch's own leaves,
    so ADC scans see each vector exactly once. New codes are probe-visible
    as soon as the batch commits."""

    def ingest(batch_df, batch_id: int):
        update_ivfpq_code_store(
            spark,
            store_path,
            centroids,
            seeds,
            batch_df.select("vec_id", "embedding"),
            f"stream-{batch_id}",
        )

    return _ingest_stream(
        spark, source_dir, schema, checkpoint_dir, ingest, max_files_per_trigger
    )


def ivfpq_store_k(path: str) -> int:
    """The coarse-quantizer width the store was BUILT at (meta.json —
    never the current corpus count; same contract as rhp_store_bits)."""
    return int(_read_json(path)["k"])


def fold_ivfpq_stream_into_corpus(
    spark: SparkSession, corpus_sf_dir: str, store_dir: str, source_dir: str
) -> str:
    """Compaction counterpart of ``run_ivfpq_ingest_stream`` (VERDICT r8
    #4, mirroring ``fold_rhp_stream_into_corpus``): fold stream-ingested
    vectors back into the corpus embeddings table so the quantizer REFIT
    guard (``refit_ivfpq_code_store`` refuses stores holding vectors
    absent from the corpus — a re-fit index that forgets rows is worse
    than a stale quantizer) can see them and the compressed index can
    re-fit its coarse quantizer / re-train codebooks over the GROWN
    corpus. Without this, a stream-fed IVF-PQ index is pinned to its
    build-time quantizer forever: ladder rung crossings (k growing with
    n) are impossible because a from-scratch rebuild would silently drop
    every streamed vector.

    Same fold mechanics as the RHP fold (shared
    ``_fold_stream_vectors_into_corpus``: idempotent batch-keyed
    partitions, cache invalidation) with ONE deliberate difference: the
    store is NOT renamed to the refreshed fingerprint path. RHP banding
    at fixed bits is corpus-independent (plane k is the same for every
    corpus), so the renamed band store is provably identical to a
    from-scratch banding; a k-means quantizer DEPENDS on the corpus, so
    parking the old-quantizer codes at the grown corpus's fingerprint
    path would let fingerprint-keyed consumers silently treat them as a
    fresh fit. The folded store stays at its own path, still valid for
    serving with ITS stored quantizer, until ``refit_ivfpq_code_store``
    publishes the genuine re-fit and retires it. Returns the (unmoved)
    store path."""
    _fold_stream_vectors_into_corpus(
        spark, corpus_sf_dir, spark.read.parquet(store_dir), source_dir
    )
    return store_dir


def refit_ivfpq_code_store(
    spark: SparkSession, sf_dir: str, store_dir: str
) -> str:
    """Re-fit the IVF-PQ store over the (grown) corpus: coarse quantizer
    at the corpus-size-derived ladder width, codes re-encoded for EVERY
    corpus vector — the rung-crossing step of the compressed index's
    lifecycle (the RHP store migrates incrementally because plane k is
    width-independent; a k-means quantizer has no such delta, so its
    crossing is a rebuild by construction — FAISS retrains, so do we).

    REFUSES (orphan guard, the migrate_rhp_band_store contract) when the
    store holds vectors absent from the corpus table: a refit would
    silently drop them — run ``fold_ivfpq_stream_into_corpus`` first.
    The superseded store is retired once the refit store is published
    (build is atomic tmp+rename, so a crash leaves the old store
    serving)."""
    from ..tables import load_tpch

    emb_ids = load_tpch(spark, sf_dir)["embeddings"].select("vec_id")
    stored = spark.read.parquet(store_dir).select("vec_id").distinct()
    orphans = stored.join(emb_ids, "vec_id", "left_anti").count()
    if orphans:
        raise ValueError(
            f"refit would drop {orphans} stored vectors absent from the "
            "corpus; run fold_ivfpq_stream_into_corpus first"
        )
    new_path = build_ivfpq_code_store(spark, sf_dir)
    if new_path != store_dir and os.path.isdir(store_dir):
        shutil.rmtree(store_dir)
    return new_path


# ---------------------------------------------------------------------------
# RHP band store: the materialized random-hyperplane near-dup index
# ---------------------------------------------------------------------------


def rhp_band_store_path(sf_dir: str, bits: int) -> str:
    from ..pipeline.similarity import RHP_TABLES

    return _store_path("rhp-bands", f"-L{RHP_TABLES}k{bits}", sf_dir, _EMB)


def build_rhp_band_store(
    spark: SparkSession, sf_dir: str, bits: int | None = None
) -> str:
    """Materialize the (vec_id, tbl, bucket) band table of the
    random-hyperplane LSH at the corpus-size-derived bit width — the
    vector-side half of the stored near-dup index (the text side being
    the MinHash signature/postings stores). The L x K sign-pattern folds
    are the dominant cost of every RHP consumer (the LSH dedup query,
    the occupancy audit, the recall audit); a 100 TB pipeline computes
    them once at ingest and every consumer reads the band table back.
    Partitioned by ``tbl`` with a ``batch_id`` sub-partition so
    incremental ingest (run_rhp_band_stream) appends per-batch leaves
    into the same two-level layout as the IVF index. ``meta.json``
    records the build-time width: INCREMENTS MUST USE THE STORED WIDTH,
    not the current corpus count — a bucket id is only comparable within
    one width."""
    from ..pipeline.params import corpus_count, rhp_bits_for
    from ..pipeline.similarity import rhp_band_frame_at

    if bits is None:
        bits = rhp_bits_for(corpus_count(spark, sf_dir, "embeddings"))
    return _publish(
        rhp_band_store_path(sf_dir, bits),
        lambda tmp: _write_rhp_bands(rhp_band_frame_at(spark, sf_dir, bits), bits, tmp),
    )


def _write_rhp_bands(bands: DataFrame, bits: int, tmp: str) -> None:
    """The band-store layout, shared by the full build and the width
    migration: (tbl, batch_id=base) partitions with bucket-clustered row
    groups, plus the ``_meta.json`` width sidecar (underscore prefix:
    Spark file listing skips it, so it never breaks parquet reads)."""
    from ..pipeline.similarity import RHP_TABLES

    (
        bands.withColumn("batch_id", F.lit("base"))
        .repartition("tbl")  # one writer group per table dir
        .sortWithinPartitions("tbl", "bucket")  # bucket-clustered row groups
        .write.mode("overwrite")
        .partitionBy("tbl", "batch_id")
        .parquet(tmp)
    )
    _write_json(tmp, {"bits": bits, "tables": RHP_TABLES})


def read_rhp_bands(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame | None:
    """(vec_id, tbl, bucket) from the band store at width ``bits``, or
    None."""
    df = _read_store(spark, rhp_band_store_path(sf_dir, bits))
    return None if df is None else df.select("vec_id", "tbl", "bucket")


def rhp_store_bits(path: str) -> int:
    """The width a band store was BUILT at (its ``_meta.json``)."""
    return int(_read_json(path)["bits"])


def update_rhp_band_store(
    spark: SparkSession, store_dir: str, new_vectors: DataFrame, batch_id: str
) -> None:
    """Incremental band maintenance: band a batch of NEW vectors at the
    STORE'S width (meta.json — never the current corpus count) and land
    the rows under (tbl, batch_id) with dynamic partition overwrite, so
    an at-least-once replay rewrites its own partitions instead of
    appending duplicates. Map-only: L x K folds per new vector, no
    shuffle beyond the 8-way tbl write."""
    from ..pipeline.similarity import RHP_TABLES, _rhp_bucket

    bits = rhp_store_bits(store_dir)
    banded = new_vectors.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    _rhp_bucket("embedding", tb, bits)
                    for tb in range(RHP_TABLES)
                ]
            )
        ).alias("tbl", "bucket"),
        F.lit(batch_id).alias("batch_id"),
    )
    _write_batch_leaves(banded, store_dir, "tbl")


def migrate_rhp_band_store(
    spark: SparkSession, sf_dir: str, old_path: str, new_bits: int
) -> str:
    """Width migration WITHOUT re-banding: when corpus growth crosses a
    ladder rung, bucket ids at the old width k are exact PREFIXES of the
    new width k' (bit j of table t is the same hyperplane at any width,
    so bucket_k' = bucket_k + sum_{j=k..k'-1} bit_j << j). The migration
    therefore computes ONLY the k'-k delta bits per vector — one scan of
    embeddings with (k'-k) plane folds per table instead of k' — and
    adds them to the STORED buckets via a vec_id-keyed join. At 100 TB
    that is the difference between touching every plane fold again and
    touching the few new ones; this is why a growing corpus "only ever
    refines its existing buckets".

    Publishes a fresh store at the new width (old store left in place
    for readers mid-migration); returns the new path."""
    from ..pipeline.similarity import RHP_TABLES, _rhp_bucket
    from ..tables import load_tpch

    old_bits = rhp_store_bits(old_path)
    if new_bits < old_bits:
        raise ValueError(
            f"cannot narrow a band store in place ({old_bits} -> {new_bits}); "
            "narrower buckets are not derivable from wider ids' low bits "
            "alone — rebuild instead"
        )
    new_path = rhp_band_store_path(sf_dir, new_bits)
    if os.path.isdir(new_path):
        return new_path
    emb = load_tpch(spark, sf_dir)["embeddings"]
    old = spark.read.parquet(old_path).select("vec_id", "tbl", "bucket")
    # the delta bits derive from the corpus table; a stored vector with no
    # corpus row (e.g. stream-ingested but not yet compacted into the
    # table) would be SILENTLY DROPPED by the refinement join — refuse
    # loudly instead, because an index that forgets rows is worse than a
    # failed migration
    orphans = (
        old.select("vec_id")
        .distinct()
        .join(emb.select("vec_id"), "vec_id", "left_anti")
        .limit(1)
        .count()
    )
    if orphans:
        raise ValueError(
            "band store holds vectors absent from the corpus table "
            "(stream-ingested rows not yet folded into embeddings); fold "
            "them into the table first, then migrate"
        )
    deltas = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    _rhp_bucket(
                        "embedding", tb, new_bits, start=old_bits
                    )
                    for tb in range(RHP_TABLES)
                ]
            )
        ).alias("tbl", "delta"),
    )
    migrated = old.join(deltas, ["vec_id", "tbl"]).select(
        "vec_id", "tbl", (F.col("bucket") + F.col("delta")).alias("bucket")
    )
    return _publish(new_path, functools.partial(_write_rhp_bands, migrated, new_bits))


def ensure_rhp_band_store(
    spark: SparkSession, sf_dir: str, bits: int | None = None
) -> str:
    """Self-healing entry point for the band store across ladder rungs:
    if a store already exists at the target width, return it; if one
    exists at a NARROWER width (the corpus crossed a rung since the last
    build), refine it via the delta-bit migration instead of re-banding;
    only with no usable prior store does a full build run. This is the
    index-maintenance loop a growing 100 TB corpus actually runs — the
    expensive full banding happens once in the table's life, and every
    rung crossing afterwards costs only the new planes' folds."""
    from ..pipeline.params import corpus_count, rhp_bits_for

    if bits is None:
        bits = rhp_bits_for(corpus_count(spark, sf_dir, "embeddings"))
    path = rhp_band_store_path(sf_dir, bits)
    if os.path.isdir(path):
        return path
    # widest existing NARROWER store for this corpus fingerprint — the
    # cheapest migration source (fewest delta bits)
    best = None
    best_bits = -1
    root = store_root()
    if os.path.isdir(root):
        for name in os.listdir(root):
            cand = os.path.join(root, name)
            if not name.startswith("rhp-bands-"):
                continue
            meta = _read_json(cand)
            if meta is None:
                continue
            b = int(meta["bits"])
            # exact-path check: same version, L, corpus fingerprint
            if cand != rhp_band_store_path(sf_dir, b):
                continue
            if b < bits and b > best_bits:
                best, best_bits = cand, b
    if best is not None:
        return migrate_rhp_band_store(spark, sf_dir, best, bits)
    return build_rhp_band_store(spark, sf_dir, bits)


def run_rhp_band_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    store_dir: str,
    checkpoint_dir: str,
):
    """Streaming twin of ``update_rhp_band_store``: arriving vectors are
    banded at the stored width and appended under (tbl, batch_id=stream-N)
    — the same replay-idempotent two-level layout as the IVF ingest
    stream; probes (bucket joins against the band table) see each vector
    exactly once."""

    def ingest(batch_df, batch_id: int):
        update_rhp_band_store(
            spark,
            store_dir,
            batch_df.select("vec_id", "embedding"),
            f"stream-{batch_id}",
        )

    return _ingest_stream(spark, source_dir, schema, checkpoint_dir, ingest)


def init_growable_corpus(spark: SparkSession, src_sf_dir: str, corpus_dir: str) -> str:
    """Materialize a GROWABLE corpus directory from a static sf_dir: the
    embeddings table is rewritten PARTITIONED BY ``ingest_batch``
    (``ingest_batch=base`` for the seed rows) so that stream-ingest folds
    (``fold_rhp_stream_into_corpus``) can land each wave as its own
    idempotently-overwritable partition; every other table is symlinked
    unchanged. This is the table layout a live 100 TB corpus runs — the
    read-only fixture directories stay byte-identical for the oracles."""
    from ..tables import TPCH_TABLES, load_tpch

    os.makedirs(corpus_dir, exist_ok=True)
    emb_dst = os.path.join(corpus_dir, "embeddings.parquet")
    if not os.path.isdir(emb_dst):
        (
            load_tpch(spark, src_sf_dir)["embeddings"]
            .withColumn("ingest_batch", F.lit("base"))
            .write.partitionBy("ingest_batch")
            .mode("overwrite")
            .parquet(emb_dst)
        )
    for name in TPCH_TABLES:
        if name == "embeddings":
            continue
        dst = os.path.join(corpus_dir, f"{name}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(src_sf_dir, f"{name}.parquet"), dst)
    return corpus_dir


def _invalidate_corpus_caches(corpus_sf_dir: str) -> None:
    """Drop per-session caches keyed on a corpus whose CONTENT just
    changed (table frames, row counts): partition discovery and ladder
    widths must re-derive on next use. The fit memos matter most: a
    stale ``kmeans_fit`` / ``pq_train_fit`` after a fold would hand
    every IVF probe and index build a quantizer that silently excludes
    the folded vectors — the exact "index that forgets rows" failure
    the fold exists to prevent (ADVICE r8 #1)."""
    from ..driver_queries import _DF_CACHE
    from ..pipeline.params import _COUNT_CACHE
    from ..tables import _TPCH_CACHE

    caches = [_TPCH_CACHE, _COUNT_CACHE, _DF_CACHE]
    try:  # pipeline is an optional import, like session.release_caches
        from ..pipeline import clustering, pq

        caches += [clustering._FIT_CACHE, pq._FIT_CACHE]
    except ImportError:
        pass
    for cache in caches:
        for k in [k for k in cache if corpus_sf_dir in str(k)]:
            del cache[k]


def _fold_stream_vectors_into_corpus(
    spark: SparkSession, corpus_sf_dir: str, store_rows, source_dir: str
) -> None:
    """Shared fold mechanics for every stream-fed vector store (RHP bands,
    IVF-PQ codes): the store's own rows record WHICH vectors arrived by
    stream (``batch_id`` != "base"); their float vectors join back from
    the staging area the stream consumed and land in the corpus table
    under ``ingest_batch=fold-<batch>`` partitions with dynamic partition
    overwrite. Only batches MISSING from the corpus are written — a
    re-run (or a replay after a crash between the data write and the
    store rename) must not rewrite committed partitions, since rewriting
    would bump their mtimes and move the corpus fingerprint on every
    no-op run. Columns the staging rows lack fill NULL at the corpus
    type. Per-session caches keyed on this corpus (table frames, counts,
    fit memos) invalidate when anything folds."""
    emb_dir = os.path.join(corpus_sf_dir, "embeddings.parquet")
    done = {
        name.split("=", 1)[1]
        for name in os.listdir(emb_dir)
        if name.startswith("ingest_batch=fold-")
    }
    stream_batches = {
        r["batch_id"]
        for r in store_rows.select("batch_id").distinct().collect()
        if r["batch_id"] != "base"
    }
    todo = sorted(b for b in stream_batches if f"fold-{b}" not in done)
    if todo:
        corpus_schema = spark.read.parquet(emb_dir).drop("ingest_batch").schema
        stream_vecs = (
            store_rows.where(F.col("batch_id").isin(todo))
            .select("vec_id", "batch_id")
            .distinct()
        )
        src = spark.read.parquet(source_dir)
        cols = []
        for field in corpus_schema.fields:
            if field.name in src.columns:
                cols.append(
                    F.col(field.name).cast(field.dataType).alias(field.name)
                )
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        folded = src.join(stream_vecs, "vec_id").select(
            *cols,
            F.concat(F.lit("fold-"), F.col("batch_id")).alias("ingest_batch"),
        )
        (
            folded.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch")
            .parquet(emb_dir)
        )
        _invalidate_corpus_caches(corpus_sf_dir)


def fold_rhp_stream_into_corpus(
    spark: SparkSession, corpus_sf_dir: str, store_dir: str, source_dir: str
) -> str:
    """Compaction counterpart of ``run_rhp_band_stream`` (VERDICT r7 #2):
    fold the stream-ingested vectors back into the corpus embeddings
    table, so the width-migration guard (which refuses stores holding
    vectors absent from the corpus — an index that forgets rows is worse
    than a failed migration) can see them and the index can cross ladder
    rungs again. Without this, a live stream-fed index is pinned at its
    build width forever.

    Mechanics: the band store itself records WHICH vectors arrived by
    stream (rows under ``batch_id=stream-N``); their float vectors are
    joined back from the staging area the stream consumed
    (``source_dir``) and written into the corpus table under
    ``ingest_batch=fold-stream-N`` partitions with dynamic partition
    overwrite — a crashed or replayed fold rewrites its own partitions
    byte-identically instead of appending duplicates (idempotent
    batch-keyed append). Columns the staging rows lack (label) fill NULL
    at the corpus type.

    The store path embeds the corpus fingerprint, which the fold just
    changed — the store is RENAMED to the refreshed fingerprint path
    (metadata move, no data rewrite) so ``ensure_rhp_band_store``
    resolves it for the grown corpus; the rename also makes the
    pre-fold path vanish, which is correct (that corpus state no longer
    exists). Returns the refreshed store path."""
    bits = rhp_store_bits(store_dir)
    _fold_stream_vectors_into_corpus(
        spark, corpus_sf_dir, spark.read.parquet(store_dir), source_dir
    )
    new_path = rhp_band_store_path(corpus_sf_dir, bits)
    if new_path != store_dir:
        if os.path.isdir(new_path):
            # a store for the grown corpus already exists (a concurrent
            # ensure_rhp_band_store rebuild, or a crashed fold that died
            # between the rename and its caller observing it): keep the
            # existing store and retire the pre-fold one — os.rename onto
            # a non-empty directory would raise and strand the lifecycle
            # (ADVICE r8 #4)
            shutil.rmtree(store_dir)
        else:
            os.rename(store_dir, new_path)
    return new_path


def run_ivf_ingest_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    index_dir: str,
    centroids,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of ``update_ivf_index``: the vector-index ingest
    path as a Structured Streaming job. Each micro-batch of arriving
    vectors routes through the STORED quantizer (router and cells stay
    consistent — no refit) and lands under ``(cid, batch_id=stream-N)``
    partitions with dynamic partition overwrite, so foreachBatch's
    at-least-once replay rewrites the batch's own partitions instead of
    appending duplicates; probes see each vector exactly once. Newly
    written vectors are probe-visible as soon as the batch commits (the
    probe's partition discovery lists the cell directory). Periodic
    ``compact_ivf_cell`` folds the accumulated per-batch leaves —
    compact only batches outside the stream's replay window (the
    standard log-compaction rule documented there)."""

    def ingest(batch_df, batch_id: int):
        update_ivf_index(
            spark,
            index_dir,
            centroids,
            batch_df.select("vec_id", "embedding"),
            f"stream-{batch_id}",
        )

    return _ingest_stream(
        spark, source_dir, schema, checkpoint_dir, ingest, max_files_per_trigger
    )


def compact_ivf_cell(
    spark: SparkSession,
    index_dir: str,
    cid: int,
    target_bytes: int = DEFAULT_TARGET_BYTES,
):
    """Fold ONE cell's accumulated per-batch directories into a single
    consolidated batch partition. ``compact_table`` bin-packs within a
    leaf directory, and each (cid, batch_id) pair is its own leaf — so
    continuous ``update_ivf_index`` ingest needs THIS cross-batch step
    or the cell accumulates one small directory per batch forever (the
    exact small-file problem the module docstring warns about).

    Swap discipline: consolidated files land in a hidden sibling under a
    fresh ``batch_id=compacted-...`` leaf; the live cell is then renamed
    to a DOT-PREFIXED retirement dir (hidden: Spark partition discovery
    skips dot/underscore paths, so a crash mid-swap never leaves a
    malformed ``cid=N.old-...`` value for discovery to choke on) and the
    new dir renamed into place. The two renames are not one atomic unit:
    a crash in the window between them leaves the cell ABSENT but both
    hidden dirs intact — recovery is ``os.rename('.cid=N.old-<stamp>',
    'cid=N')`` (or the .compact dir, either is complete); probes in that
    window miss one cell's rows rather than reading partial state. A
    failed swap affects one cell only. Replay caveat (standard
    log-compaction rule): only compact batches OUTSIDE the ingest replay
    window — a replayed pre-compaction batch_id would dynamic-overwrite
    into a fresh directory and duplicate its rows against the
    consolidated files."""
    cell = os.path.join(index_dir, f"cid={cid}")
    df = spark.read.parquet(cell).drop("batch_id")
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(cell)
        for f in fs
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(total / target_bytes))
    stamp = uuid.uuid4().hex[:8]
    tmp = os.path.join(index_dir, f".cid={cid}.compact-{stamp}")
    df.coalesce(n_out).write.mode("overwrite").parquet(
        os.path.join(tmp, f"batch_id=compacted-{stamp}")
    )
    # dot-prefixed so partition discovery ignores it if a crash strands it
    old = os.path.join(index_dir, f".cid={cid}.old-{stamp}")
    os.rename(cell, old)
    os.rename(tmp, cell)
    shutil.rmtree(old)


# ---------------------------------------------------------------------------
# embedding pair-set store: the exact-cosine baseline and every RHP probe
# variant's verified pair set, materialized ONCE. The recall-audit family
# (embedding_lsh_*_recall_audit) previously re-derived both sides cold per
# audit — four audits x (baseline scan + probe chain) of pure recompute
# (VERDICT r9 #4). At 100 TB the pair sets ARE the dedup job's output;
# audits read the output table, they don't re-run the job.
# ---------------------------------------------------------------------------


def embedding_pair_store_path(sf_dir: str) -> str:
    # widths are corpus-derived (ladder) -> the embeddings fingerprint
    # keys them; flip counts are structural constants of the variants.
    # "p" layout tag: adds the planted-recovery variant (VERDICT r11
    # #4) — the tag retires pre-r12 stores, whose missing variant
    # partition would otherwise read as an EMPTY pair set, not a miss
    return _store_path("emb-pairs", "p", sf_dir, _EMB)


def _write_variants(builders: dict, cols: tuple[str, ...], spark, sf_dir, tmp) -> None:
    """One ``variant``-partitioned pair table from ``{variant: builder}``
    — the layout every pair-baseline store shares."""
    frames = [
        fn(spark, sf_dir).select(*cols).withColumn("variant", F.lit(v))
        for v, fn in builders.items()
    ]
    (
        functools.reduce(lambda a, b: a.unionByName(b), frames)
        .repartition("variant")
        .write.mode("overwrite")
        .partitionBy("variant")
        .parquet(tmp)
    )


def build_embedding_pair_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (id_new, id_corpus, cos) for the exact-cosine baseline
    and the four RHP probe variants, partitioned by ``variant`` so each
    audit's read is partition-pruned to exactly its pair set. Content is
    byte-equal to the live queries (the builders ARE the registered
    query functions), so every audit's DuckDB oracle — which still
    derives both sides from scratch — keeps hash-checking the store."""
    from ..pipeline import audit as aud
    from ..pipeline import similarity as sim

    # builders are the LIVE derivations (multiprobe_lsh_pairs directly,
    # not the registered names — since r12 the mp* registered queries
    # are store-read, and the store must be built from the live chain)
    # variant -> builder, resolved inside the build to avoid a module
    # cycle (pipeline.similarity imports driver_queries -> operators)
    builders = {
        "cosine": sim.dedup_embedding_cosine,
        "single": sim.dedup_embedding_lsh_single_probe,
        "mp1": lambda s, d: sim.multiprobe_lsh_pairs(s, d, 1),
        "mp2": lambda s, d: sim.multiprobe_lsh_pairs(s, d, sim.RHP_MP_FLIP),
        "mp3": lambda s, d: sim.multiprobe_lsh_pairs(s, d, 3),
        "planted": aud.planted_recovered_pairs,
    }
    return _publish(
        embedding_pair_store_path(sf_dir),
        functools.partial(
            _write_variants, builders, ("id_new", "id_corpus", "cos"), spark, sf_dir
        ),
    )


def read_embedding_pairs(
    spark: SparkSession, sf_dir: str, variant: str
) -> DataFrame | None:
    """Partition-pruned read of one variant's pair set, or None when no
    store exists (callers fall back to deriving live). A store that
    predates a variant returns None for it too."""
    df = _read_store(spark, embedding_pair_store_path(sf_dir), variant=variant)
    return None if df is None else df.select("id_new", "id_corpus", "cos")


# ---------------------------------------------------------------------------
# ngram (text) pair store: the exact Jaccard baseline the text-LSH recall
# audits replay. The embedding cosine baseline got its store in r10
# (stored_pairs); this is the text twin (VERDICT r10 #5) — lsh_recall_audit
# / lsh_recall_audit_sampled re-derived dedup_ngram_jaccard's capped
# posting self-join cold (~6.9 s each, BENCH_r10 cold_top).
# ---------------------------------------------------------------------------


def ngram_pair_store_path(sf_dir: str) -> str:
    from ..pipeline.dedup import JACCARD_THRESHOLD, SHINGLE_DF_CAP

    params = f"-t{int(JACCARD_THRESHOLD * 100)}-cap{SHINGLE_DF_CAP}"
    return _store_path("ngram-pairs", params, sf_dir, _DOCS)


def build_ngram_pair_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (d1, d2, jaccard) for the exact ngram-Jaccard baseline,
    full and probe-sampled, partitioned by ``variant`` — the
    embedding-pair-store discipline: the builders ARE the registered
    query functions (run with the store absent), so content is byte-equal
    to the live derivation and every consumer's DuckDB oracle — which
    still derives from scratch — keeps hash-checking the store."""
    from ..pipeline.dedup import dedup_ngram_jaccard, jaccard_pairs_sampled

    builders = {"full": dedup_ngram_jaccard, "sampled": jaccard_pairs_sampled}
    return _publish(
        ngram_pair_store_path(sf_dir),
        functools.partial(_write_variants, builders, ("d1", "d2", "jaccard"), spark, sf_dir),
    )


def read_ngram_pairs(
    spark: SparkSession, sf_dir: str, variant: str
) -> DataFrame | None:
    """Partition-pruned read of one ngram-pair variant, or None (the
    read_embedding_pairs contract)."""
    df = _read_store(spark, ngram_pair_store_path(sf_dir), variant=variant)
    return None if df is None else df.select("d1", "d2", "jaccard")


# ---------------------------------------------------------------------------
# clustered mass-fixture adaptive fit store: the level-1 Lloyd fit and the
# hot-cell level-2 fits the clustered_adaptive_* audits replay. The fits
# are deterministic functions of the fixture constants; the two audits
# each re-ran the full two-level fit cold (13.4 s + 8.1 s, BENCH_r09
# cold_top). A fit is an index-build artifact: build once, audit reads.
# ---------------------------------------------------------------------------


def clustered_mass_sem_pair_store_path(
    n: int | None = None, probe: int | None = None
) -> str:
    from ..pipeline.clustered import CF_C, CF_N, CF_SEM_COS

    n = CF_N if n is None else n
    suffix = f"-p{probe}" if probe is not None else ""
    return _store_path(
        "cmass-sem-pairs", f"-n{n}-c{CF_C}-t{int(CF_SEM_COS * 100)}{suffix}"
    )


def build_clustered_mass_sem_pair_store(
    spark: SparkSession,
    sf_dir: str,
    n: int | None = None,
    probe: int | None = None,
) -> str:
    """Materialize the mass fixture's verified >= CF_SEM_COS same-
    category pair set — the truth baseline all the mass semdedup
    audits replay (each re-derived the within-category cosine verify
    cold; the pair-store discipline applies to fixture baselines
    exactly as it did to the embedding and ngram ones). The builder IS
    the shared live derivation, run with the store absent, so content
    is byte-equal and every audit's oracle — which still derives from
    scratch — keeps hash-checking it.

    ``n``/``probe`` select the fixture size and an optional sampled
    probe side (id_a < probe) — the wide k2 >= 16 fixture's full pair
    set is ~45M pairs, so its truth baseline is probe-sampled, the
    lsh_recall_audit_sampled shape (VERDICT r11 #5)."""
    from ..pipeline.clustered import _cm_sem_truth_pairs_live

    return _publish(
        clustered_mass_sem_pair_store_path(n, probe),
        lambda tmp: _cm_sem_truth_pairs_live(spark, sf_dir, n=n, probe=probe)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def read_clustered_mass_sem_pairs(
    spark: SparkSession, n: int | None = None, probe: int | None = None
):
    """(id_a, id_b) truth pairs from the store, or None when unbuilt."""
    return _read_store(spark, clustered_mass_sem_pair_store_path(n, probe))


def clustered_mass_fit_store_path(n: int | None = None) -> str:
    from ..pipeline.clustered import CF_C, CF_HOT_PCT, CF_N

    # l3 layout: rows carry cid2b (second-nearest level-2 leaf inside
    # hot cells; ties (distance, cid) ascending) next to cid2 — the
    # width-2 blocking audit reads it instead of re-deriving the
    # assignment per cold run — and _meta.json carries the generator
    # fingerprint (_fixture_meta). ``n`` selects the fixture size (the
    # scale-free trailing-zeros construction; default CF_N, the wide
    # k2 >= 16 fixture uses CW_N).
    n = CF_N if n is None else n
    return _store_path("cmass-fit", f"l3-n{n}-c{CF_C}-h{CF_HOT_PCT}")


def build_clustered_mass_fit_store(
    spark: SparkSession, sf_dir: str, n: int | None = None
) -> str:
    """Materialize the mass-imbalance fixture's adaptive two-level fit:
    (vec_id, cl, embedding, cid, cid2) rows — cid from the level-1
    Lloyd fit at k = CF_C seeded at the component centers, cid2 from a
    dyn-width level-2 fit inside cells above the integer hot threshold
    (sz * CF_C * 100 > CF_HOT_PCT * n; 0 elsewhere) — plus a meta
    blob with both levels' assignment-time centroids and the cell
    sizes. Exactly the derivation clustered_adaptive_occupancy_audit /
    _probe_recall_audit replay (shared _lloyd_fit_frame contracts,
    first-k2-by-vec_id seeds, ladder widths); their DuckDB oracles
    re-derive it from scratch every round, so the store content stays
    hash-checked. ``n`` selects the fixture size (the construction is
    scale-free); the wide k2 >= 16 fixture builds at n = CW_N."""
    from ..pipeline.clustered import CF_N

    return _publish(
        clustered_mass_fit_store_path(n),
        functools.partial(_write_cmass_fit, spark, CF_N if n is None else n),
    )


def _write_cmass_fit(spark: SparkSession, n_fix: int, tmp: str) -> None:
    from pyspark.sql import Window as _W

    from ..pipeline.clustered import (
        CF_C,
        CF_HOT_PCT,
        clustered_mass_corpus_frame,
        cm_point,
    )
    from ..pipeline.clustering import _lloyd_fit_frame, dist_struct_array_expr
    from ..pipeline.params import ivf_cells_for

    fx = clustered_mass_corpus_frame(spark, n_fix).persist()
    emb = fx.select("vec_id", "embedding")
    asg, cents1 = _lloyd_fit_frame(
        emb, [cm_point(k) for k in range(CF_C)]
    )
    asg = asg.persist()
    sizes = {
        r["cid"]: r["n"]
        for r in asg.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    level2: dict[int, list[list[float]]] = {}
    parts = []
    for c in range(CF_C):
        cell = emb.join(
            asg.filter(F.col("cid") == c).select("vec_id"), "vec_id"
        )
        if sizes[c] * CF_C * 100 > CF_HOT_PCT * n_fix:
            k2 = ivf_cells_for(sizes[c])
            seeds2 = _distinct_seeds(cell, k2)
            asg2, cents2 = _lloyd_fit_frame(cell, seeds2)
            level2[c] = cents2
            dists = cell.selectExpr(
                "vec_id",
                "explode("
                + dist_struct_array_expr("embedding", cents2, "c2")
                + ") AS dc",
            ).select(
                "vec_id",
                F.col("dc.d").alias("d"),
                F.col("dc.c2").alias("c2"),
            )
            w = _W.partitionBy("vec_id").orderBy(
                F.col("d").asc(), F.col("c2").asc()
            )
            ranked = dists.withColumn("rk", F.row_number().over(w))
            second = ranked.filter(F.col("rk") == 2).select(
                "vec_id", F.col("c2").alias("cid2b")
            )
            parts.append(
                cell.join(
                    asg2.select("vec_id", F.col("cid").alias("cid2")),
                    "vec_id",
                )
                .join(second, "vec_id")
                .select("vec_id", F.lit(c).alias("cid"), "cid2", "cid2b")
            )
        else:
            parts.append(
                cell.select(
                    "vec_id",
                    F.lit(c).alias("cid"),
                    F.lit(0).alias("cid2"),
                    F.lit(0).alias("cid2b"),
                )
            )
    assigned = functools.reduce(lambda a, b: a.unionByName(b), parts)
    out = fx.join(assigned, "vec_id").select(
        "vec_id", "cl", "embedding", "cid", "cid2", "cid2b"
    )
    out.coalesce(1).write.mode("overwrite").parquet(tmp)
    meta = {
        "cents1": cents1,
        "level2": {str(c): v for c, v in level2.items()},
        "sizes": {str(c): sz for c, sz in sizes.items()},
        "generator": _generator_fingerprint(cm_point),
    }
    _write_json(tmp, meta)
    fx.unpersist()
    asg.unpersist()


def read_clustered_mass_fit(spark: SparkSession, n: int | None = None):
    """(frame, meta) for the materialized mass-fixture fit at size
    ``n`` (default CF_N), or (None, None) when the store hasn't been
    built. Meta floats round-trip exactly (json double round-trip, the
    kmeans-fit-store discipline)."""
    from ..pipeline.clustered import cm_point

    path = clustered_mass_fit_store_path(n)
    blob = _fixture_meta(path, cm_point)
    if blob is None:
        return None, None
    meta = {
        "cents1": _floats(blob["cents1"]),
        "level2": _int_keyed(blob["level2"]),
        "sizes": {int(c): int(v) for c, v in blob["sizes"].items()},
    }
    return spark.read.parquet(path), meta


def compact_adaptive_ivf_cell(
    spark: SparkSession,
    sf_dir: str,
    k1: int,
    cid1: int,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    exclude_batch_ids: tuple[str, ...] | set[str] = (),
) -> dict:
    """Cross-batch compaction for one ADAPTIVE-store cell, split or not
    (VERDICT r9 #8): long-lived streamed ingest accretes one
    ``batch_id=...`` directory per batch inside every (cid1, cid2)
    leaf — hot (split) cells fastest, since they take the most arrivals.
    Folds each cid2 leaf's batch directories into a single consolidated
    ``batch_id=compacted-<stamp>`` directory sized at ``target_bytes``
    per file, then publishes the whole rewritten cid1 subtree with the
    maintenance swap (_swap_cell_subtree: dot-prefixed retirement, one
    rename to publish — crash leaves old-or-new, never a discovery-
    visible hybrid). Reads are byte-identical (same rows, fewer files);
    the level-2 layout (which cid2 each row lives in) is preserved
    exactly, so the meta/quantizers need no update.

    Same replay caveat as compact_ivf_cell (the standard log-compaction
    rule): only compact batches OUTSIDE the ingest replay window — a
    replayed pre-compaction batch_id would dynamic-overwrite into a
    fresh directory and duplicate its rows against the consolidated
    files. ``exclude_batch_ids`` makes that rule enforceable from the
    stream: the in-flight batch (the only replayable one under the
    foreachBatch wrapper — it commits to the checkpoint AFTER the hook
    runs) keeps its own directory untouched, so a post-crash replay
    regenerates exactly the directory it left and dynamic overwrite
    stays idempotent. The hook runs maintenance BETWEEN batches
    (foreachBatch-serialized), which keeps the single-writer rule.

    Returns {"cid2_leaves": n, "files_before": n, "files_after": n}."""
    path = adaptive_ivf_store_path(sf_dir, k1)
    cell = os.path.join(path, f"cid1={cid1}")
    stamp = uuid.uuid4().hex[:8]
    tmp = os.path.join(path, f".rebalance-{cid1}-compact-{stamp}")
    exclude = set(exclude_batch_ids or ())
    leaves = sorted(
        d for d in os.listdir(cell) if d.startswith("cid2=")
    )
    files_before = 0
    files_after = 0
    for leaf in leaves:
        leaf_dir = os.path.join(cell, leaf)
        batch_dirs = sorted(
            d for d in os.listdir(leaf_dir) if d.startswith("batch_id=")
        )
        fold = [
            d for d in batch_dirs
            if d.split("=", 1)[1] not in exclude
        ]
        keep = [d for d in batch_dirs if d not in fold]
        sizes = [
            os.path.getsize(os.path.join(dp, f))
            for d in fold
            for dp, _, fs in os.walk(os.path.join(leaf_dir, d))
            for f in fs
            if f.endswith(".parquet")
        ]
        files_before += len(sizes)
        os.makedirs(os.path.join(tmp, leaf), exist_ok=True)
        if fold:
            n_out = max(1, math.ceil(sum(sizes) / target_bytes))
            files_after += n_out
            df = spark.read.parquet(
                *[os.path.join(leaf_dir, d) for d in fold]
            ).drop("batch_id", "cid2")
            (
                df.coalesce(n_out)
                .write.mode("overwrite")
                .parquet(
                    os.path.join(tmp, leaf, f"batch_id=compacted-{stamp}")
                )
            )
            marker = os.path.join(
                tmp, leaf, f"batch_id=compacted-{stamp}", "_SUCCESS"
            )
            if os.path.exists(marker):
                os.remove(marker)
        # replay-window (excluded) batch dirs carry over byte-untouched
        for d in keep:
            shutil.copytree(
                os.path.join(leaf_dir, d), os.path.join(tmp, leaf, d)
            )
    _swap_cell_subtree(path, cid1, tmp)
    return {
        "cid2_leaves": len(leaves),
        "files_before": files_before,
        "files_after": files_after,
    }


def maybe_compact_adaptive_ivf_store(
    spark: SparkSession,
    sf_dir: str,
    k1: int,
    max_batch_dirs: int = 8,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    exclude_batch_ids: tuple[str, ...] | set[str] = (),
) -> dict:
    """Compaction-side twin of maybe_rebalance/maybe_merge: a directory
    walk (zero data IO) counts batch directories per (cid1, cid2) leaf
    and compacts exactly the cells with a leaf past ``max_batch_dirs``
    — the small-file self-heal a long-lived ingest stream needs, fired
    on the same maintenance cadence as split/merge. Replay-window
    batches carry over untouched via ``exclude_batch_ids``.

    Returns {"fired": bool, "compacted": [cid1...]}."""
    path = adaptive_ivf_store_path(sf_dir, k1)
    _sweep_retired(path)  # restore-or-clean any crashed prior swap first
    pending = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("cid1="):
            continue
        cell = os.path.join(path, entry)
        worst = 0
        for leaf in os.listdir(cell):
            if not leaf.startswith("cid2="):
                continue
            n = len(
                [
                    d
                    for d in os.listdir(os.path.join(cell, leaf))
                    if d.startswith("batch_id=")
                ]
            )
            worst = max(worst, n)
        if worst > max_batch_dirs:
            pending.append(int(entry.split("=", 1)[1]))
    for cid in pending:
        compact_adaptive_ivf_cell(
            spark,
            sf_dir,
            k1,
            cid,
            target_bytes=target_bytes,
            exclude_batch_ids=exclude_batch_ids,
        )
    return {"fired": bool(pending), "compacted": pending}


def clustered_cf_fit_store_path() -> str:
    from ..pipeline.clustered import CF_C, CF_N

    # l4 layout: fit/ + codes-trained/ + codes-residual/ plus the
    # AUDIT widths (VERDICT r11 #1): fit-ksplit/ (the k = 2C
    # width-mismatch fit), codes-plain/ and codes-residgen/ (the
    # variant-pricing audit's seeded codes vs the generative centers),
    # and the generator fingerprint in _meta.json (_fixture_meta). Each
    # tag bump retires the older stores, so a stale layout is simply
    # never found.
    return _store_path("cf-fit", f"l4-n{CF_N}-c{CF_C}")


def build_clustered_cf_fit_store(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the CF (balanced-mixture) fixture's coarse fit,
    trained-PQ virtual seeds, AND both encoded code tables — everything
    the clustered_ivfpq_* probes re-derived cold (~6-8 s each, BENCH_r10
    cold_top; VERDICT r10 #4). Layout::

        fit/             (vec_id, cl, embedding, cid)
        fit-ksplit/      (vec_id, cid)   Lloyd at k = CF_KSPLIT (= 2C)
        codes-trained/   (vec_id, cid, c0..c{S-1})   encoded vs pq_vseeds
        codes-residual/  (vec_id, cid, c0..c{S-1})   encoded vs pq_rseeds
        codes-plain/     (vec_id, c0..c{S-1})        seeded plain codes
        codes-residgen/  (vec_id, cl, c0..c{S-1})    residual vs cf_center
        _meta.json       {cents, pq_vseeds, pq_rseeds, generator}

    The l3 additions carry the AUDIT widths (VERDICT r11 #1): the four
    fixture audits that dominated BENCH_r11 cold_top each re-ran a
    Lloyd fit or a PQ encode at a width the l2 store didn't hold
    (clustered_ivf_occupancy_audit at CF_KSPLIT 7.55 s,
    clustered_kmeans_agreement_audit at CF_C 5.86 s,
    clustered_pq_variant_audit's two seeded encodes 3.08 s). Audits
    read-or-compute; their oracles re-derive from scratch, keeping
    every table hash-checked.

    Meta floats round-trip exactly (json double round-trip, the
    kmeans-fit-store discipline), so store-read LUTs equal live-derived
    ones bit-for-bit; content equality of every table vs the live
    derivation is pinned by test_clustered_cf_fit_store_matches_derived.
    The codes matter as much as the fit: on a 2k-row fixture the cold
    cost is PLANNING the S x K encode expressions, and a real deployment
    encodes once at ingest (the pq_codes_frame discipline)."""
    return _publish(
        clustered_cf_fit_store_path(), functools.partial(_write_cf_fit, spark, sf_dir)
    )


def _write_cf_fit(spark: SparkSession, sf_dir: str, tmp: str) -> None:
    from ..pipeline.clustered import (
        CF_C,
        CF_KSPLIT,
        DIM,
        PQ_K,
        cf_center,
        cf_point,
        clustered_fixture_frame,
        _cf_pq_train_fit,
        _cf_residual_parts,
    )
    from ..pipeline.clustering import _lloyd_fit_frame
    from ..pipeline.similarity import pq_encode

    fx = clustered_fixture_frame(spark, sf_dir).persist()
    seeds = [cf_point(k) for k in range(CF_C)]
    asg, cents = _lloyd_fit_frame(fx.select("vec_id", "embedding"), seeds)
    out = fx.join(asg.select("vec_id", "cid"), "vec_id").select(
        "vec_id", "cl", "embedding", "cid"
    )
    vseeds = _cf_pq_train_fit(spark, sf_dir)
    trained = pq_encode(fx.select("vec_id", "embedding"), vseeds).join(
        asg.select("vec_id", "cid"), "vec_id"
    )
    resid, rseeds = _cf_residual_parts(spark, fx, asg, cents)
    residual = pq_encode(resid, rseeds, keep=("cid",))
    # the audit widths (exactly the audits' own live derivations):
    # the width-mismatch fit at k = CF_KSPLIT ...
    asg16, _c16 = _lloyd_fit_frame(
        fx.select("vec_id", "embedding"),
        [cf_point(k) for k in range(CF_KSPLIT)],
    )
    # ... and the variant audit's seeded codes: plain vs fixture-vector
    # seeds, residual vs the GENERATIVE centers (not the fitted cents —
    # the audit isolates codebook quality from coarse-fit quality)
    pseeds = [cf_point(k) for k in range(PQ_K)]
    gcents = [cf_center(c) for c in range(CF_C)]
    grseeds = [
        [pseeds[k][j] - gcents[k % CF_C][j] for j in range(DIM)]
        for k in range(PQ_K)
    ]
    plain = pq_encode(fx.select("vec_id", "embedding"), pseeds)
    cdf = F.broadcast(
        spark.createDataFrame(
            [(c, gcents[c]) for c in range(CF_C)], "c int, cent array<double>"
        )
    )
    gresid = (
        fx.join(cdf, fx["cl"] == cdf["c"])
        .select(
            "vec_id",
            "cl",
            F.zip_with("embedding", "cent", lambda x, y: x - y).alias(
                "embedding"
            ),
        )
    )
    residgen = pq_encode(gresid, grseeds, keep=("cl",))
    out.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "fit"))
    trained.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "codes-trained")
    )
    residual.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "codes-residual")
    )
    asg16.select("vec_id", "cid").coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "fit-ksplit")
    )
    plain.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "codes-plain")
    )
    residgen.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(tmp, "codes-residgen")
    )
    _write_json(
        tmp,
        {
            "cents": cents,
            "pq_vseeds": vseeds,
            "pq_rseeds": rseeds,
            "generator": _generator_fingerprint(cf_point),
        },
    )
    fx.unpersist()


def _generator_fingerprint(point) -> str:
    """Fingerprint of a fixture generator (``cf_point`` or ``cm_point``):
    a hash of CF_N, CF_C and a few generated rows. The fixture stores
    derive from code constants, not corpus tables, so no input
    fingerprint names them; a generator change is caught by this one."""
    import hashlib
    import json

    from ..pipeline.clustered import CF_C, CF_N

    rows = [point(i) for i in (0, 1, CF_C, CF_N - 1)]
    return hashlib.sha256(json.dumps([CF_N, CF_C, rows]).encode()).hexdigest()[:16]


def _fixture_meta(path: str, point) -> dict | None:
    """A fixture fit store's sidecar, or None when unbuilt. A store built
    by another generator than the live ``point`` raises ValueError naming
    it, instead of serving rows the oracles no longer derive."""
    blob = _read_json(path)
    if blob is not None and blob.get("generator") != _generator_fingerprint(point):
        raise ValueError(
            f"fixture store {path} was built by a different generator than "
            "the live one; delete it and rebuild"
        )
    return blob


def _cf_fit_meta() -> tuple[str, dict | None]:
    """(path, generator-checked sidecar or None) of the CF fit store."""
    from ..pipeline.clustered import cf_point

    path = clustered_cf_fit_store_path()
    return path, _fixture_meta(path, cf_point)


def read_clustered_cf_fit(spark: SparkSession):
    """(fit frame, meta) for the materialized CF fit, or (None, None)."""
    path, blob = _cf_fit_meta()
    if blob is None:
        return None, None
    meta = {k: _floats(blob[k]) for k in ("cents", "pq_vseeds", "pq_rseeds")}
    return spark.read.parquet(os.path.join(path, "fit")), meta


def read_clustered_cf_codes(spark: SparkSession, variant: str):
    """The materialized code table for ``variant`` in {"trained",
    "residual", "plain", "residgen"}, or None when unbuilt."""
    return _read_store(spark, _cf_fit_meta()[0], sub=f"codes-{variant}")


def read_clustered_cf_ksplit(spark: SparkSession):
    """The materialized (vec_id, cid) assignment of the k = CF_KSPLIT
    width-mismatch Lloyd fit, or None when unbuilt — the
    clustered_ivf_occupancy_audit's read-or-compute input."""
    return _read_store(spark, _cf_fit_meta()[0], sub="fit-ksplit")
