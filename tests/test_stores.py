"""Derived-artifact stores (operators/storage.py): the materialized
MinHash-LSH pair table and the k-means fit store.

Proofs, following the IVF-index test discipline (test_storage.py):
content equality store-vs-derived, consumer equality with-and-without a
store, partition pruning from ``inputFiles()``, idempotent/atomic builds
(dot-prefixed tmp dirs only, second build is a no-op), and the fit store
actually SHORT-CIRCUITING the Lloyd iterations in a fresh consumer.
"""

from __future__ import annotations

import os

import pytest

from distribution_engine_smt_spark.operators import storage
from distribution_engine_smt_spark.pipeline import clustering
from distribution_engine_smt_spark.pipeline.dedup import (
    cross_source_dup_matrix,
    dedup_minhash_lsh,
    dedup_pairs_with_sources,
)

from .conftest import SF_DIR


pytestmark = pytest.mark.slow  # adaptive IVF/PQ store lifecycle soaks (builds, streams, crash/restart replays) -- full battery tier (VERDICT r12 #1); run with -m "slow or not slow"

@pytest.fixture()
def store_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "stores")
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", d)
    yield d


def _pairs_key(rows):
    return sorted((r["d1"], r["d2"], round(r["jaccard"], 6)) for r in rows)


def test_pair_store_matches_derived(spark, store_dir):
    derived = dedup_minhash_lsh(spark, SF_DIR).collect()
    assert derived, "sf0.001 corpus yields no near-dup pairs; test is vacuous"
    path = storage.build_dedup_pair_store(spark, SF_DIR)
    stored = storage.read_dedup_pairs(spark, SF_DIR).collect()
    assert _pairs_key(stored) == _pairs_key(derived)
    # sources resolved correctly: spot-check against the documents table
    src = {
        r["doc_id"]: r["source"]
        for r in spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .select("doc_id", "source")
        .collect()
    }
    for r in stored:
        assert r["s1"] == src[r["d1"]] and r["s2"] == src[r["d2"]]


def test_pair_store_partition_pruned(spark, store_dir):
    path = storage.build_dedup_pair_store(spark, SF_DIR)
    df = spark.read.parquet(path)
    one = df.select("s1").first()["s1"]
    filtered = df.where(df["s1"] == one)
    # the source filter must reach the scan as a PARTITION filter
    # (directory pruning), not a post-scan data filter. (inputFiles()
    # lists the relation pre-pruning, so inspect the plan — same proof as
    # the IVF probe, test_storage.py.)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    assert "s1" in pf[1].split("]", 1)[0]


def test_consumer_equal_with_and_without_store(spark, tmp_path, monkeypatch):
    # no store -> in-query derivation
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "empty"))
    without = cross_source_dup_matrix(spark, SF_DIR).collect()
    pw_without = dedup_pairs_with_sources(spark, SF_DIR).collect()
    # store present -> parquet read path
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    storage.build_dedup_pair_store(spark, SF_DIR)
    with_store = cross_source_dup_matrix(spark, SF_DIR).collect()
    pw_with = dedup_pairs_with_sources(spark, SF_DIR).collect()
    assert sorted(map(tuple, with_store)) == sorted(map(tuple, without))
    key = lambda rows: sorted(  # noqa: E731
        (r["d1"], r["d2"], round(r["jaccard"], 6), r["s1"], r["s2"]) for r in rows
    )
    assert key(pw_with) == key(pw_without)


def test_pair_store_build_idempotent_and_atomic(spark, store_dir):
    p1 = storage.build_dedup_pair_store(spark, SF_DIR)
    listing = sorted(os.listdir(store_dir))
    stamp = os.path.getmtime(p1)
    p2 = storage.build_dedup_pair_store(spark, SF_DIR)
    assert p2 == p1
    assert os.path.getmtime(p1) == stamp, "second build rewrote the store"
    assert sorted(os.listdir(store_dir)) == listing
    # no stranded tmp dirs; anything transient must be dot-prefixed
    assert all(not d.startswith(".") for d in listing), (
        f"stranded dot-tmp build dirs in {listing}"
    )


def test_signature_store_matches_derived_and_feeds_consumers(
    spark, tmp_path, monkeypatch
):
    from distribution_engine_smt_spark.pipeline.decontam import (
        minhash_decontaminate,
    )
    from distribution_engine_smt_spark.pipeline.dedup import minhash_signature

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "empty"))
    derived_sig = sorted(map(tuple, minhash_signature(spark, SF_DIR).collect()))
    derived_pairs = _pairs_key(dedup_minhash_lsh.__wrapped__(spark, SF_DIR).collect())
    derived_decon = sorted(
        map(tuple, minhash_decontaminate.__wrapped__(spark, SF_DIR).collect())
    )
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    storage.build_minhash_signature_store(spark, SF_DIR)
    storage.build_shingle_postings_store(spark, SF_DIR)
    assert sorted(map(tuple, minhash_signature(spark, SF_DIR).collect())) == derived_sig
    assert (
        _pairs_key(dedup_minhash_lsh.__wrapped__(spark, SF_DIR).collect())
        == derived_pairs
    )
    assert (
        sorted(map(tuple, minhash_decontaminate.__wrapped__(spark, SF_DIR).collect()))
        == derived_decon
    )


def test_cluster_store_matches_derived(spark, tmp_path, monkeypatch):
    from distribution_engine_smt_spark.pipeline.curation import dedup_clusters

    # derived path (no store) — bypass the session memo for a fresh plan
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "empty"))
    derived = sorted(map(tuple, dedup_clusters.__wrapped__(spark, SF_DIR).collect()))
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    storage.build_dedup_pair_store(spark, SF_DIR)
    storage.build_dedup_cluster_store(spark, SF_DIR)
    stored = sorted(map(tuple, dedup_clusters.__wrapped__(spark, SF_DIR).collect()))
    assert stored == derived and derived


def test_kmeans_store_roundtrip_and_short_circuit(spark, store_dir, monkeypatch):
    clustering._FIT_CACHE.clear()
    asg_fresh, cents_fresh = clustering.kmeans_fit(spark, SF_DIR)
    fresh = sorted(map(tuple, asg_fresh.collect()))
    storage.build_kmeans_fit_store(spark, SF_DIR)

    # fresh "session": cache cleared, and the Lloyd path booby-trapped —
    # if the fit doesn't come from the store, the test fails loudly
    clustering._FIT_CACHE.clear()

    def boom(*a, **k):  # pragma: no cover - only fires on regression
        raise AssertionError("kmeans_fit re-ran Lloyd despite a fit store")

    monkeypatch.setattr(clustering, "_t", boom)
    asg_stored, cents_stored = clustering.kmeans_fit(spark, SF_DIR)
    assert cents_stored == cents_fresh  # exact: json floats round-trip doubles
    assert sorted(map(tuple, asg_stored.collect())) == fresh
    clustering._FIT_CACHE.clear()  # don't leak the stored fit to other tests


def test_stranded_build_tmp_is_invisible_to_consumers(spark, store_dir):
    """A crash mid-build leaves only a dot-prefixed tmp dir; the store
    reads look only at the published path, so consumers fall back to
    derivation instead of reading partial state."""
    import pathlib

    path = storage.pair_store_path(SF_DIR)
    stranded = pathlib.Path(store_dir) / f".{os.path.basename(path)}.build-dead"
    stranded.mkdir(parents=True)
    (stranded / "part-00000.parquet").write_bytes(b"partial garbage")
    assert not os.path.isdir(path)
    # derivation fallback still works with the stranded dir present
    assert dedup_pairs_with_sources(spark, SF_DIR).count() > 0


def test_atomic_publish_loses_race_gracefully(tmp_path):
    """Two concurrent builders derive identical content; the loser's
    rename fails and its tmp copy is discarded, not published."""
    winner = tmp_path / "store"
    winner.mkdir()
    (winner / "data.parquet").write_bytes(b"winner")
    loser_tmp = tmp_path / ".store.build-abc"
    loser_tmp.mkdir()
    (loser_tmp / "data.parquet").write_bytes(b"loser")
    storage._atomic_publish(str(loser_tmp), str(winner))
    assert (winner / "data.parquet").read_bytes() == b"winner"
    assert not loser_tmp.exists()


def test_fingerprint_changes_with_params_and_data(store_dir):
    fp_doc = storage._sf_fingerprint(SF_DIR, ("documents.parquet",))
    fp_emb = storage._sf_fingerprint(SF_DIR, ("embeddings.parquet",))
    assert fp_doc != fp_emb
    assert storage.pair_store_path(SF_DIR) != storage.kmeans_store_path(SF_DIR, 4, 2)
    assert storage.kmeans_store_path(SF_DIR, 4, 2) != storage.kmeans_store_path(
        SF_DIR, 8, 2
    )


# ---------------------------------------------------------------------------
# RHP band store: the materialized random-hyperplane near-dup index
# ---------------------------------------------------------------------------


def _bands_key(rows):
    return sorted((r["vec_id"], r["tbl"], r["bucket"]) for r in rows)


def test_rhp_band_store_matches_derived(spark, store_dir):
    from distribution_engine_smt_spark.pipeline.params import (
        corpus_count,
        rhp_bits_for,
    )
    from distribution_engine_smt_spark.pipeline.similarity import rhp_band_frame

    derived = rhp_band_frame(spark, SF_DIR).collect()  # no store yet
    path = storage.build_rhp_band_store(spark, SF_DIR)
    stored = storage.read_rhp_bands(spark, SF_DIR, storage.rhp_store_bits(path)).collect()
    assert _bands_key(stored) == _bands_key(derived)
    # the store records the build width, and it matches the ladder
    bits = rhp_bits_for(corpus_count(spark, SF_DIR, "embeddings"))
    assert storage.rhp_store_bits(path) == bits
    # second build is a no-op returning the same path
    assert storage.build_rhp_band_store(spark, SF_DIR) == path
    # the frame constructor is store-aware: with the store present its
    # plan reads parquet (no fold expressions over the corpus)
    plan = (
        rhp_band_frame(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FileScan parquet" in plan and "posexplode" not in plan


def test_rhp_band_store_feeds_lsh_dedup_identically(spark, store_dir):
    from distribution_engine_smt_spark.pipeline.similarity import (
        dedup_embedding_lsh,
    )

    without = sorted(
        (r["id_new"], r["id_corpus"]) for r in dedup_embedding_lsh(spark, SF_DIR).collect()
    )
    storage.build_rhp_band_store(spark, SF_DIR)
    with_store = sorted(
        (r["id_new"], r["id_corpus"]) for r in dedup_embedding_lsh(spark, SF_DIR).collect()
    )
    assert with_store == without


def test_rhp_band_stream_increments_and_restart(spark, store_dir, tmp_path):
    """Incremental band maintenance: streamed vectors band at the STORED
    width and land replay-idempotently; a restart processes only the new
    wave (the checkpoint-restart proof every stream twin carries)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distribution_engine_smt_spark import tables
    from distribution_engine_smt_spark.operators.storage import (
        run_rhp_band_stream,
    )

    path = storage.build_rhp_band_store(spark, SF_DIR)
    base = storage.read_rhp_bands(spark, SF_DIR, storage.rhp_store_bits(path)).count()
    emb = tables.load_tpch(spark, SF_DIR)["embeddings"]
    v0 = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    def wave(p, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                    "embedding": pa.array(
                        [e for _, e in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            str(p),
        )

    incoming = tmp_path / "in"
    incoming.mkdir()
    wave(incoming / "w1.parquet", [(300_000, v0)])
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>"
    q = run_rhp_band_stream(spark, str(incoming), schema, path, ckpt)
    q.awaitTermination(120)
    from distribution_engine_smt_spark.pipeline.similarity import RHP_TABLES

    after1 = storage.read_rhp_bands(spark, SF_DIR, storage.rhp_store_bits(path))
    assert after1.count() == base + RHP_TABLES
    # a clone of vec 0 must share vec 0's bucket in EVERY table (same
    # planes, same width -> identical sign pattern)
    b0 = {
        (r["tbl"], r["bucket"])
        for r in after1.where("vec_id = 0").collect()
    }
    bc = {
        (r["tbl"], r["bucket"])
        for r in after1.where("vec_id = 300000").collect()
    }
    assert bc == b0
    # restart with one new wave: only it processes (checkpoint), still
    # idempotent under the (tbl, batch_id) overwrite
    wave(incoming / "w2.parquet", [(300_001, v0)])
    q2 = run_rhp_band_stream(spark, str(incoming), schema, path, ckpt)
    q2.awaitTermination(120)
    after2 = storage.read_rhp_bands(spark, SF_DIR, storage.rhp_store_bits(path))
    assert after2.count() == base + 2 * RHP_TABLES
    assert after2.where("vec_id = 300000").count() == RHP_TABLES


# ---------------------------------------------------------------------------
# PQ code store: the encoded table the ADC scan reads
# ---------------------------------------------------------------------------


def test_pq_code_store_matches_derived(spark, store_dir):
    from distribution_engine_smt_spark.pipeline.similarity import (
        PQ_S,
        pq_codes_frame,
    )

    derived = sorted(
        tuple(r[c] for c in ["vec_id"] + [f"c{s}" for s in range(PQ_S)])
        for r in pq_codes_frame(spark, SF_DIR).collect()  # no store yet
    )
    path = storage.build_pq_code_store(spark, SF_DIR)
    stored = sorted(
        tuple(r[c] for c in ["vec_id"] + [f"c{s}" for s in range(PQ_S)])
        for r in storage.read_pq_codes(spark, SF_DIR).collect()
    )
    assert stored == derived
    assert storage.build_pq_code_store(spark, SF_DIR) == path  # no-op rebuild
    # store-aware constructor: the plan is a parquet read of the code
    # columns, not S x K distance folds over the float corpus
    plan = (
        pq_codes_frame(spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FileScan parquet" in plan and "aggregate" not in plan.lower()


def test_pq_code_store_feeds_topk_identically(spark, store_dir):
    from distribution_engine_smt_spark.pipeline.similarity import ann_pq_topk

    without = [
        (r["vec_id"], r["cos"]) for r in ann_pq_topk(spark, SF_DIR).collect()
    ]
    storage.build_pq_code_store(spark, SF_DIR)
    with_store = [
        (r["vec_id"], r["cos"]) for r in ann_pq_topk(spark, SF_DIR).collect()
    ]
    assert with_store == without


def test_ivfpq_code_store_matches_derived_and_prunes(spark, store_dir):
    """The cid-partitioned IVF-PQ code store: content equals the
    codes-join-assignment derivation, the rebuild is a no-op, and a cell
    filter reaches the scan as a PARTITION filter (the nprobe/k read the
    probe's docstring commits to)."""
    from distribution_engine_smt_spark.pipeline.clustering import kmeans_fit
    from distribution_engine_smt_spark.pipeline.similarity import (
        PQ_S,
        pq_codes_frame,
    )

    cols = ["vec_id", "cid"] + [f"c{s}" for s in range(PQ_S)]
    asg, _ = kmeans_fit(spark, SF_DIR)
    derived = sorted(
        tuple(r[c] for c in cols)
        for r in pq_codes_frame(spark, SF_DIR).join(asg, "vec_id").collect()
    )
    path = storage.build_ivfpq_code_store(spark, SF_DIR)
    stored = sorted(
        tuple(r[c] for c in cols)
        for r in storage.read_ivfpq_codes(spark, SF_DIR, storage.ivfpq_store_k(path)).collect()
    )
    assert stored == derived
    assert storage.build_ivfpq_code_store(spark, SF_DIR) == path
    df = storage.read_ivfpq_codes(spark, SF_DIR, storage.ivfpq_store_k(path))
    one = df.select("cid").first()["cid"]
    plan = (
        df.where(df["cid"] == one)
        ._jdf.queryExecution().executedPlan().toString()
    )
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    assert "cid" in pf[1].split("]", 1)[0]


def test_ivfpq_store_feeds_topk_identically(spark, store_dir):
    from distribution_engine_smt_spark.pipeline.clustering import (
        ann_ivfpq_topk,
    )

    without = [
        (r["vec_id"], r["cos"]) for r in ann_ivfpq_topk(spark, SF_DIR).collect()
    ]
    storage.build_ivfpq_code_store(spark, SF_DIR)
    with_store = [
        (r["vec_id"], r["cos"]) for r in ann_ivfpq_topk(spark, SF_DIR).collect()
    ]
    assert with_store == without


def test_ivfpq_ingest_stream_increments_and_restart(spark, store_dir, tmp_path):
    """Incremental compressed-index maintenance: streamed vectors route
    through the STORED quantizer and encode against the STORED codebook
    (a clone of vec 0 must land in vec 0's cell with vec 0's exact codes),
    replay-idempotently; a restart processes only the new wave."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distribution_engine_smt_spark import tables
    from distribution_engine_smt_spark.operators.storage import (
        run_ivfpq_ingest_stream,
    )
    from distribution_engine_smt_spark.pipeline.clustering import kmeans_fit
    from distribution_engine_smt_spark.pipeline.similarity import (
        PQ_S,
        pq_seed_vectors,
    )

    path = storage.build_ivfpq_code_store(spark, SF_DIR)
    base = storage.read_ivfpq_codes(spark, SF_DIR, storage.ivfpq_store_k(path)).count()
    _, cents = kmeans_fit(spark, SF_DIR)
    seeds = pq_seed_vectors(spark, SF_DIR)
    emb = tables.load_tpch(spark, SF_DIR)["embeddings"]
    v0 = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    def wave(p, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                    "embedding": pa.array(
                        [e for _, e in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            str(p),
        )

    incoming = tmp_path / "in"
    incoming.mkdir()
    wave(incoming / "w1.parquet", [(300_000, v0)])
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>"
    q = run_ivfpq_ingest_stream(
        spark, str(incoming), schema, path, cents, seeds, ckpt
    )
    q.awaitTermination(120)
    after1 = storage.read_ivfpq_codes(spark, SF_DIR, storage.ivfpq_store_k(path))
    assert after1.count() == base + 1
    key = ["cid"] + [f"c{s}" for s in range(PQ_S)]
    row0 = after1.where("vec_id = 0").first()
    rowc = after1.where("vec_id = 300000").first()
    assert tuple(rowc[c] for c in key) == tuple(row0[c] for c in key)
    # restart with one new wave: only it processes (checkpoint), still
    # idempotent under the (cid, batch_id) overwrite
    wave(incoming / "w2.parquet", [(300_001, v0)])
    q2 = run_ivfpq_ingest_stream(
        spark, str(incoming), schema, path, cents, seeds, ckpt
    )
    q2.awaitTermination(120)
    after2 = storage.read_ivfpq_codes(spark, SF_DIR, storage.ivfpq_store_k(path))
    assert after2.count() == base + 2
    assert after2.where("vec_id = 300000").count() == 1


def test_ivfpq_store_compaction_reuses_cell_compactor(spark, store_dir, tmp_path):
    """The IVF-PQ store shares the (cid, batch_id) two-level layout with
    the IVF index, so ``compact_ivf_cell`` applies to it AS-IS: after
    several ingest batches, folding a cell consolidates its leaves to one
    batch directory with content (and the probe's input) unchanged."""
    import os as _os

    from pyspark.sql import functions as F

    from distribution_engine_smt_spark import tables
    from distribution_engine_smt_spark.operators.storage import (
        compact_ivf_cell,
        update_ivfpq_code_store,
    )
    from distribution_engine_smt_spark.pipeline.clustering import kmeans_fit
    from distribution_engine_smt_spark.pipeline.similarity import (
        pq_seed_vectors,
    )

    path = storage.build_ivfpq_code_store(spark, SF_DIR)
    _, cents = kmeans_fit(spark, SF_DIR)
    seeds = pq_seed_vectors(spark, SF_DIR)
    emb = tables.load_tpch(spark, SF_DIR)["embeddings"]
    for i, off in enumerate((400_000, 400_001, 400_002)):
        clone = emb.where("vec_id = 0").select(
            (F.col("vec_id") + off).alias("vec_id"), "embedding"
        )
        update_ivfpq_code_store(spark, path, cents, seeds, clone, f"b{i}")
    target = None
    for c in _os.listdir(path):
        if not c.startswith("cid="):
            continue
        leaves = [
            d
            for d in _os.listdir(_os.path.join(path, c))
            if d.startswith("batch_id=")
        ]
        if len(leaves) >= 4:
            target = int(c.split("=")[1])
    assert target is not None  # vec 0's cell holds base + 3 batch leaves
    before = sorted(
        tuple(r) for r in storage.read_ivfpq_codes(spark, SF_DIR, storage.ivfpq_store_k(path)).collect()
    )
    compact_ivf_cell(spark, path, target)
    leaves = [
        d
        for d in _os.listdir(_os.path.join(path, f"cid={target}"))
        if d.startswith("batch_id=")
    ]
    assert len(leaves) == 1
    after = sorted(
        tuple(r) for r in storage.read_ivfpq_codes(spark, SF_DIR, storage.ivfpq_store_k(path)).collect()
    )
    assert after == before


def test_pq_codebook_store_short_circuits_fit(spark, store_dir):
    """The trained-codebook store: JSON round-trips the virtual seeds
    exactly (bit-identical doubles), a fresh consumer loads it instead of
    re-running the Lloyd rounds, and the trained top-k is identical with
    and without the store."""
    from distribution_engine_smt_spark.pipeline import pq as pq_mod

    # fit cold (no store), snapshot the codebook and the consumer output
    pq_mod._FIT_CACHE.clear()
    fitted = pq_mod.pq_train_fit(spark, SF_DIR)
    without = [
        (r["vec_id"], r["cos"])
        for r in pq_mod.ann_pq_trained_topk(spark, SF_DIR).collect()
    ]
    path = storage.build_pq_codebook_store(spark, SF_DIR)
    assert storage.build_pq_codebook_store(spark, SF_DIR) == path  # no-op
    # fresh session state -> the store must serve the identical quantizer
    pq_mod._FIT_CACHE.clear()
    loaded = pq_mod.pq_train_fit(spark, SF_DIR)
    assert loaded == fitted  # exact double round-trip through JSON
    with_store = [
        (r["vec_id"], r["cos"])
        for r in pq_mod.ann_pq_trained_topk(spark, SF_DIR).collect()
    ]
    assert with_store == without


def test_ensure_rhp_band_store_migrates_across_rungs(spark, store_dir, monkeypatch):
    """The self-healing entry point: no store -> full build; store at the
    target width -> returned as-is; store at a NARROWER width -> delta-bit
    migration (proven by forbidding the full build), bucket-identical to
    a fresh build at the new width."""
    from distribution_engine_smt_spark.pipeline.similarity import (
        rhp_band_frame_at,
    )

    p4 = storage.ensure_rhp_band_store(spark, SF_DIR, bits=4)
    assert storage.rhp_store_bits(p4) == 4
    assert storage.ensure_rhp_band_store(spark, SF_DIR, bits=4) == p4
    # crossing a rung must refine, never re-band: a full build here fails
    def _no_build(*a, **k):
        raise AssertionError("rung crossing must migrate, not re-band")

    monkeypatch.setattr(storage, "build_rhp_band_store", _no_build)
    p6 = storage.ensure_rhp_band_store(spark, SF_DIR, bits=6)
    assert storage.rhp_store_bits(p6) == 6
    got = _bands_key(storage.read_rhp_bands(spark, SF_DIR, storage.rhp_store_bits(p6)).collect())
    fresh = _bands_key(rhp_band_frame_at(spark, SF_DIR, 6).collect())
    assert got == fresh


def test_rhp_migration_refuses_orphaned_stream_rows(spark, store_dir, tmp_path):
    """Lifecycle guard: a store holding stream-ingested vectors that are
    NOT yet folded into the corpus table must refuse to migrate — the
    refinement join derives delta bits from the table, so migrating would
    silently drop those rows from the index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distribution_engine_smt_spark import tables
    from distribution_engine_smt_spark.operators.storage import (
        run_rhp_band_stream,
    )

    path = storage.build_rhp_band_store(spark, SF_DIR, bits=4)
    emb = tables.load_tpch(spark, SF_DIR)["embeddings"]
    v0 = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    incoming = tmp_path / "in"
    incoming.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([600_000], pa.int64()),
                "embedding": pa.array([v0], pa.list_(pa.float32())),
            }
        ),
        str(incoming / "w.parquet"),
    )
    q = run_rhp_band_stream(
        spark, str(incoming), "vec_id long, embedding array<float>",
        path, str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    with pytest.raises(ValueError, match="absent from the corpus table"):
        storage.migrate_rhp_band_store(spark, SF_DIR, path, 6)


def test_rhp_band_store_width_migration(spark, store_dir):
    """Crossing a ladder rung migrates the band store by computing ONLY
    the delta bits: the migrated store must equal a from-scratch build at
    the new width, bucket for bucket (prefix property of the sign
    pattern), and narrowing must refuse."""
    import pytest as _pytest

    from distribution_engine_smt_spark.pipeline.similarity import (
        rhp_band_frame_at,
    )

    old = storage.build_rhp_band_store(spark, SF_DIR, bits=4)
    migrated = storage.migrate_rhp_band_store(spark, SF_DIR, old, 6)
    assert storage.rhp_store_bits(migrated) == 6
    got = _bands_key(storage.read_rhp_bands(spark, SF_DIR, storage.rhp_store_bits(migrated)).collect())
    fresh = _bands_key(rhp_band_frame_at(spark, SF_DIR, 6).collect())
    assert got == fresh
    # idempotent: a second migration returns the existing store
    assert storage.migrate_rhp_band_store(spark, SF_DIR, old, 6) == migrated
    with _pytest.raises(ValueError, match="narrow"):
        storage.migrate_rhp_band_store(spark, SF_DIR, migrated, 4)


def test_sharded_ivf_store_feeds_topk_identically_and_prunes(spark, store_dir):
    """r9: the level-2 fits become build-time artifacts. The store-fed
    probe must return the exact derived-path rows (same oracle), and the
    (cid1, cid2) cell filters must reach the scan as PartitionFilters —
    the two prunings multiply in the read."""
    from distribution_engine_smt_spark.driver_queries import _DF_CACHE
    from distribution_engine_smt_spark.pipeline.clustering import (
        ann_ivf_sharded_topk,
    )

    def fresh():
        for k in [k for k in _DF_CACHE if "sharded" in str(k).lower()]:
            del _DF_CACHE[k]
        return ann_ivf_sharded_topk(spark, SF_DIR)

    without = [(r["vec_id"], r["cos"]) for r in fresh().collect()]
    path = storage.build_sharded_ivf_store(spark, SF_DIR)
    assert storage.build_sharded_ivf_store(spark, SF_DIR) == path  # no-op
    df = fresh()
    with_store = [(r["vec_id"], r["cos"]) for r in df.collect()]
    assert with_store == without
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    filters = pf[1].split("]", 1)[0]
    assert "cid1" in filters and "cid2" in filters, filters
    # meta round-trips both levels' centroids exactly
    cents1, level2 = storage.load_sharded_ivf_meta(SF_DIR)
    assert len(level2) == len(cents1)
    assert all(len(c) == 64 for c in cents1)


def test_sharded_ivf_ingest_stream_increments_and_restart(spark, store_dir, tmp_path):
    """Two-level-index maintenance: streamed vectors route through the
    STORED two-level quantizer (a clone of vec 0 must land in vec 0's
    exact (cid1, cid2) cell), replay-idempotently; a restart processes
    only the new wave."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from distribution_engine_smt_spark import tables
    from distribution_engine_smt_spark.operators.storage import (
        run_sharded_ivf_ingest_stream,
    )

    storage.build_sharded_ivf_store(spark, SF_DIR)
    base = storage.read_sharded_ivf(spark, SF_DIR).count()
    emb = tables.load_tpch(spark, SF_DIR)["embeddings"]
    v0 = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]

    def wave(p, rows):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                    "embedding": pa.array(
                        [e for _, e in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            str(p),
        )

    incoming = tmp_path / "in"
    incoming.mkdir()
    wave(incoming / "w1.parquet", [(300_000, v0)])
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>"
    q = run_sharded_ivf_ingest_stream(
        spark, str(incoming), schema, SF_DIR, ckpt
    )
    q.awaitTermination(120)
    after1 = storage.read_sharded_ivf(spark, SF_DIR)
    assert after1.count() == base + 1
    row0 = after1.where("vec_id = 0").first()
    rowc = after1.where("vec_id = 300000").first()
    assert (rowc["cid1"], rowc["cid2"]) == (row0["cid1"], row0["cid2"])
    # restart with one new wave: only it processes; replay stays idempotent
    wave(incoming / "w2.parquet", [(300_001, v0)])
    q2 = run_sharded_ivf_ingest_stream(
        spark, str(incoming), schema, SF_DIR, ckpt
    )
    q2.awaitTermination(120)
    after2 = storage.read_sharded_ivf(spark, SF_DIR)
    assert after2.count() == base + 2
    assert after2.where("vec_id = 300000").count() == 1


# ---------------------------------------------------------------------------
# adaptive (occupancy-driven) two-level IVF store: split ONLY hot cells
# ---------------------------------------------------------------------------


@pytest.fixture()
def skewed_corpus(spark, tmp_path):
    """A corpus dir with REAL occupancy skew: the clustered fixture
    (8 tight components) written as embeddings.parquet, probed at
    k1 = 16 — the width-mismatch regime clustered_ivf_occupancy_audit
    measured at min 53 / max 203 per cell. Other tables symlink to the
    static sf dir (load_tpch reads the whole directory eagerly)."""
    from pyspark.sql import functions as F

    from distribution_engine_smt_spark.pipeline.clustered import (
        clustered_fixture_frame,
    )
    from distribution_engine_smt_spark.tables import TPCH_TABLES

    d = str(tmp_path / "skewed")
    os.makedirs(d)
    (
        clustered_fixture_frame(spark, SF_DIR)
        .select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        .coalesce(1)
        .write.parquet(os.path.join(d, "embeddings.parquet"))
    )
    for name in TPCH_TABLES:
        if name != "embeddings":
            os.symlink(
                os.path.join(SF_DIR, f"{name}.parquet"),
                os.path.join(d, f"{name}.parquet"),
            )
    return d


K1 = 16


def test_adaptive_ivf_store_splits_only_hot_cells(spark, store_dir, skewed_corpus):
    """The store splits exactly the cells above hot_factor x average —
    and the build's own accounting shows the scan-cost win: adaptive
    candidates-per-probe strictly below flat, max leaf strictly below
    the flat max cell, and FAR fewer partitions than splitting every
    cell (the full-sharded layout) would cost."""
    from distribution_engine_smt_spark.pipeline.params import ivf_cells_for

    path = storage.build_adaptive_ivf_store(spark, skewed_corpus, k1=K1)
    assert storage.build_adaptive_ivf_store(spark, skewed_corpus, k1=K1) == path
    meta = storage.load_adaptive_ivf_meta(skewed_corpus, K1)
    n = 2048
    thr = meta["hot_factor"] * n / K1
    # the hot set is exactly the cells above threshold, and it is a
    # PROPER subset: real skew means some hot, width 16 means some cold
    assert meta["hot_cells"] == sorted(
        int(c) for c, sz in meta["sizes"].items() if sz > thr
    )
    assert 0 < len(meta["hot_cells"]) < K1
    assert set(map(int, meta["level2"])) == set(meta["hot_cells"])
    # scan economics, measured at build time
    assert meta["cand_per_probe_adaptive"] < meta["cand_per_probe_flat"]
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    leaf_sizes = {
        (r["cid1"], r["cid2"]): r["n"]
        for r in df.groupBy("cid1", "cid2").agg(F.count("*").alias("n")).collect()
    }
    assert sum(leaf_sizes.values()) == n
    # cold cells: exactly one (cid, 0) leaf; hot cells: >1 leaves
    for cid in range(K1):
        leaves = [k for k in leaf_sizes if k[0] == cid]
        if cid in meta["hot_cells"]:
            assert len(leaves) > 1, (cid, leaves)
        else:
            assert leaves == [(cid, 0)], (cid, leaves)
    # the latency tail is fixed: worst leaf < worst flat cell
    assert max(leaf_sizes.values()) < max(meta["sizes"].values())
    # and the partition bill is a fraction of the everything-split layout
    full_leaves = sum(ivf_cells_for(sz) for sz in meta["sizes"].values())
    assert len(leaf_sizes) < full_leaves


def test_adaptive_ivf_probe_serves_and_prunes(spark, store_dir, skewed_corpus):
    """The store-fed probe returns exactly the top-k of the leaves it
    scanned (independent python recomputation), scans ONLY those leaves
    (PartitionFilters + inputFiles), and finds the query's own tight
    cluster."""
    import math as m

    from distribution_engine_smt_spark.pipeline.clustered import cf_point

    storage.build_adaptive_ivf_store(spark, skewed_corpus, k1=K1)
    meta = storage.load_adaptive_ivf_meta(skewed_corpus, K1)
    q = cf_point(0)
    rows = (
        spark.read.parquet(storage.adaptive_ivf_store_path(skewed_corpus, K1))
        .collect()
    )

    def d2(c):
        return sum((x - y) * (x - y) for x, y in zip(q, c))

    def expected_leaves(nprobe2):
        sel1 = sorted(range(K1), key=lambda i: (d2(meta["cents1"][i]), i))[:2]
        leaves = set()
        for c1 in sel1:
            if c1 in meta["level2"]:
                cs = meta["level2"][c1]
                order = sorted(range(len(cs)), key=lambda i: (d2(cs[i]), i))
                leaves.update((c1, c2) for c2 in order[:nprobe2])
            else:
                leaves.add((c1, 0))
        return leaves

    def expected_topk(leaves):
        qn = m.sqrt(sum(x * x for x in q))
        want = []
        for r in rows:
            if (r["cid1"], r["cid2"]) not in leaves:
                continue
            e = [float(x) for x in r["embedding"]]
            dot = 0.0
            acc = 0.0
            for a, b in zip(e, q):
                dot += a * b
                acc += a * a
            want.append((r["vec_id"], dot / (m.sqrt(acc) * qn)))
        return [v for v, _ in sorted(want, key=lambda t: (-t[1], t[0]))[:10]]

    # independent recomputation of the probed leaves' exact top-10, at
    # BOTH level-2 widths of the nprobe2 recall knob
    for np2 in (1, 2):
        df = storage.probe_adaptive_ivf(
            spark, skewed_corpus, q, k1=K1, nprobe=2, nprobe2=np2
        )
        got = [(r["vec_id"], r["cos"]) for r in df.collect()]
        assert len(got) == 10
        leaves = expected_leaves(np2)
        assert [v for v, _ in got] == expected_topk(leaves)
        # query vec 0's cluster is component 0: survivors all cluster-0
        assert all(v % 8 == 0 for v, _ in got), got
    # width 2 scans strictly more leaves than width 1 (some cell split)
    assert len(expected_leaves(2)) > len(expected_leaves(1))
    df = storage.probe_adaptive_ivf(spark, skewed_corpus, q, k1=K1, nprobe=2)
    # pruning is physical: the leaf disjunction reaches the scan as a
    # PARTITION filter on both levels (inputFiles() lists the relation
    # pre-pruning, so inspect the plan — the established store proof)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    assert len(pf) == 2, plan
    filters = pf[1].split("]", 1)[0]
    assert "cid1" in filters and "cid2" in filters, filters


def test_adaptive_ivf_update_routes_and_replays(spark, store_dir, skewed_corpus):
    """Arrivals route through the STORED adaptive quantizer: a clone of
    vec 0 lands in vec 0's exact leaf (level-2 only if that cell is
    hot), and replaying the same batch_id leaves the store unchanged."""
    from pyspark.sql import functions as F

    storage.build_adaptive_ivf_store(spark, skewed_corpus, k1=K1)
    store = spark.read.parquet(
        storage.adaptive_ivf_store_path(skewed_corpus, K1)
    )
    base = store.count()
    v0 = store.where("vec_id = 0").first()
    clone = (
        spark.read.parquet(os.path.join(skewed_corpus, "embeddings.parquet"))
        .where("vec_id = 0")
        .select(F.lit(900_000).cast("long").alias("vec_id"), "embedding")
    )
    storage.update_adaptive_ivf_store(spark, skewed_corpus, clone, "w1", k1=K1)
    after = spark.read.parquet(
        storage.adaptive_ivf_store_path(skewed_corpus, K1)
    )
    assert after.count() == base + 1
    rowc = after.where("vec_id = 900000").first()
    assert (rowc["cid1"], rowc["cid2"]) == (v0["cid1"], v0["cid2"])
    # at-least-once replay: same batch rewrites its own leaf, no dupes
    storage.update_adaptive_ivf_store(spark, skewed_corpus, clone, "w1", k1=K1)
    assert spark.read.parquet(
        storage.adaptive_ivf_store_path(skewed_corpus, K1)
    ).count() == base + 1


def test_adaptive_ivf_rebalance_splits_drifted_cell(spark, store_dir, skewed_corpus):
    """Drift maintenance: a store built when every cell was cold (k1 = 8
    matches the fixture's 8 components — balanced, no hot cells) receives
    a concentrated ingest wave into one cell; rebalance must split
    EXACTLY that cell, preserve every row, leave the other cells'
    subtrees untouched, and route post-rebalance arrivals through the
    new level-2 quantizer."""
    from pyspark.sql import functions as F

    k1 = 8
    storage.build_adaptive_ivf_store(spark, skewed_corpus, k1=k1)
    meta0 = storage.load_adaptive_ivf_meta(skewed_corpus, k1)
    assert meta0["hot_cells"] == []  # balanced build: nothing split
    path = storage.adaptive_ivf_store_path(skewed_corpus, k1)
    store0 = spark.read.parquet(path)
    cell0 = store0.where("vec_id = 0").first()["cid1"]
    # untouched-cell witness: a file listing from another cell
    other = next(c for c in range(k1) if c != cell0)
    other_dir = os.path.join(path, f"cid1={other}")
    before_files = sorted(os.listdir(os.path.join(other_dir, "cid2=0")))

    # drift: 200 near-clones of vec 0 land in its cell (256 -> 456,
    # avg climbs to 281 — only cell0 crosses 1.25x)
    emb = spark.read.parquet(os.path.join(skewed_corpus, "embeddings.parquet"))
    wave = (
        emb.where("vec_id = 0")
        .crossJoin(spark.range(200).select(F.col("id").alias("i")))
        .select((F.lit(900_000) + F.col("i")).alias("vec_id"), "embedding")
    )
    storage.update_adaptive_ivf_store(spark, skewed_corpus, wave, "drift", k1=k1)
    total = spark.read.parquet(path).count()

    out = storage.rebalance_adaptive_ivf_store(spark, skewed_corpus, k1)
    assert out["newly_hot"] == [cell0]
    # idempotent second pass: occupancy unchanged, nothing newly hot
    assert storage.rebalance_adaptive_ivf_store(spark, skewed_corpus, k1)[
        "newly_hot"
    ] == []

    after = spark.read.parquet(path)
    assert after.count() == total  # every row preserved
    meta1 = storage.load_adaptive_ivf_meta(skewed_corpus, k1)
    assert meta1["hot_cells"] == [cell0]
    assert set(meta1["level2"]) == {cell0}
    # the scan-economics audit trail is refreshed, not build-time stale
    assert meta1["cand_per_probe_adaptive"] < meta1["cand_per_probe_flat"]
    assert meta1["cand_per_probe_flat"] > meta0["cand_per_probe_flat"]
    # the split cell now has >1 leaf and a smaller worst leaf
    leaves = {
        (r["cid1"], r["cid2"]): r["n"]
        for r in after.groupBy("cid1", "cid2")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    cell0_leaves = {k: v for k, v in leaves.items() if k[0] == cell0}
    assert len(cell0_leaves) > 1
    assert max(cell0_leaves.values()) < 456
    assert sum(cell0_leaves.values()) == 456
    # other cells' files are byte-untouched (O(changed cells) rewrite)
    assert sorted(os.listdir(os.path.join(other_dir, "cid2=0"))) == before_files
    # post-rebalance arrivals route level-2: a fresh clone of vec 0 lands
    # in vec 0's NEW (cid1, cid2) leaf
    clone = emb.where("vec_id = 0").select(
        F.lit(990_000).cast("long").alias("vec_id"), "embedding"
    )
    storage.update_adaptive_ivf_store(spark, skewed_corpus, clone, "post", k1=k1)
    after2 = spark.read.parquet(path)
    row0 = after2.where("vec_id = 0").first()
    rowc = after2.where("vec_id = 990000").first()
    assert (rowc["cid1"], rowc["cid2"]) == (row0["cid1"], row0["cid2"])
    # replay SAFETY across the split: re-delivering the pre-rebalance
    # drift batch routes through the live meta — the same quantizer the
    # rebalance assigned with — so it regenerates exactly the leaves the
    # rebalance produced: same rows, same (cid1, cid2, batch_id) layout
    layout_before = sorted(
        (r["vec_id"], r["cid1"], r["cid2"], r["batch_id"])
        for r in spark.read.parquet(path)
        .select("vec_id", "cid1", "cid2", "batch_id")
        .collect()
    )
    storage.update_adaptive_ivf_store(spark, skewed_corpus, wave, "drift", k1=k1)
    layout_after = sorted(
        (r["vec_id"], r["cid1"], r["cid2"], r["batch_id"])
        for r in spark.read.parquet(path)
        .select("vec_id", "cid1", "cid2", "batch_id")
        .collect()
    )
    assert layout_after == layout_before


def test_adaptive_ivf_stream_and_cron_rebalance(spark, store_dir, skewed_corpus, tmp_path):
    """The maintenance loop end-to-end: streamed ingest drifts one cell
    hot; the footer-only occupancy check (zero data IO) notices and
    fires the rebalance; a post-rebalance streamed wave routes through
    the new level-2 quantizer; checkpoint restart processes only the
    new wave."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    from pyspark.sql import functions as F

    k1 = 8
    storage.build_adaptive_ivf_store(spark, skewed_corpus, k1=k1)
    path = storage.adaptive_ivf_store_path(skewed_corpus, k1)
    # footer occupancy == scan occupancy on the fresh store
    foot = storage.adaptive_ivf_occupancy_from_footers(skewed_corpus, k1)
    scan = {
        r["cid1"]: r["n"]
        for r in spark.read.parquet(path)
        .groupBy("cid1")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert foot == scan
    # healthy store: the cron check is a no-op
    assert storage.maybe_rebalance_adaptive_ivf_store(
        spark, skewed_corpus, k1
    ) == {"fired": False, "newly_hot": []}

    emb = spark.read.parquet(os.path.join(skewed_corpus, "embeddings.parquet"))
    v0 = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    cell0 = spark.read.parquet(path).where("vec_id = 0").first()["cid1"]

    def wave(p, rows):
        papq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                    "embedding": pa.array(
                        [e for _, e in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            str(p),
        )

    incoming = tmp_path / "in"
    incoming.mkdir()
    wave(incoming / "w1.parquet", [(910_000 + i, v0) for i in range(200)])
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>"
    q = storage.run_adaptive_ivf_ingest_stream(
        spark, str(incoming), schema, skewed_corpus, k1, ckpt
    )
    q.awaitTermination(120)
    assert sum(
        storage.adaptive_ivf_occupancy_from_footers(skewed_corpus, k1).values()
    ) == 2048 + 200
    out = storage.maybe_rebalance_adaptive_ivf_store(spark, skewed_corpus, k1)
    assert out["fired"] and out["newly_hot"] == [cell0]
    # restart: only the new wave processes; it routes level-2
    wave(incoming / "w2.parquet", [(990_001, v0)])
    q2 = storage.run_adaptive_ivf_ingest_stream(
        spark, str(incoming), schema, skewed_corpus, k1, ckpt
    )
    q2.awaitTermination(120)
    after = spark.read.parquet(path)
    assert after.count() == 2048 + 201
    row0 = after.where("vec_id = 0").first()
    rowc = after.where("vec_id = 990001").first()
    assert (rowc["cid1"], rowc["cid2"]) == (row0["cid1"], row0["cid2"])


def test_adaptive_ivf_merge_cold_cells(spark, store_dir, tmp_path):
    """Reverse lifecycle: growth elsewhere dilutes an old hot spot; the
    smaller split cell drops under the merge threshold and collapses
    back to a single (cid, 0) leaf — level-2 quantizer dropped, rows
    preserved, other cells' files byte-untouched, and hysteresis keeps
    the still-hot dominant cell split."""
    from pyspark.sql import functions as F

    from distribution_engine_smt_spark.pipeline.clustered import (
        clustered_mass_fixture_frame,
    )
    from distribution_engine_smt_spark.tables import TPCH_TABLES

    # mass-imbalance corpus at the matched width: components = cells,
    # sizes 1021/511/256/.../16; hot at build: cells 0 (1021) and 1 (511)
    d = str(tmp_path / "mass")
    os.makedirs(d)
    (
        clustered_mass_fixture_frame(spark, SF_DIR)
        .select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        .coalesce(1)
        .write.parquet(os.path.join(d, "embeddings.parquet"))
    )
    for name in TPCH_TABLES:
        if name != "embeddings":
            os.symlink(
                os.path.join(SF_DIR, f"{name}.parquet"),
                os.path.join(d, f"{name}.parquet"),
            )
    k1 = 8
    path = storage.build_adaptive_ivf_store(spark, d, k1=k1)
    meta0 = storage.load_adaptive_ivf_meta(d, k1)
    assert len(meta0["hot_cells"]) == 2
    big, small = sorted(
        meta0["hot_cells"], key=lambda c: -int(meta0["sizes"][str(c)])
    )
    # nothing merges while occupancy is unchanged (hysteresis band)
    assert storage.merge_cold_cells_adaptive_ivf_store(spark, d, k1)[
        "merged"
    ] == []
    other_dir = os.path.join(path, f"cid1={big}")
    before = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(other_dir)
        for f in fs
        if f.endswith(".parquet")
    )
    # drift: 2200 clones of a tail-component vector grow ANOTHER cell,
    # raising the average until the 511-row split cell is ordinary
    tail_vec = (
        spark.read.parquet(path).where("cid2 = 0").first()
    )
    emb16 = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
    wave = (
        emb16.where(F.col("vec_id") == tail_vec["vec_id"])
        .crossJoin(spark.range(2200).select(F.col("id").alias("i")))
        .select((F.lit(800_000) + F.col("i")).alias("vec_id"), "embedding")
    )
    storage.update_adaptive_ivf_store(spark, d, wave, "growth", k1=k1)
    total = spark.read.parquet(path).count()
    out = storage.merge_cold_cells_adaptive_ivf_store(spark, d, k1)
    assert out["merged"] == [small]
    after = spark.read.parquet(path)
    assert after.count() == total  # rows preserved
    meta1 = storage.load_adaptive_ivf_meta(d, k1)
    assert small not in meta1["level2"] and big in meta1["level2"]
    assert meta1["hot_cells"] == [big]
    # merged cell: exactly one leaf again
    leaves = {
        (r["cid1"], r["cid2"])
        for r in after.select("cid1", "cid2").distinct().collect()
    }
    assert [k for k in leaves if k[0] == small] == [(small, 0)]
    assert len([k for k in leaves if k[0] == big]) > 1  # still split
    # untouched-cell witness: the dominant cell's files are the same
    assert sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(other_dir)
        for f in fs
        if f.endswith(".parquet")
    ) == before
    # post-merge arrivals route to the merged cell's single leaf
    clone = emb16.where("vec_id = 1").select(
        F.lit(990_000).cast("long").alias("vec_id"), "embedding"
    )
    storage.update_adaptive_ivf_store(spark, d, clone, "post", k1=k1)
    rowc = (
        spark.read.parquet(path).where("vec_id = 990000").first()
    )
    assert (rowc["cid1"], rowc["cid2"]) == (small, 0)


def _mass_corpus(spark, base_dir: str) -> str:
    """A corpus dir whose embeddings are the mass-imbalance fixture."""
    from pyspark.sql import functions as F

    from distribution_engine_smt_spark.pipeline.clustered import (
        clustered_mass_fixture_frame,
    )
    from distribution_engine_smt_spark.tables import TPCH_TABLES

    os.makedirs(base_dir)
    (
        clustered_mass_fixture_frame(spark, SF_DIR)
        .select(
            "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
        )
        .coalesce(1)
        .write.parquet(os.path.join(base_dir, "embeddings.parquet"))
    )
    for name in TPCH_TABLES:
        if name != "embeddings":
            os.symlink(
                os.path.join(SF_DIR, f"{name}.parquet"),
                os.path.join(base_dir, f"{name}.parquet"),
            )
    return base_dir


def test_adaptive_ivf_stream_maintenance_lifecycle(spark, store_dir, tmp_path):
    """The maintenance loop CLOSED IN THE STREAM (VERDICT r9 #5): with
    ``maintenance_every=1``, a drift wave splits a newly-hot cell and a
    later growth wave merges the diluted split cells — both decisions
    fired by the in-stream footer check, across a checkpoint restart —
    and the drained store state (leaf assignment of every row + the
    level-2 quantizer set) equals the batch twin's (update +
    maybe_rebalance + maybe_merge in the same order)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    k1 = 8
    d_stream = _mass_corpus(spark, str(tmp_path / "mass-stream"))
    storage.build_adaptive_ivf_store(spark, d_stream, k1=k1)
    path = storage.adaptive_ivf_store_path(d_stream, k1)
    meta0 = storage.load_adaptive_ivf_meta(d_stream, k1)
    sizes0 = {int(c): int(v) for c, v in meta0["sizes"].items()}
    hot0 = set(meta0["hot_cells"])
    t_split = max(
        (c for c in sizes0 if c not in hot0), key=lambda c: (sizes0[c], -c)
    )
    t_grow = min(sizes0, key=lambda c: (sizes0[c], c))
    store0 = spark.read.parquet(path)
    v_split = [
        float(x)
        for x in store0.where(F.col("cid1") == t_split)
        .orderBy("vec_id")
        .first()["embedding"]
    ]
    v_grow = [
        float(x)
        for x in store0.where(F.col("cid1") == t_grow)
        .orderBy("vec_id")
        .first()["embedding"]
    ]
    w1 = [(700_000 + i, v_split) for i in range(300)]
    w2 = [(800_000 + i, v_grow) for i in range(2200)]

    def wave(p, rows):
        papq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                    "embedding": pa.array(
                        [e for _, e in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            str(p),
        )

    incoming = tmp_path / "in"
    incoming.mkdir()
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>"
    # wave 1: drift -> the in-stream check must fire the SPLIT
    wave(incoming / "w1.parquet", w1)
    q = storage.run_adaptive_ivf_ingest_stream(
        spark, str(incoming), schema, d_stream, k1, ckpt,
        max_files_per_trigger=1, maintenance_every=1,
    )
    q.awaitTermination(120)
    meta1 = storage.load_adaptive_ivf_meta(d_stream, k1)
    assert t_split in meta1["level2"], "in-stream rebalance did not split"
    # wave 2 after a RESTART: growth dilutes -> the check must fire the
    # MERGE (and split the growth cell itself)
    wave(incoming / "w2.parquet", w2)
    q2 = storage.run_adaptive_ivf_ingest_stream(
        spark, str(incoming), schema, d_stream, k1, ckpt,
        max_files_per_trigger=1, maintenance_every=1,
    )
    q2.awaitTermination(180)
    meta2 = storage.load_adaptive_ivf_meta(d_stream, k1)
    assert t_grow in meta2["level2"], "growth cell did not split"
    assert t_split not in meta2["level2"], "diluted drift cell did not merge"
    final = spark.read.parquet(path)
    assert final.count() == 2048 + 300 + 2200
    # decisions are on the audit trail
    log = [
        json.loads(line)
        for line in open(os.path.join(path, "_maintenance_log.jsonl"))
    ]
    assert any(t_split in e["newly_hot"] for e in log)
    assert any(t_split in e["merged"] for e in log)
    # drained state == batch twin (same waves, same maintenance order)
    d_batch = _mass_corpus(spark, str(tmp_path / "mass-batch"))
    storage.build_adaptive_ivf_store(spark, d_batch, k1=k1)
    bpath = storage.adaptive_ivf_store_path(d_batch, k1)

    def frame(rows, tag):
        return spark.createDataFrame(
            [(v, e) for v, e in rows], "vec_id long, embedding array<float>"
        )

    storage.update_adaptive_ivf_store(spark, d_batch, frame(w1, "w1"), "stream-0", k1=k1)
    storage.maybe_rebalance_adaptive_ivf_store(spark, d_batch, k1)
    storage.maybe_merge_adaptive_ivf_store(spark, d_batch, k1)
    storage.update_adaptive_ivf_store(spark, d_batch, frame(w2, "w2"), "stream-1", k1=k1)
    storage.maybe_rebalance_adaptive_ivf_store(spark, d_batch, k1)
    storage.maybe_merge_adaptive_ivf_store(spark, d_batch, k1)
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cid1"], r["cid2"])
        for r in df.select("vec_id", "cid1", "cid2").collect()
    )
    assert key(final) == key(spark.read.parquet(bpath))
    bmeta = storage.load_adaptive_ivf_meta(d_batch, k1)
    assert sorted(meta2["level2"]) == sorted(bmeta["level2"])
    assert meta2["hot_cells"] == bmeta["hot_cells"]


def test_compact_adaptive_ivf_cell(spark, store_dir, tmp_path):
    """Split-cell compaction: per-batch directories inside every cid2
    leaf of a HOT (split) cell fold into one consolidated batch leaf —
    footer-proven file-count drop, byte-identical reads, cid2 layout
    preserved, footer occupancy unchanged, and post-compaction ingest
    still routes into the compacted subtree."""
    from pyspark.sql import functions as F

    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-compact"))
    storage.build_adaptive_ivf_store(spark, d, k1=k1)
    path = storage.adaptive_ivf_store_path(d, k1)
    meta = storage.load_adaptive_ivf_meta(d, k1)
    hot = sorted(meta["level2"])[0]
    v_hot = [
        float(x)
        for x in spark.read.parquet(path)
        .where(F.col("cid1") == hot)
        .orderBy("vec_id")
        .first()["embedding"]
    ]
    for i in range(4):
        wave = spark.createDataFrame(
            [(900_000 + 10 * i + j, v_hot) for j in range(5)],
            "vec_id long, embedding array<float>",
        )
        storage.update_adaptive_ivf_store(spark, d, wave, f"w{i}", k1=k1)

    def files(c):
        return sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(path, f"cid1={c}"))
            for f in fs
            if f.endswith(".parquet")
        )

    def rows():
        return sorted(
            (r["vec_id"], r["cid1"], r["cid2"])
            for r in spark.read.parquet(path)
            .select("vec_id", "cid1", "cid2")
            .collect()
        )

    before_rows = rows()
    before_files = files(hot)
    occ_before = storage.adaptive_ivf_occupancy_from_footers(d, k1)
    cold = sorted(c for c in occ_before if c not in meta["level2"])[0]
    cold_files = files(cold)

    report = storage.compact_adaptive_ivf_cell(spark, d, k1, hot)
    assert report["files_after"] < report["files_before"]
    assert len(files(hot)) == report["files_after"]
    assert len(files(hot)) < len(before_files)
    assert rows() == before_rows  # byte-identical content, cid2 preserved
    assert storage.adaptive_ivf_occupancy_from_footers(d, k1) == occ_before
    assert files(cold) == cold_files  # untouched-cell witness
    # each cid2 leaf now holds exactly one batch directory
    for leaf in os.listdir(os.path.join(path, f"cid1={hot}")):
        if leaf.startswith("cid2="):
            bd = [
                x
                for x in os.listdir(os.path.join(path, f"cid1={hot}", leaf))
                if x.startswith("batch_id=")
            ]
            assert len(bd) == 1 and bd[0].startswith("batch_id=compacted-")
    # post-compaction arrivals still route into the compacted subtree
    clone = spark.createDataFrame(
        [(990_123, v_hot)], "vec_id long, embedding array<float>"
    )
    storage.update_adaptive_ivf_store(spark, d, clone, "post", k1=k1)
    rowc = spark.read.parquet(path).where("vec_id = 990123").first()
    assert rowc["cid1"] == hot


def test_adaptive_ivf_crash_leftovers_and_clone_seeds(spark, store_dir, tmp_path):
    """ADVICE r9 hardening, pinned: (a) a crashed swap's leftover dirs
    are DOT-prefixed — partition discovery and the footer walk skip
    them, the store stays readable, and the next maintenance pass sweeps
    them; (b) a clone-heavy cell (duplicate embeddings among the seed
    head) still fits — _distinct_seeds dedupes instead of wedging Lloyd
    with an empty cluster; (c) hot_factor is part of the store key, so
    builds at different thresholds cannot alias."""
    from pyspark.sql import functions as F

    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-crash"))
    # (b) clone-heavy ingest BEFORE the build: duplicate the dominant
    # cell's first vectors so the seed head contains exact clones
    emb_path = os.path.join(d, "embeddings.parquet")
    emb = spark.read.parquet(emb_path)
    v0 = emb.orderBy("vec_id").first()
    clones = spark.createDataFrame(
        [(600_000 + i, v0["embedding"]) for i in range(600)],
        "vec_id long, embedding array<float>",
    )
    emb.unionByName(clones).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "emb2.parquet")
    )
    os.remove(emb_path) if os.path.isfile(emb_path) else __import__(
        "shutil"
    ).rmtree(emb_path)
    os.rename(str(tmp_path / "emb2.parquet"), emb_path)
    path = storage.build_adaptive_ivf_store(spark, d, k1=k1)  # must not raise
    meta = storage.load_adaptive_ivf_meta(d, k1)
    assert meta["hot_cells"], "clone-heavy corpus should still have hot cells"
    # (c) a different hot_factor is a DIFFERENT store
    assert storage.adaptive_ivf_store_path(
        d, k1, hot_factor=2.0
    ) != storage.adaptive_ivf_store_path(d, k1)
    # (a) simulate a crash-stranded swap leftover
    stranded = os.path.join(path, ".retired-cid1=0-deadbeef")
    os.makedirs(stranded)
    with open(os.path.join(stranded, "junk.parquet"), "w") as f:
        f.write("not parquet")
    total = sum(storage.adaptive_ivf_occupancy_from_footers(d, k1).values())
    assert total == 2048 + 600  # footer walk skips the dot dir
    assert spark.read.parquet(path).count() == total  # discovery skips it
    storage.rebalance_adaptive_ivf_store(spark, d, k1)  # sweeps on entry
    assert not os.path.isdir(stranded)


def test_embedding_pair_store_pruned_and_matches_derived(spark, store_dir):
    """The audit-family pair store: (a) each variant's read prunes to its
    partition directory (the audits pay for ONE variant's files, never
    the union); (b) stored content equals the live derivation for every
    variant, so the audits' oracles — which re-derive from scratch —
    keep hash-checking the store."""
    from distribution_engine_smt_spark.pipeline import similarity as sim

    builders = {
        "cosine": sim.dedup_embedding_cosine,
        "single": sim.dedup_embedding_lsh_single_probe,
        "mp1": sim.dedup_embedding_lsh_flips1,
        "mp2": sim.dedup_embedding_lsh_multiprobe,
        "mp3": sim.dedup_embedding_lsh_flips3,
    }
    storage.build_embedding_pair_store(spark, SF_DIR)

    def key(df):
        return sorted(
            (r["id_new"], r["id_corpus"], round(r["cos"], 9))
            for r in df.collect()
        )

    for variant, fn in builders.items():
        stored = storage.read_embedding_pairs(spark, SF_DIR, variant)
        plan = stored._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters: [", 1)
        assert len(pf) == 2, plan
        assert "variant" in pf[1].split("]", 1)[0]
        assert key(stored) == key(fn(spark, SF_DIR)), variant
    # stored_pairs helper: store present -> reads it; absent -> falls back
    got = sim.stored_pairs(spark, SF_DIR, "cosine", builders["cosine"])
    assert key(got) == key(builders["cosine"](spark, SF_DIR))


def test_clustered_mass_fit_store_matches_derived(spark, store_dir):
    """The materialized mass-fixture fit equals the live two-level
    derivation the occupancy audit's fallback branch runs: same level-1
    assignment (shared Lloyd contracts), same hot set, same level-2
    leaf sizes."""
    from distribution_engine_smt_spark.pipeline.clustered import (
        CF_C,
        CF_HOT_PCT,
        CF_N,
        clustered_mass_fixture_frame,
        cm_point,
    )
    from distribution_engine_smt_spark.pipeline.clustering import (
        _lloyd_fit_frame,
    )

    storage.build_clustered_mass_fit_store(spark, SF_DIR)
    stored, meta = storage.read_clustered_mass_fit(spark)
    assert stored.count() == CF_N
    fx = clustered_mass_fixture_frame(spark, SF_DIR)
    asg, cents1 = _lloyd_fit_frame(
        fx.select("vec_id", "embedding"), [cm_point(k) for k in range(CF_C)]
    )
    live = {(r["vec_id"], r["cid"]) for r in asg.collect()}
    assert {
        (r["vec_id"], r["cid"]) for r in stored.select("vec_id", "cid").collect()
    } == live
    assert meta["cents1"] == cents1  # exact JSON double round-trip
    from pyspark.sql import functions as F

    sizes = {
        r["cid"]: r["n"]
        for r in stored.groupBy("cid").agg(F.count("*").alias("n")).collect()
    }
    assert sizes == meta["sizes"]
    hot = {c for c, sz in sizes.items() if sz * CF_C * 100 > CF_HOT_PCT * CF_N}
    assert set(meta["level2"]) == hot
    # cold cells are single-leaf; hot cells are split
    leaves = {
        (r["cid"], r["cid2"])
        for r in stored.select("cid", "cid2").distinct().collect()
    }
    for c in sizes:
        n_leaves = len([k for k in leaves if k[0] == c])
        assert (n_leaves > 1) == (c in hot)


def test_adaptive_ivf_stream_compaction_selfheal(spark, store_dir, tmp_path):
    """Compaction closed into the stream loop: with a batch-dir
    threshold on the maintenance cadence, a long-lived ingest stream
    self-heals its small files — batch dirs per leaf stay bounded, rows
    complete — and the replay window is respected: the in-flight batch's
    directory carries over untouched, so replaying it after compaction
    is an idempotent overwrite, not a duplication."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-sc"))
    storage.build_adaptive_ivf_store(spark, d, k1=k1)
    path = storage.adaptive_ivf_store_path(d, k1)
    meta = storage.load_adaptive_ivf_meta(d, k1)
    hot = sorted(meta["level2"])[0]
    v_hot = [
        float(x)
        for x in spark.read.parquet(path)
        .where(F.col("cid1") == hot)
        .orderBy("vec_id")
        .first()["embedding"]
    ]
    incoming = tmp_path / "in"
    incoming.mkdir()
    waves = []
    for w in range(6):
        rows = [(910_000 + 10 * w + j, v_hot) for j in range(5)]
        waves.append(rows)
        papq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                    "embedding": pa.array(
                        [e for _, e in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            str(incoming / f"w{w}.parquet"),
        )
    q = storage.run_adaptive_ivf_ingest_stream(
        spark, str(incoming), "vec_id long, embedding array<float>",
        d, k1, str(tmp_path / "ck"),
        max_files_per_trigger=1, maintenance_every=1,
        compact_max_batch_dirs=2,
    )
    q.awaitTermination(300)
    total = spark.read.parquet(path).count()
    assert total == 2048 + 30  # every wave's rows present exactly once
    # bounded batch dirs in every leaf of the hot cell (compacted dir +
    # at most the replay-window batch)
    cell = os.path.join(path, f"cid1={hot}")
    for leaf in os.listdir(cell):
        if not leaf.startswith("cid2="):
            continue
        bd = [
            x
            for x in os.listdir(os.path.join(cell, leaf))
            if x.startswith("batch_id=")
        ]
        assert len(bd) <= 2, (leaf, bd)
    log = [
        json.loads(line)
        for line in open(os.path.join(path, "_maintenance_log.jsonl"))
    ]
    assert any(hot in e.get("compacted", []) for e in log)
    # replay the LAST batch (the only replayable one): its directory was
    # excluded from every compaction, so the overwrite is idempotent
    last = spark.createDataFrame(
        waves[-1], "vec_id long, embedding array<float>"
    )
    storage.update_adaptive_ivf_store(spark, d, last, "stream-5", k1=k1)
    assert spark.read.parquet(path).count() == total


def test_clustered_cf_fit_store_matches_derived(spark, store_dir, monkeypatch):
    """Every table of the materialized CF-fixture store (fit, trained
    codes, residual codes, meta) equals the live derivation the
    clustered_ivfpq_* probes run when no store exists — so the
    read-or-compute switch is hash-invisible to the driver's oracle
    compare (VERDICT r10 #4)."""
    from distribution_engine_smt_spark.pipeline.clustered import (
        CF_N,
        _cf_coarse_fit,
        _cf_pq_train_fit,
        _cf_residual_parts,
    )
    from distribution_engine_smt_spark.pipeline.similarity import pq_encode

    storage.build_clustered_cf_fit_store(spark, SF_DIR)
    stored, meta = storage.read_clustered_cf_fit(spark)
    assert stored.count() == CF_N

    # live derivation: force the no-store path by pointing the store
    # root elsewhere (the consumers are read-or-compute on this path)
    with_store = storage.clustered_cf_fit_store_path()
    assert os.path.isdir(with_store)
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(store_dir) + "-empty")
    fx, asg, cents = _cf_coarse_fit(spark, SF_DIR)
    assert meta["cents"] == cents  # exact JSON double round-trip
    assert {
        (r["vec_id"], r["cid"]) for r in stored.select("vec_id", "cid").collect()
    } == {(r["vec_id"], r["cid"]) for r in asg.collect()}
    vseeds = _cf_pq_train_fit(spark, SF_DIR)
    assert meta["pq_vseeds"] == vseeds
    resid, rseeds = _cf_residual_parts(spark, fx, asg, cents)
    assert meta["pq_rseeds"] == rseeds

    def code_set(df):
        cols = sorted(c for c in df.columns if c.startswith("c") and c != "cid")
        return {
            tuple(r[c] for c in ["vec_id", "cid", *cols]) for r in df.collect()
        }

    live_trained = pq_encode(fx.select("vec_id", "embedding"), vseeds).join(
        asg.select("vec_id", "cid"), "vec_id"
    )
    live_residual = pq_encode(resid, rseeds, keep=("cid",))
    # l3 audit-width tables, derived live while the store is hidden
    from distribution_engine_smt_spark.pipeline.clustered import (
        CF_C,
        CF_KSPLIT,
        DIM,
        PQ_K,
        cf_center,
        cf_point,
    )
    from distribution_engine_smt_spark.pipeline.clustering import (
        _lloyd_fit_frame,
    )
    from pyspark.sql import functions as F

    asg16, _ = _lloyd_fit_frame(
        fx.select("vec_id", "embedding"),
        [cf_point(k) for k in range(CF_KSPLIT)],
    )
    live_ksplit = {(r["vec_id"], r["cid"]) for r in asg16.collect()}
    pseeds = [cf_point(k) for k in range(PQ_K)]
    gcents = [cf_center(c) for c in range(CF_C)]
    grseeds = [
        [pseeds[k][j] - gcents[k % CF_C][j] for j in range(DIM)]
        for k in range(PQ_K)
    ]
    live_plain = pq_encode(fx.select("vec_id", "embedding"), pseeds)
    cdf = spark.createDataFrame(
        [(c, gcents[c]) for c in range(CF_C)], "c int, cent array<double>"
    )
    gresid = fx.join(cdf, fx["cl"] == cdf["c"]).select(
        "vec_id",
        "cl",
        F.zip_with("embedding", "cent", lambda x, y: x - y).alias("embedding"),
    )
    live_residgen = pq_encode(gresid, grseeds, keep=("cl",))

    def row_set(df):
        cols = sorted(df.columns)
        return {tuple(r[c] for c in cols) for r in df.collect()}

    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", os.path.dirname(with_store))
    assert code_set(storage.read_clustered_cf_codes(spark, "trained")) == code_set(
        live_trained
    )
    assert code_set(
        storage.read_clustered_cf_codes(spark, "residual")
    ) == code_set(live_residual)
    assert {
        (r["vec_id"], r["cid"])
        for r in storage.read_clustered_cf_ksplit(spark).collect()
    } == live_ksplit
    assert row_set(storage.read_clustered_cf_codes(spark, "plain")) == row_set(
        live_plain
    )
    assert row_set(
        storage.read_clustered_cf_codes(spark, "residgen")
    ) == row_set(live_residgen)


def test_adaptive_ivf_swap_crash_window_rolls_back(spark, store_dir, tmp_path):
    """Crash BETWEEN the two renames of a cell swap (the live cell is
    missing; its .retired-* dir holds the only copy, staging holds the
    new one): the next maintenance pass must RESTORE the retired copy
    (old-state rollback), never delete it — and must still drop the
    staging dir. The old-or-new docstring promise, enforced."""
    from pyspark.sql import functions as F

    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-window"))
    storage.build_adaptive_ivf_store(spark, d, k1=k1)
    path = storage.adaptive_ivf_store_path(d, k1)
    total = spark.read.parquet(path).count()
    cells = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("cid1=")
    )
    victim = cells[0]
    rows_victim = (
        spark.read.parquet(path).where(F.col("cid1") == victim).count()
    )
    # simulate the window-A crash state
    os.rename(
        os.path.join(path, f"cid1={victim}"),
        os.path.join(path, f".retired-cid1={victim}-cafef00d"),
    )
    staging = os.path.join(path, f".rebalance-{victim}-deadbeef")
    os.makedirs(staging)
    assert spark.read.parquet(path).count() == total - rows_victim
    swept = storage._sweep_retired(path)
    assert f".retired-cid1={victim}-cafef00d" in swept
    assert os.path.isdir(os.path.join(path, f"cid1={victim}"))  # restored
    assert not os.path.isdir(staging)
    assert spark.read.parquet(path).count() == total  # nothing lost
    occ = storage.adaptive_ivf_occupancy_from_footers(d, k1)
    assert sum(occ.values()) == total


def test_adaptive_ivf_ingest_after_swap_crash_restores_first(
    spark, store_dir, tmp_path
):
    """A batch write landing AFTER a mid-swap crash but BEFORE any
    maintenance pass must not destroy the crashed cell (ADVICE r10
    medium): if update_adaptive_ivf_store recreated the live cid1=N
    with only the batch's rows, the next _sweep_retired would see the
    live dir present and roll FORWARD — rmtree'ing the retired dir
    that holds the cell's only pre-crash copy. The ingest path now
    sweeps (restores) on entry, so the batch lands on top of the
    restored cell and nothing is lost."""
    from pyspark.sql import functions as F

    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-ingest-crash"))
    storage.build_adaptive_ivf_store(spark, d, k1=k1)
    path = storage.adaptive_ivf_store_path(d, k1)
    total = spark.read.parquet(path).count()
    cells = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("cid1=")
    )
    victim = cells[0]
    # crash window A: live cell gone, retired dot-dir is the only copy
    os.rename(
        os.path.join(path, f"cid1={victim}"),
        os.path.join(path, f".retired-cid1={victim}-0badc0de"),
    )
    # the stream restarts and replays a batch straight into ingest
    from distribution_engine_smt_spark.pipeline.clustered import cm_point

    batch = spark.createDataFrame(
        [(10_000_000 + i, cm_point(i)) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    storage.update_adaptive_ivf_store(spark, d, batch, "stream-crash", k1=k1)
    # the retired copy was restored BEFORE the write: no rows lost
    assert not any(
        e.startswith(".retired-") for e in os.listdir(path)
    )
    assert spark.read.parquet(path).count() == total + 20
    assert (
        spark.read.parquet(path)
        .where((F.col("cid1") == victim) & (F.col("batch_id") != "stream-crash"))
        .count()
        > 0
    )


def test_maybe_checks_sweep_crash_leftovers_before_footers(
    spark, store_dir, tmp_path
):
    """maybe_rebalance / maybe_merge read footer occupancy; after a
    mid-swap crash the victim cell's rows live only in a retired
    dot-dir the footer walk skips. Both checks must sweep (restore)
    first so their thresholds see the true occupancy (ADVICE r10 low)."""
    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-maybe-crash"))
    storage.build_adaptive_ivf_store(spark, d, k1=k1)
    path = storage.adaptive_ivf_store_path(d, k1)
    total = spark.read.parquet(path).count()
    cells = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(path)
        if e.startswith("cid1=")
    )
    for fn, victim in (
        (storage.maybe_rebalance_adaptive_ivf_store, cells[0]),
        (storage.maybe_merge_adaptive_ivf_store, cells[1]),
    ):
        os.rename(
            os.path.join(path, f"cid1={victim}"),
            os.path.join(path, f".retired-cid1={victim}-feedface"),
        )
        pre = storage.adaptive_ivf_occupancy_from_footers(d, k1)
        assert sum(pre.values()) < total  # the blind spot, pre-sweep
        fn(spark, d, k1)
        assert os.path.isdir(os.path.join(path, f"cid1={victim}"))
        post = storage.adaptive_ivf_occupancy_from_footers(d, k1)
        assert sum(post.values()) == total


def test_ngram_pair_store_matches_derived(spark, store_dir, monkeypatch):
    """Both ngram-pair variants (full, probe-sampled) equal the live
    capped posting self-join — so the store-read dedup_ngram_jaccard /
    jaccard_pairs_sampled are hash-invisible to the driver's oracle
    compare (VERDICT r10 #5), and the reads are partition-pruned."""
    from distribution_engine_smt_spark.pipeline.dedup import (
        dedup_ngram_jaccard,
        jaccard_pairs_sampled,
    )

    storage.build_ngram_pair_store(spark, SF_DIR)
    with_store = storage.ngram_pair_store_path(SF_DIR)
    assert os.path.isdir(with_store)

    def pairs(df):
        return sorted(
            (r["d1"], r["d2"], r["jaccard"]) for r in df.collect()
        )

    stored_full = pairs(storage.read_ngram_pairs(spark, SF_DIR, "full"))
    stored_sampled = pairs(storage.read_ngram_pairs(spark, SF_DIR, "sampled"))
    assert stored_full, "sf0.001 yields no jaccard pairs; test is vacuous"
    # live derivation: force the no-store path (memoize is keyed per
    # session+args, so call the impl through fresh store-less env)
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(store_dir) + "-none")
    from distribution_engine_smt_spark.pipeline.dedup import (
        _jaccard_pairs_impl,
        audit_sample_pred,
    )

    assert stored_full == pairs(_jaccard_pairs_impl(spark, SF_DIR))
    assert stored_sampled == pairs(
        _jaccard_pairs_impl(spark, SF_DIR, d1_pred=audit_sample_pred)
    )
    # sampled is the full set filtered on the probe predicate over d1
    import hashlib

    def in_sample(doc_id):
        h = hashlib.md5(f"smp:{doc_id}".encode()).hexdigest()
        return h[0] in ("0", "1")

    assert stored_sampled == [t for t in stored_full if in_sample(t[0])]


def test_adaptive_ivfpq_code_store_mirrors_vector_layout(
    spark, store_dir, tmp_path
):
    """The adaptive CODE store's (cid1, cid2) leaf set equals the
    vector store's (routing inherited by construction), hot cells are
    split in BOTH, and every leaf's code rows are the same vec_ids as
    its vector rows (VERDICT r10 #6)."""
    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-codes"))
    storage.build_adaptive_ivfpq_code_store(spark, d, k1=k1)
    vpath = storage.adaptive_ivf_store_path(d, k1)
    cpath = storage.adaptive_ivfpq_code_store_path(d, k1)
    meta = storage.load_adaptive_ivf_meta(d, k1)
    assert meta["hot_cells"], "fixture must split at least one cell"
    vec = spark.read.parquet(vpath)
    codes = spark.read.parquet(cpath)
    vleaves = {
        (r["cid1"], r["cid2"])
        for r in vec.select("cid1", "cid2").distinct().collect()
    }
    cleaves = {
        (r["cid1"], r["cid2"])
        for r in codes.select("cid1", "cid2").distinct().collect()
    }
    assert vleaves == cleaves
    assert any(c2 > 0 for _, c2 in cleaves)  # hot cells actually split
    per_leaf_v = {
        (r["cid1"], r["cid2"]): r["n"]
        for r in vec.groupBy("cid1", "cid2").count().withColumnRenamed("count", "n").collect()
    }
    per_leaf_c = {
        (r["cid1"], r["cid2"]): r["n"]
        for r in codes.groupBy("cid1", "cid2").count().withColumnRenamed("count", "n").collect()
    }
    assert per_leaf_v == per_leaf_c


def test_adaptive_ivfpq_probe_prunes_and_ranks(spark, store_dir, tmp_path):
    """probe_adaptive_ivfpq reads ONLY the routed leaves (the leaf
    predicate must reach the code scan as a PartitionFilter) and its
    top-k equals the exact cosine order over the same leaves' members
    restricted to its ADC shortlist."""
    from distribution_engine_smt_spark.pipeline.clustered import cm_point

    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-codes-probe"))
    storage.build_adaptive_ivfpq_code_store(spark, d, k1=k1)
    q = cm_point(0)
    out = storage.probe_adaptive_ivfpq(spark, d, q, k1=k1, nprobe=2, nprobe2=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    parts = [seg.split("]", 1)[0] for seg in plan.split("PartitionFilters: [")[1:]]
    # both scans (codes for ADC, vectors for rerank) are leaf-pruned
    assert len(parts) >= 2 and all("cid1" in p and "cid2" in p for p in parts), plan
    rows = out.collect()
    assert len(rows) == 10
    # rerank order is exact cosine: strictly non-increasing
    cos = [r["cos"] for r in rows]
    assert cos == sorted(cos, reverse=True)
    # with the ADC cut wider than the scanned leaves, the shortlist is
    # every scanned row and the probe MUST equal exact cosine top-10
    # over those leaves — python-recomputed here, independent of the
    # probe's own rerank expressions
    import math as _math

    wide = storage.probe_adaptive_ivfpq(
        spark, d, q, k1=k1, nprobe=2, nprobe2=2, cand=10**6
    )
    got = [(r["vec_id"], r["cos"]) for r in wide.collect()]
    meta = storage.load_adaptive_ivf_meta(d, k1)

    def d2(c):
        return sum((x - y) * (x - y) for x, y in zip(q, c))

    sel1 = sorted(range(k1), key=lambda i: (d2(meta["cents1"][i]), i))[:2]
    leaves = []
    for c1 in sel1:
        if c1 in meta["level2"]:
            c2s = meta["level2"][c1]
            order = sorted(range(len(c2s)), key=lambda i: (d2(c2s[i]), i))
            leaves += [(c1, c2) for c2 in order[:2]]
        else:
            leaves.append((c1, 0))
    vec = spark.read.parquet(storage.adaptive_ivf_store_path(d, k1))
    members = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in vec.collect()
        if (r["cid1"], r["cid2"]) in set(leaves)
    ]
    qn = _math.sqrt(sum(x * x for x in q))
    ref = sorted(
        (
            (
                vid,
                sum(a * b for a, b in zip(v, q))
                / (_math.sqrt(sum(a * a for a in v)) * qn),
            )
            for vid, v in members
        ),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert [v for v, _ in got] == [v for v, _ in ref]
    # widening the knob widens the SCAN: width-2 reads strictly more
    # code rows than width-1 in the split hot cell
    codes = spark.read.parquet(storage.adaptive_ivfpq_code_store_path(d, k1))
    n1 = codes.where(
        (codes["cid1"] == sel1[0]) & (codes["cid2"] == leaves[0][1])
    ).count()
    ncell = codes.where(codes["cid1"] == sel1[0]).count()
    assert 0 < n1 < ncell


def test_mass_sem_pair_store_matches_derived(spark, store_dir, monkeypatch):
    """The materialized mass-fixture truth-pair set equals the live
    within-category cosine verify, so the store-read semdedup audits
    stay hash-invisible to the driver's oracle compare."""
    from distribution_engine_smt_spark.pipeline.clustered import (
        _cm_sem_truth_pairs,
    )

    storage.build_clustered_mass_sem_pair_store(spark, SF_DIR)
    stored = {
        (r["id_a"], r["id_b"])
        for r in storage.read_clustered_mass_sem_pairs(spark).collect()
    }
    assert stored, "fixture yields no truth pairs; test is vacuous"
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(store_dir) + "-none")
    live = {
        (r["id_a"], r["id_b"])
        for r in _cm_sem_truth_pairs(spark, SF_DIR).collect()
    }
    assert stored == live


def test_adaptive_ivfpq_codes_follow_lifecycle(spark, store_dir, skewed_corpus):
    """The code store mirrors the vector store across the FULL
    lifecycle: ingest (batch codes land at the same commit boundary),
    rebalance (a split cell's code subtree re-leafs — without the sync
    a probe would select leaves that don't exist in the codes and
    silently scan nothing), and the probe stays equal to an exact
    recompute over the scanned leaves afterwards."""
    from pyspark.sql import functions as F

    k1 = 8
    storage.build_adaptive_ivfpq_code_store(spark, skewed_corpus, k1=k1)
    vpath = storage.adaptive_ivf_store_path(skewed_corpus, k1)
    cpath = storage.adaptive_ivfpq_code_store_path(skewed_corpus, k1)
    emb = spark.read.parquet(
        os.path.join(skewed_corpus, "embeddings.parquet")
    )
    cell0 = spark.read.parquet(vpath).where("vec_id = 0").first()["cid1"]

    # ingest: the batch's codes land with the batch
    wave = (
        emb.where("vec_id = 0")
        .crossJoin(spark.range(200).select(F.col("id").alias("i")))
        .select((F.lit(900_000) + F.col("i")).alias("vec_id"), "embedding")
    )
    storage.update_adaptive_ivf_store(spark, skewed_corpus, wave, "drift", k1=k1)
    codes = spark.read.parquet(cpath)
    assert codes.where("batch_id = 'drift'").count() == 200

    # rebalance: the drifted cell splits in BOTH stores
    out = storage.maybe_rebalance_adaptive_ivf_store(spark, skewed_corpus, k1)
    assert out["fired"] and out["newly_hot"] == [cell0]
    vec = spark.read.parquet(vpath)
    codes = spark.read.parquet(cpath)
    vleaves = {
        (r["cid1"], r["cid2"], r["n"])
        for r in vec.groupBy("cid1", "cid2").agg(F.count("*").alias("n")).collect()
    }
    cleaves = {
        (r["cid1"], r["cid2"], r["n"])
        for r in codes.groupBy("cid1", "cid2").agg(F.count("*").alias("n")).collect()
    }
    assert vleaves == cleaves
    assert any(c1 == cell0 and c2 > 0 for c1, c2, _ in cleaves)

    # the probe over the post-rebalance layout equals an independent
    # exact recompute over the same leaves (cand cut wider than leaves)
    import math as _math

    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    got = [
        r["vec_id"]
        for r in storage.probe_adaptive_ivfpq(
            spark, skewed_corpus, q, k1=k1, nprobe=2, nprobe2=2, cand=10**6
        ).collect()
    ]
    meta = storage.load_adaptive_ivf_meta(skewed_corpus, k1)

    def d2(c):
        return sum((x - y) * (x - y) for x, y in zip(q, c))

    sel1 = sorted(range(k1), key=lambda i: (d2(meta["cents1"][i]), i))[:2]
    leaves = []
    for c1 in sel1:
        if c1 in meta["level2"]:
            c2s = meta["level2"][c1]
            order = sorted(range(len(c2s)), key=lambda i: (d2(c2s[i]), i))
            leaves += [(c1, c2) for c2 in order[:2]]
        else:
            leaves.append((c1, 0))
    members = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in vec.collect()
        if (r["cid1"], r["cid2"]) in set(leaves)
    ]
    qn = _math.sqrt(sum(x * x for x in q))
    ref = sorted(
        (
            (
                vid,
                sum(a * b for a, b in zip(v, q))
                / (_math.sqrt(sum(a * a for a in v)) * qn),
            )
            for vid, v in members
        ),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert got == [v for v, _ in ref]


def test_pending_code_sync_marker_replays_after_crash(
    spark, store_dir, skewed_corpus, monkeypatch
):
    """ADVICE r11 #1 closed: a crash in the window between the vector
    swap + meta publish and the trailing code sync leaves a DURABLE
    marker recorded before the first swap; (a) probe_adaptive_ivfpq
    degrades to a widened whole-cell code read instead of silently
    ADC-scanning nothing, and (b) the next maintenance entry replays
    the sync from the marker, restoring the mirrored layout."""
    import math as _math

    from pyspark.sql import functions as F

    k1 = 8
    storage.build_adaptive_ivfpq_code_store(spark, skewed_corpus, k1=k1)
    vpath = storage.adaptive_ivf_store_path(skewed_corpus, k1)
    cpath = storage.adaptive_ivfpq_code_store_path(skewed_corpus, k1)
    emb = spark.read.parquet(os.path.join(skewed_corpus, "embeddings.parquet"))
    cell0 = spark.read.parquet(vpath).where("vec_id = 0").first()["cid1"]
    wave = (
        emb.where("vec_id = 0")
        .crossJoin(spark.range(200).select(F.col("id").alias("i")))
        .select((F.lit(900_000) + F.col("i")).alias("vec_id"), "embedding")
    )
    storage.update_adaptive_ivf_store(spark, skewed_corpus, wave, "drift", k1=k1)
    # crash the trailing sync: the rebalance swaps the vector subtrees
    # and publishes meta; the code store stays on the OLD (unsplit)
    # layout for cell0
    with monkeypatch.context() as m:
        m.setattr(
            storage, "sync_adaptive_ivfpq_code_cells", lambda *a, **k: []
        )
        out = storage.rebalance_adaptive_ivf_store(spark, skewed_corpus, k1)
    assert out["newly_hot"] == [cell0]
    assert storage._pending_code_sync_cells(cpath) == [cell0]
    codes = spark.read.parquet(cpath)
    assert codes.where(f"cid1 = {cell0} and cid2 > 0").count() == 0

    # (a) read-side guard: the probe widens the diverged cell to a
    # whole-cell read; with the ADC cut wide open its result equals
    # exact cosine top-10 over exactly the vec rows it reranks
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    got = [
        r["vec_id"]
        for r in storage.probe_adaptive_ivfpq(
            spark, skewed_corpus, q, k1=k1, nprobe=2, nprobe2=2, cand=10**6
        ).collect()
    ]
    meta = storage.load_adaptive_ivf_meta(skewed_corpus, k1)

    def d2(c):
        return sum((x - y) * (x - y) for x, y in zip(q, c))

    sel1 = sorted(range(k1), key=lambda i: (d2(meta["cents1"][i]), i))[:2]
    keep = set()
    vec = spark.read.parquet(vpath)
    for c1 in sel1:
        if c1 == cell0:  # widened: the whole cell
            keep |= {
                (r["cid1"], r["cid2"])
                for r in vec.where(f"cid1 = {c1}")
                .select("cid1", "cid2")
                .distinct()
                .collect()
            }
        elif c1 in meta["level2"]:
            c2s = meta["level2"][c1]
            order = sorted(range(len(c2s)), key=lambda i: (d2(c2s[i]), i))
            keep |= {(c1, c2) for c2 in order[:2]}
        else:
            keep.add((c1, 0))
    members = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in vec.collect()
        if (r["cid1"], r["cid2"]) in keep
    ]
    qn = _math.sqrt(sum(x * x for x in q))
    ref = sorted(
        (
            (
                vid,
                sum(a * b for a, b in zip(v, q))
                / (_math.sqrt(sum(a * a for a in v)) * qn),
            )
            for vid, v in members
        ),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert got == [v for v, _ in ref]

    # (b) the next maintenance entry replays the sync from the marker
    out2 = storage.maybe_rebalance_adaptive_ivf_store(spark, skewed_corpus, k1)
    assert out2["fired"] is False  # nothing newly hot — only the replay
    assert storage._pending_code_sync_cells(cpath) == []
    vleaves = {
        (r["cid1"], r["cid2"], r["n"])
        for r in vec.groupBy("cid1", "cid2").agg(F.count("*").alias("n")).collect()
    }
    cleaves = {
        (r["cid1"], r["cid2"], r["n"])
        for r in spark.read.parquet(cpath)
        .groupBy("cid1", "cid2")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert vleaves == cleaves


def test_code_sync_creates_missing_cell_subtree(
    spark, store_dir, skewed_corpus
):
    """ADVICE r11 #4: a sync for a cell with no live code subtree
    (crash-removed, or occupancy drifted to zero before a merge)
    CREATES the subtree instead of raising FileNotFoundError out of
    the swap's first rename."""
    import shutil as _sh

    k1 = 8
    storage.build_adaptive_ivfpq_code_store(spark, skewed_corpus, k1=k1)
    vpath = storage.adaptive_ivf_store_path(skewed_corpus, k1)
    cpath = storage.adaptive_ivfpq_code_store_path(skewed_corpus, k1)
    cell = spark.read.parquet(vpath).where("vec_id = 0").first()["cid1"]
    _sh.rmtree(os.path.join(cpath, f"cid1={cell}"))
    synced = storage.sync_adaptive_ivfpq_code_cells(
        spark, skewed_corpus, k1, [cell]
    )
    assert synced == [cell]
    n_vec = spark.read.parquet(vpath).where(f"cid1 = {cell}").count()
    n_code = spark.read.parquet(cpath).where(f"cid1 = {cell}").count()
    assert n_code == n_vec and n_code > 0
    # and the marker is clear — the sync completed
    assert storage._pending_code_sync_cells(cpath) == []


def test_missing_pair_variant_reads_as_no_store(spark, store_dir):
    """A pair store that predates a variant must read as None (fall
    back to live derivation), never as an empty pair set — the silent
    failure mode of filtering a partition that was never written."""
    import shutil as _sh

    path = storage.build_embedding_pair_store(spark, SF_DIR)
    assert storage.read_embedding_pairs(spark, SF_DIR, "planted") is not None
    _sh.rmtree(os.path.join(path, "variant=planted"))
    assert storage.read_embedding_pairs(spark, SF_DIR, "planted") is None
    # and the planted audit still runs (live fallback), same row shape
    from distribution_engine_smt_spark.pipeline.audit import (
        embedding_lsh_planted_recall_audit,
    )
    from distribution_engine_smt_spark.driver_queries import _DF_CACHE

    _DF_CACHE.clear()
    r = embedding_lsh_planted_recall_audit(spark, SF_DIR).collect()[0]
    assert r["n_planted"] == 50 and 0.0 <= r["recall"] <= 1.0


def test_adaptive_ivfpq_code_store_stream_drain_equality(
    spark, store_dir, tmp_path
):
    """VERDICT r11 #2: the vector store has a two-wave checkpoint-
    restart drain proof; this is the CODE store's. A drift wave (split
    fires in-stream), a checkpoint restart, a growth wave (merge +
    growth-cell split fire) — and after the drain the code store (a)
    mirrors the vector store's (cid1, cid2, batch_id) leaf layout
    row-for-row, and (b) equals a from-scratch encode of the drained
    vector store: same vec_ids, same leaves, same code words. Without
    the in-stream sync the split/merge would leave the code layout
    frozen at build time and (a) fails."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from distribution_engine_smt_spark.pipeline.similarity import (
        pq_encode,
        pq_seed_vectors,
    )

    k1 = 8
    d = _mass_corpus(spark, str(tmp_path / "mass-codes-stream"))
    storage.build_adaptive_ivfpq_code_store(spark, d, k1=k1)
    vpath = storage.adaptive_ivf_store_path(d, k1)
    cpath = storage.adaptive_ivfpq_code_store_path(d, k1)
    meta0 = storage.load_adaptive_ivf_meta(d, k1)
    sizes0 = {int(c): int(v) for c, v in meta0["sizes"].items()}
    hot0 = set(meta0["hot_cells"])
    t_split = max(
        (c for c in sizes0 if c not in hot0), key=lambda c: (sizes0[c], -c)
    )
    t_grow = min(sizes0, key=lambda c: (sizes0[c], c))
    store0 = spark.read.parquet(vpath)
    v_split = [
        float(x)
        for x in store0.where(F.col("cid1") == t_split)
        .orderBy("vec_id")
        .first()["embedding"]
    ]
    v_grow = [
        float(x)
        for x in store0.where(F.col("cid1") == t_grow)
        .orderBy("vec_id")
        .first()["embedding"]
    ]
    w1 = [(700_000 + i, v_split) for i in range(300)]
    w2 = [(800_000 + i, v_grow) for i in range(2200)]

    def wave(p, rows):
        papq.write_table(
            pa.table(
                {
                    "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                    "embedding": pa.array(
                        [e for _, e in rows], pa.list_(pa.float32())
                    ),
                }
            ),
            str(p),
        )

    incoming = tmp_path / "in"
    incoming.mkdir()
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>"
    wave(incoming / "w1.parquet", w1)
    q = storage.run_adaptive_ivf_ingest_stream(
        spark, str(incoming), schema, d, k1, ckpt,
        max_files_per_trigger=1, maintenance_every=1,
    )
    q.awaitTermination(120)
    assert t_split in storage.load_adaptive_ivf_meta(d, k1)["level2"]
    # restart from the checkpoint for the second wave
    wave(incoming / "w2.parquet", w2)
    q2 = storage.run_adaptive_ivf_ingest_stream(
        spark, str(incoming), schema, d, k1, ckpt,
        max_files_per_trigger=1, maintenance_every=1,
    )
    q2.awaitTermination(180)
    meta2 = storage.load_adaptive_ivf_meta(d, k1)
    assert t_grow in meta2["level2"], "growth cell did not split"
    assert t_split not in meta2["level2"], "diluted cell did not merge"
    vec = spark.read.parquet(vpath)
    codes = spark.read.parquet(cpath)
    assert vec.count() == 2048 + 300 + 2200
    # (a) leaf layout mirrored per (cid1, cid2, batch_id)
    layout = lambda df: sorted(  # noqa: E731
        (r["cid1"], r["cid2"], r["batch_id"], r["n"])
        for r in df.groupBy("cid1", "cid2", "batch_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert layout(vec) == layout(codes)
    # (b) equal to a from-scratch encode of the drained vector store
    scratch = pq_encode(
        vec.select("vec_id", "embedding", "cid1", "cid2", "batch_id"),
        pq_seed_vectors(spark, d),
        keep=("cid1", "cid2", "batch_id"),
    )
    cols = sorted(scratch.columns)
    rows = lambda df: sorted(  # noqa: E731
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )
    assert rows(codes) == rows(scratch)
    # no pending-sync debt after a clean drain
    assert storage._pending_code_sync_cells(cpath) == []


def test_pending_code_sync_marker_merges_and_sorts(spark, store_dir, tmp_path):
    """Marker semantics: records MERGE (never overwrite) across calls,
    ints sorted/deduped, absent store -> no-op False, and the reader
    returns [] for a store with no marker."""
    k1 = 8
    # no store yet: recording is a no-op
    assert storage.record_pending_code_sync(SF_DIR, k1, [3, 1]) is False
    cpath = storage.adaptive_ivfpq_code_store_path(SF_DIR, k1)
    os.makedirs(cpath)
    try:
        assert storage._pending_code_sync_cells(cpath) == []
        assert storage.record_pending_code_sync(SF_DIR, k1, [3, 1]) is True
        assert storage._pending_code_sync_cells(cpath) == [1, 3]
        storage.record_pending_code_sync(SF_DIR, k1, [2, 3])
        assert storage._pending_code_sync_cells(cpath) == [1, 2, 3]
    finally:
        import shutil as _sh

        _sh.rmtree(cpath, ignore_errors=True)
