"""Ingest → fold → migrate lifecycle for the RHP band store (VERDICT r7
next-round #2): stream-ingested vectors fold back into a GROWABLE corpus
table (idempotent batch-keyed append + store fingerprint refresh), after
which the width migration that previously REFUSED (orphaned stream rows)
succeeds and produces buckets identical to a from-scratch banding of the
grown corpus."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from distribution_engine_smt_spark import tables
from distribution_engine_smt_spark.operators import storage
from distribution_engine_smt_spark.pipeline.similarity import (
    RHP_TABLES,
    rhp_band_frame_at,
)

from .conftest import SF_DIR


@pytest.fixture()
def store_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "stores")
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", d)
    yield d


def _wave(path, rows):
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([v for v, _ in rows], pa.int64()),
                "embedding": pa.array(
                    [e for _, e in rows], pa.list_(pa.float32())
                ),
            }
        ),
        str(path),
    )


def test_ingest_fold_migrate_lifecycle(spark, store_dir, tmp_path):
    corpus = storage.init_growable_corpus(
        spark, SF_DIR, str(tmp_path / "corpus")
    )
    emb = tables.load_tpch(spark, corpus)["embeddings"]
    n0 = emb.count()
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.where("vec_id < 2").collect()
    }

    path = storage.build_rhp_band_store(spark, corpus)
    bits0 = storage.rhp_store_bits(path)

    # two stream waves of new vectors land in the staging area and band
    # incrementally into the store at the STORED width
    incoming = tmp_path / "in"
    incoming.mkdir()
    _wave(incoming / "w1.parquet", [(300_000, vecs[0])])
    _wave(incoming / "w2.parquet", [(300_001, vecs[1])])
    q = storage.run_rhp_band_stream(
        spark,
        str(incoming),
        "vec_id long, embedding array<float>",
        path,
        str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    assert storage.read_rhp_bands(spark, corpus, bits0).count() == (
        (n0 + 2) * RHP_TABLES
    )

    # before the fold: migration REFUSES (stream rows absent from corpus)
    with pytest.raises(ValueError, match="fold"):
        storage.migrate_rhp_band_store(spark, corpus, path, bits0 + 1)

    # seed the per-session fit memos with sentinel entries keyed on this
    # corpus: a stale kmeans/PQ fit surviving the fold would hand every
    # IVF probe a quantizer that excludes the folded vectors (ADVICE r8
    # #1 — the exact "index that forgets rows" failure the fold prevents)
    from distribution_engine_smt_spark.pipeline import clustering
    from distribution_engine_smt_spark.pipeline import pq as pq_mod

    clustering._FIT_CACHE[("app", corpus, 4, 2)] = ("stale-fit",)
    pq_mod._FIT_CACHE[("app", corpus)] = [[0.0]]

    # fold: stream vectors land in the corpus table under per-batch
    # partitions; the store is re-published at the refreshed fingerprint
    new_path = storage.fold_rhp_stream_into_corpus(
        spark, corpus, path, str(incoming)
    )
    assert new_path != path and not os.path.isdir(path)
    assert ("app", corpus, 4, 2) not in clustering._FIT_CACHE
    assert ("app", corpus) not in pq_mod._FIT_CACHE
    emb2 = tables.load_tpch(spark, corpus)["embeddings"]
    assert emb2.count() == n0 + 2
    folded = emb2.where(F.col("vec_id") >= 300_000)
    assert folded.count() == 2 and folded.where("label IS NULL").count() == 2
    # fold is idempotent: a replay rewrites the same partitions
    again = storage.fold_rhp_stream_into_corpus(
        spark, corpus, new_path, str(incoming)
    )
    assert again == new_path
    assert tables.load_tpch(spark, corpus)["embeddings"].count() == n0 + 2

    # migration now succeeds and is bucket-identical to a from-scratch
    # banding of the GROWN corpus at the new width
    migrated_path = storage.ensure_rhp_band_store(spark, corpus, bits0 + 1)
    assert storage.rhp_store_bits(migrated_path) == bits0 + 1
    got = sorted(
        (r["vec_id"], r["tbl"], r["bucket"])
        for r in storage.read_rhp_bands(spark, corpus, bits0 + 1).collect()
    )
    want = sorted(
        (r["vec_id"], r["tbl"], r["bucket"])
        for r in rhp_band_frame_at(spark, corpus, bits0 + 1).collect()
    )
    assert got == want and len(got) == (n0 + 2) * RHP_TABLES

    # crash-replay collision (ADVICE r8 #4): a fold replayed from a
    # pre-rename store copy, when a store for the grown corpus already
    # sits at the refreshed fingerprint path, must keep the existing
    # store and retire the stale one — not OSError on the rename
    import shutil

    stale = migrated_path + "-stale-replay"
    shutil.copytree(migrated_path, stale)
    resolved = storage.fold_rhp_stream_into_corpus(
        spark, corpus, stale, str(incoming)
    )
    assert resolved == migrated_path
    assert not os.path.isdir(stale) and os.path.isdir(migrated_path)


def test_ivfpq_ingest_fold_refit_lifecycle(spark, store_dir, tmp_path):
    """VERDICT r8 #4: the compressed-index twin of the RHP lifecycle.
    Stream-fed IVF-PQ codes land incrementally; a quantizer REFIT over
    the grown corpus REFUSES while streamed vectors are absent from the
    corpus table (orphan guard), succeeds after the fold, includes every
    folded vector with codes identical to a direct encode under the
    refit quantizer, and occupies exactly one cell per vector."""
    from distribution_engine_smt_spark.pipeline.clustering import kmeans_fit
    from distribution_engine_smt_spark.pipeline.similarity import (
        PQ_S,
        pq_seed_vectors,
    )

    corpus = storage.init_growable_corpus(
        spark, SF_DIR, str(tmp_path / "corpus")
    )
    emb = tables.load_tpch(spark, corpus)["embeddings"]
    n0 = emb.count()
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.where("vec_id < 2").collect()
    }

    path = storage.build_ivfpq_code_store(spark, corpus)
    k0 = storage.ivfpq_store_k(path)
    _, cents = kmeans_fit(spark, corpus)
    seeds = pq_seed_vectors(spark, corpus)

    # two stream waves (with a checkpoint restart between them)
    incoming = tmp_path / "in"
    incoming.mkdir()
    ckpt = str(tmp_path / "ck")
    schema = "vec_id long, embedding array<float>"
    _wave(incoming / "w1.parquet", [(300_000, vecs[0])])
    q = storage.run_ivfpq_ingest_stream(
        spark, str(incoming), schema, path, cents, seeds, ckpt
    )
    q.awaitTermination(120)
    _wave(incoming / "w2.parquet", [(300_001, vecs[1])])
    q2 = storage.run_ivfpq_ingest_stream(
        spark, str(incoming), schema, path, cents, seeds, ckpt
    )
    q2.awaitTermination(120)
    assert storage.read_ivfpq_codes(spark, corpus, k0).count() == n0 + 2

    # before the fold: refit REFUSES (streamed vectors would be dropped)
    with pytest.raises(ValueError, match="fold"):
        storage.refit_ivfpq_code_store(spark, corpus, path)

    # fold: corpus grows; the store stays at ITS OWN path (its codes are
    # old-quantizer state — renaming it to the grown fingerprint would
    # lie to fingerprint-keyed consumers; see the fold docstring) and
    # keeps serving until the refit publishes
    new_path = storage.fold_ivfpq_stream_into_corpus(
        spark, corpus, path, str(incoming)
    )
    assert new_path == path and os.path.isdir(path)
    assert storage.ivfpq_store_k(new_path) == k0
    assert tables.load_tpch(spark, corpus)["embeddings"].count() == n0 + 2
    # idempotent: a replayed fold is a no-op returning the same path
    assert (
        storage.fold_ivfpq_stream_into_corpus(
            spark, corpus, new_path, str(incoming)
        )
        == new_path
    )
    assert tables.load_tpch(spark, corpus)["embeddings"].count() == n0 + 2

    # refit over the grown corpus: quantizer re-fit at the grown count's
    # ladder width, every vector re-encoded — equals a from-scratch build
    refit = storage.refit_ivfpq_code_store(spark, corpus, new_path)
    assert refit != new_path and not os.path.isdir(new_path)
    codes = storage.read_ivfpq_codes(spark, corpus, storage.ivfpq_store_k(refit))
    # occupancy: one code row per corpus vector, folded vectors included
    assert codes.count() == n0 + 2
    assert codes.select("vec_id").distinct().count() == n0 + 2
    assert codes.where("vec_id >= 300000").count() == 2
    # folded vectors' codes equal a direct encode under the refit
    # quantizer (they are clones of vec 0/1, so cell+codes must match)
    key = ["cid"] + [f"c{s}" for s in range(PQ_S)]
    got = {
        r["vec_id"]: tuple(r[c] for c in key)
        for r in codes.where(
            "vec_id IN (0, 1, 300000, 300001)"
        ).collect()
    }
    assert got[300_000] == got[0] and got[300_001] == got[1]
