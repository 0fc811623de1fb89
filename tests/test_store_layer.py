"""The write-once store contract of operators/storage.py, in the core
tier: build-once publishing, the racing-loser and failed-write paths,
reads that return None for an unbuilt store or variant, and
fingerprint-keyed naming. No store is built; the only Spark work is one
tiny parquet read."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distribution_engine_smt_spark.operators import storage

from .conftest import SF_DIR


@pytest.fixture()
def store_dir(tmp_path, monkeypatch):
    d = str(tmp_path / "stores")
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", d)
    return d


def _fill(d: str, text: str) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write(text)


def _content(d: str) -> str:
    with open(os.path.join(d, "part-0.parquet")) as f:
        return f.read()


def test_publish_builds_once(store_dir):
    path = os.path.join(store_dir, "kind-v1-abc")
    tmps = []

    def write(tmp):
        tmps.append(tmp)
        _fill(tmp, "built")

    assert storage._publish(path, write) == path
    assert storage._publish(path, write) == path
    assert len(tmps) == 1
    assert os.path.basename(tmps[0]).startswith(".kind-v1-abc.build-")
    assert _content(path) == "built"
    assert os.listdir(store_dir) == ["kind-v1-abc"]


def test_publish_racing_loser_discards_its_copy(store_dir):
    path = os.path.join(store_dir, "kind-v1-abc")

    def write(tmp):
        _fill(tmp, "loser")
        _fill(path, "winner")  # a concurrent builder publishes first

    assert storage._publish(path, write) == path
    assert _content(path) == "winner"
    assert os.listdir(store_dir) == ["kind-v1-abc"]


def test_publish_failed_write_publishes_nothing(store_dir):
    path = os.path.join(store_dir, "kind-v1-abc")

    def write(tmp):
        _fill(tmp, "partial")
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError, match="write failed"):
        storage._publish(path, write)
    assert os.listdir(store_dir) == []


def test_reads_return_none_when_unbuilt(store_dir):
    # spark is never touched on the missing path
    s = None
    assert storage.read_dedup_pairs(s, SF_DIR) is None
    assert storage.read_minhash_signatures(s, SF_DIR, 8) is None
    assert storage.read_shingle_postings(s, SF_DIR) is None
    assert storage.read_dedup_clusters(s, SF_DIR) is None
    assert storage.load_kmeans_fit(s, SF_DIR, 4, 2) is None
    assert storage.load_sharded_ivf_meta(SF_DIR) is None
    assert storage.read_sharded_ivf(s, SF_DIR) is None
    assert storage.load_adaptive_ivf_meta(SF_DIR, 4) is None
    assert storage.read_pq_codes(s, SF_DIR) is None
    assert storage.load_pq_codebook(SF_DIR) is None
    assert storage.read_ivfpq_codes(s, SF_DIR, 4) is None
    assert storage.read_rhp_bands(s, SF_DIR, 4) is None
    assert storage.read_embedding_pairs(s, SF_DIR, "cosine") is None
    assert storage.read_ngram_pairs(s, SF_DIR, "full") is None
    assert storage.read_clustered_mass_sem_pairs(s) is None
    assert storage.read_clustered_cf_codes(s, "trained") is None
    assert storage.read_clustered_cf_ksplit(s) is None
    assert storage.read_clustered_mass_fit(s) == (None, None)
    assert storage.read_clustered_cf_fit(s) == (None, None)


def test_missing_variant_or_sub_table_reads_none(spark, store_dir):
    emb = storage.embedding_pair_store_path(SF_DIR)
    os.makedirs(os.path.join(emb, "variant=cosine"))
    pq.write_table(
        pa.table({"id_new": [1], "id_corpus": [2], "cos": [0.9]}),
        os.path.join(emb, "variant=cosine", "part-0.parquet"),
    )
    # a store that predates a variant reads as None, never as empty
    assert storage.read_embedding_pairs(spark, SF_DIR, "planted") is None
    got = storage.read_embedding_pairs(spark, SF_DIR, "cosine").collect()
    assert [tuple(r) for r in got] == [(1, 2, 0.9)]
    cf = storage.clustered_cf_fit_store_path()
    os.makedirs(os.path.join(cf, "codes-trained"))
    assert storage.read_clustered_cf_ksplit(spark) is None


def test_store_names_follow_one_rule(store_dir):
    fp_doc = storage._sf_fingerprint(SF_DIR, ("documents.parquet",))
    fp_emb = storage._sf_fingerprint(SF_DIR, ("embeddings.parquet",))
    names = {
        os.path.basename(p)
        for p in (
            storage.pair_store_path(SF_DIR),
            storage.cluster_store_path(SF_DIR),
            storage.signature_store_path(SF_DIR, 8),
            storage.kmeans_store_path(SF_DIR, 4, 2),
            storage.rhp_band_store_path(SF_DIR, 4),
            storage.embedding_pair_store_path(SF_DIR),
        )
    }
    assert names == {
        f"pairs-v1-wauto-j0.5-{fp_doc}",
        f"pairs-v1-wauto-j0.5-{fp_doc}-clusters",
        f"minhash-sig-v1-h8-{fp_doc}",
        f"kmeans-v1-k4i2-{fp_emb}",
        f"rhp-bands-v1-L8k4-{fp_emb}",
        f"emb-pairs-v1p-{fp_emb}",
    }
    assert all(os.path.dirname(p) == store_dir for p in (
        storage.pair_store_path(SF_DIR), storage.clustered_cf_fit_store_path()
    ))


def test_rewritten_input_renames_the_store(store_dir, tmp_path):
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs = os.path.join(sf, "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1]}), docs)
    before = storage.pair_store_path(sf)
    assert storage.pair_store_path(sf) == before  # deterministic
    pq.write_table(pa.table({"doc_id": [1, 2]}), docs)
    st = os.stat(docs)
    os.utime(docs, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    after = storage.pair_store_path(sf)
    assert after != before
    # a store built for the old input is never found for the new one
    _fill(before, "stale")
    assert storage.read_dedup_pairs(None, sf) is None


def test_stale_fixture_fit_store_fails_fast(store_dir):
    """The cf/cmass fixture fit stores derive from code constants, so no
    input fingerprint names them: their sidecar carries the generator's
    fingerprint, and a store written by another generator raises on
    every read, naming the store, instead of serving stale rows."""
    cf = storage.clustered_cf_fit_store_path()
    cm = storage.clustered_mass_fit_store_path()
    reads = {
        cf: (
            lambda: storage.read_clustered_cf_fit(None),
            lambda: storage.read_clustered_cf_codes(None, "trained"),
            lambda: storage.read_clustered_cf_ksplit(None),
        ),
        cm: (lambda: storage.read_clustered_mass_fit(None),),
    }
    for path, fns in reads.items():
        storage._write_json(path, {"generator": "0" * 16})
        for read in fns:
            with pytest.raises(ValueError, match=os.path.basename(path)):
                read()
    # the live generator's fingerprint passes the check
    from distribution_engine_smt_spark.pipeline.clustered import cf_point

    storage._write_json(cf, {"generator": storage._generator_fingerprint(cf_point)})
    assert storage.read_clustered_cf_codes(None, "trained") is None
    # nothing was built: only the two hand-written sidecars exist
    assert sorted(os.listdir(store_dir)) == sorted(
        os.path.basename(p) for p in (cf, cm)
    )
    assert sorted(os.listdir(cf)) == sorted(os.listdir(cm)) == ["_meta.json"]
