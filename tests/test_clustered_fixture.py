"""Clustered-embedding fixture (VERDICT r8 #3): the measured claims the
fixture exists to make are regression-gated here — coarse structure is
real, residual PQ beats plain PQ on it, and SemDeDup's cell-blocking
misses nothing. The full value-level oracle match runs in
test_driver_queries.py like every registered query; these tests pin the
INEQUALITIES (a silent fixture regression could stay hash-consistent
across engines while erasing the phenomenon being priced)."""

from __future__ import annotations

from distribution_engine_smt_spark.pipeline import clustered as cf

from .conftest import SF_DIR


def test_generation_is_three_way_deterministic(spark):
    """Spark expressions == driver-side Python for points and the cl
    label (the DuckDB side is pinned by the oracle battery)."""
    got = {
        r["vec_id"]: (r["cl"], [float(x) for x in r["embedding"]])
        for r in cf.clustered_fixture_frame(spark, SF_DIR)
        .where("vec_id in (0, 7, 100, 2047)")
        .collect()
    }
    for i, (cl, emb) in got.items():
        assert cl == i % cf.CF_C
        assert emb == cf.cf_point(i), f"vec {i} diverged from driver math"


def test_fixture_has_real_coarse_structure(spark):
    rows = cf.clustered_fixture_stats(spark, SF_DIR).collect()
    assert len(rows) == cf.CF_C
    for r in rows:
        assert r["n"] == cf.CF_N // cf.CF_C
        assert r["mean_cos_own"] > 0.99, r
        assert r["mean_cos_best_other"] < 0.5, r


def test_residual_beats_plain_on_clustered_data(spark):
    """The statement round 8 could not make: with cells that capture
    coarse structure, residual codes rank strictly tighter than plain
    codes at the same codebook budget — at EVERY priced cut."""
    r = cf.clustered_pq_variant_audit(spark, SF_DIR).collect()[0]
    assert r["n_q"] == cf.CF_Q and r["n_true"] == cf.CF_Q * cf.CF_TOP
    for cut in cf.CF_CUTS:
        assert r[f"recall_residual_{cut}"] > r[f"recall_plain_{cut}"], (
            cut,
            r.asDict(),
        )
    # the headline numbers cited in docs/SURVEY: keep them honest
    assert r["recall_residual_200"] == 1.0
    assert r["recall_plain_200"] < 0.9


def test_semdedup_blocking_misses_nothing_here(spark):
    r = cf.clustered_semdedup_audit(spark, SF_DIR).collect()[0]
    assert r["n_keep"] == cf.CF_C  # one representative per component
    assert r["n_missed_by_blocking"] == 0
    assert r["n_probe_pairs_all"] == r["n_probe_pairs_blocked"] > 0


def test_end_to_end_residual_beats_trained_plain(spark):
    """r10 #1: the SAME statement under real cell pruning with the
    TRAINED quantizer — the full production compositions, not the
    generative-center stand-in. Residual reaches 1.0; trained-plain
    drops a true neighbor past the identical ADC cut."""
    rt = cf.clustered_ivfpq_trained_recall_audit(spark, SF_DIR).collect()[0]
    rr = cf.clustered_ivfpq_residual_recall_audit(spark, SF_DIR).collect()[0]
    assert rr["recall_at_k"] == 1.0, rr.asDict()
    assert rt["recall_at_k"] < rr["recall_at_k"], (rt.asDict(), rr.asDict())
    # both probes return full, distinct top-k result sets
    for q in (
        cf.clustered_ivfpq_trained_topk(spark, SF_DIR),
        cf.clustered_ivfpq_residual_topk(spark, SF_DIR),
    ):
        rows = q.collect()
        assert len(rows) == cf.CF_TOP
        assert len({r["vec_id"] for r in rows}) == cf.CF_TOP
        # query vec 0 lives in cluster 0: its true neighborhood is
        # same-cluster (cos ~0.997 in, <=0.26 cross), so every survivor
        # of the exact rerank must carry vec_id % CF_C == 0
        assert all(r["vec_id"] % cf.CF_C == 0 for r in rows), rows


def test_occupancy_skew_appears_when_width_mismatches(spark):
    """r10 #2: at k = 2*CF_C the fit must SPLIT tight components, and the
    noise decides unevenly — the audit exists to show nonzero skew on
    structured data (the near-uniform corpus always reads near-balanced).
    Pins: all cells survive, skew is real (max > avg > min), and the
    occupancy-weighted scan cost exceeds the balanced-cell estimate."""
    r = cf.clustered_ivf_occupancy_audit(spark, SF_DIR).collect()[0]
    avg = cf.CF_N / cf.CF_KSPLIT
    assert r["n_cells"] == cf.CF_KSPLIT
    assert r["min_cell"] < avg < r["max_cell"], r.asDict()
    assert r["max_over_avg"] > 1.2, r.asDict()
    assert r["cand_per_probe_weighted"] > r["cand_per_probe_balanced"], (
        r.asDict()
    )


def test_mass_imbalance_fixture_and_matched_width_skew(spark):
    """The mass-skew phenomenon: with component sizes on a halving
    ladder and the index width exactly matched to the structure, the
    fit recovers the components (tight own-center cosine per component)
    and the occupancy skew IS the data — the realistic hot-cell regime
    (dominant category + long tail) the adaptive store mitigates."""
    rows = cf.clustered_mass_fixture_stats(spark, SF_DIR).collect()
    assert [r["n"] for r in rows] == [1021, 511, 256, 129, 65, 33, 17, 16]
    assert sum(r["n"] for r in rows) == cf.CF_N
    for r in rows:
        assert r["mean_cos_own"] > 0.99, r
        assert r["mean_cos_best_other"] < 0.5, r
    occ = cf.clustered_mass_occupancy_audit(spark, SF_DIR).collect()[0]
    assert occ["n_cells"] == cf.CF_C
    # the matched-width fit recovers the halving ladder exactly
    assert occ["min_cell"] == 16 and occ["max_cell"] == 1021
    assert occ["max_over_avg"] > 3.9
    assert occ["cand_per_probe_weighted"] > 2.5 * occ["cand_per_probe_balanced"]
    # driver-side twin of the generation stays in lockstep
    got = {
        r["vec_id"]: (r["cl"], [float(x) for x in r["embedding"]])
        for r in cf.clustered_mass_fixture_frame(spark, SF_DIR)
        .where("vec_id in (0, 7, 8, 9, 1000, 2047)")
        .collect()
    }
    for i, (cl, emb) in got.items():
        assert cl == cf.cm_cl(i)
        assert emb == cf.cm_point(i), f"vec {i} diverged from driver math"


def test_adaptive_economics_audit_matches_store_build(spark):
    """The driver-checkable adaptive row must tell the same story as
    the store build's meta accounting (BENCH_SCALE mass_imbalance
    entry): 2 dominant-category cells hot, ~3x scan-cost win, less
    than half the everything-split partition bill. Also pins that the
    audit's integer hot threshold IS the store's hot_factor."""
    from distribution_engine_smt_spark.operators.storage import (
        ADAPTIVE_HOT_FACTOR,
    )

    assert cf.CF_HOT_PCT == int(ADAPTIVE_HOT_FACTOR * 100)
    r = cf.clustered_adaptive_occupancy_audit(spark, SF_DIR).collect()[0]
    assert r["k1"] == cf.CF_C
    assert r["n_hot_cells"] == 2
    assert r["cand_per_probe_flat"] > 2.5 * r["cand_per_probe_adaptive"]
    assert r["n_leaves_adaptive"] < r["n_leaves_full_shard"]
    # consistency with the matched-width occupancy audit's flat number
    occ = cf.clustered_mass_occupancy_audit(spark, SF_DIR).collect()[0]
    assert r["cand_per_probe_flat"] == occ["cand_per_probe_weighted"]


def test_mass_semdedup_pair_work_is_quadratically_skewed(spark):
    """Dedup's pair stage skews quadratically: the dominant cell holds
    ~half the rows but ~3/4 of all blocked pair work, while dedup
    correctness is unchanged (one keeper per component, every
    same-component pair a duplicate)."""
    r = cf.clustered_mass_semdedup_audit(spark, SF_DIR).collect()[0]
    assert r["n_keep"] == cf.CF_C
    assert r["n_dup_pairs"] == r["n_blocked_pairs"] == 694_775
    assert r["max_cell_pairs"] == 520_710  # C(1021, 2)
    assert r["max_cell_pair_share"] > 0.7  # rows share is only ~0.5


def test_adaptive_probe_recall_trade(spark):
    """Splitting a structureless dominant cell trades recall for scan,
    and one extra level-2 probe buys it back: recall monotone in probe
    width, full recall reached at half the cell's scan, and the scan
    counts strictly ordered."""
    r = cf.clustered_adaptive_probe_recall_audit(spark, SF_DIR).collect()[0]
    assert r["k2"] >= 2
    assert r["scanned_p1"] < r["scanned_p2"] < r["scanned_cell"]
    assert r["recall_p1"] <= r["recall_p2"] <= r["recall_cell"] == 1.0
    assert r["recall_p2"] == 1.0  # two probes recover everything here
    assert r["scanned_p2"] * 2 <= r["scanned_cell"] + r["k2"]  # ~half scan
    assert r["recall_p1"] >= 0.5  # single-probe still holds the majority


def test_trained_quantizer_recovers_the_mixture(spark):
    """The bridge claim for the variant audit: Lloyd's (the exact fit
    arithmetic every IVF consumer uses) recovers the generative cells
    perfectly on this fixture, so pricing variants against the
    generative centers IS pricing them against the trained quantizer."""
    r = cf.clustered_kmeans_agreement_audit(spark, SF_DIR).collect()[0]
    assert r["n"] == cf.CF_N
    assert r["agreement"] == 1.0
    assert r["min_cell"] == r["max_cell"] == cf.CF_N // cf.CF_C


def test_cold_query_cell_degrades_like_sql(spark, tmp_path, monkeypatch):
    """ADVICE r11 #2: the SQL oracles hot-gate their level-2 fit CTEs,
    so a COLD query cell yields empty members in DuckDB. Both live
    branches of _cm_query_cell_fit must degrade identically — no
    unconditional level-2 fit, no candidates — in the store-read path
    (meta lacks the query cell) and the live path (hot gate fails)."""
    from distribution_engine_smt_spark.operators import storage as st
    from distribution_engine_smt_spark.pipeline.similarity import route

    # store-read branch: real store, meta doctored so the query cell
    # has no level-2 fit
    monkeypatch.setenv("SPARK_GRAFT_STORE_DIR", str(tmp_path / "stores"))
    st.build_clustered_mass_fit_store(spark, SF_DIR)
    stored, meta = st.read_clustered_mass_fit(spark)
    q = cf.cm_point(0)
    cid0 = route(q, meta["cents1"], 1)[0]
    assert cid0 in meta["level2"]  # the fixture's query cell IS hot
    cold_meta = dict(meta)
    cold_meta["level2"] = {
        c: v for c, v in meta["level2"].items() if c != cid0
    }
    with monkeypatch.context() as m:
        m.setattr(
            st, "read_clustered_mass_fit", lambda _s: (stored, cold_meta)
        )
        fx, members, cents2 = cf._cm_query_cell_fit(spark, SF_DIR)
        assert cents2 == []
        assert members.count() == 0
        assert cf._cm_adaptive_topk(spark, SF_DIR, 1).count() == 0

    # live branch: no store, hot gate forced to fail
    with monkeypatch.context() as m:
        m.setattr(st, "read_clustered_mass_fit", lambda _s: (None, None))
        m.setattr(cf, "CF_HOT_PCT", 10_000_000)
        fx, members, cents2 = cf._cm_query_cell_fit(spark, SF_DIR)
        assert cents2 == []
        assert members.count() == 0


def test_wide_fixture_w2_crossover_wins_cost_loses_recall(spark):
    """VERDICT r11 #5 measured: at k2 = 16 (dominant cell 8189 rows)
    width-2 leaf blocking WINS on pair work (~w^2/k2 per hot cell, so
    the ratio must clear 2x) — and simultaneously LOSES on recall
    (co-occurrence probability decays like w^2/k2 too under a
    structureless interior). Both inequalities are the claim; a silent
    fixture regression could stay hash-consistent while erasing
    either side."""
    r = cf.clustered_adaptive_semdedup_w2k16_audit(spark, SF_DIR).collect()[0]
    assert r["k2_max"] == 16
    assert r["blocked_pairs_w2"] < r["blocked_pairs_cl"]
    assert r["pair_work_ratio"] > 2.0
    assert r["pair_recall"] < 0.5
    assert r["n_dup_pairs"] > 100_000  # the sampled baseline is non-trivial
