"""IVF index tests (SURVEY.md §5.2/§5.3): APS properties, recall floor,
build invariants, persistence round-trip."""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from quake_vector_search_spark.operators.evaluation import avg_recall
from quake_vector_search_spark.operators.ivf import IVFIndex
from quake_vector_search_spark.operators.knn import knn_bruteforce
from quake_vector_search_spark.sources import load_table

SF = "/root/testdata/sf0.01"
WORKDIR = "/tmp/qvss_test_ivf"


@pytest.fixture(scope="module")
def index(spark):
    emb = load_table(spark, SF, "embeddings")
    shutil.rmtree(WORKDIR, ignore_errors=True)
    return IVFIndex.build(emb, WORKDIR, coarse_k=16, base_k=4)


@pytest.fixture(scope="module")
def queries(spark):
    emb = load_table(spark, SF, "embeddings")
    return (emb.where(F.col("vec_id") < 20)
            .withColumnRenamed("vec_id", "query_id"))


def test_build_partitions_cover_corpus(spark, index):
    emb = load_table(spark, SF, "embeddings")
    total = index.sizes.sum()
    assert total == emb.count()
    assert (index.sizes > 0).all()


def test_ids_partition_exactly_once(spark, index):
    corpus = index.read_corpus()
    n = corpus.count()
    n_distinct = corpus.select("vec_id").distinct().count()
    assert n == n_distinct == int(index.sizes.sum())


def test_recall_floor(spark, index, queries):
    found, meta = index.search(queries, k=10, target_recall=0.9)
    exact = knn_bruteforce(load_table(spark, SF, "embeddings"), queries, k=10)
    r = avg_recall(found, exact, 10)
    assert r >= 0.9, f"recall {r} below declared floor"
    assert meta["avg_nprobe"] <= 64


def test_full_probe_equals_bruteforce(spark, index, queries):
    found, meta = index.search(queries, k=10, target_recall=1.0,
                               max_probe=10**9)
    exact = knn_bruteforce(load_table(spark, SF, "embeddings"), queries, k=10)
    assert avg_recall(found, exact, 10) == 1.0
    assert meta["avg_nprobe"] == len(index.part_ids)


def test_nprobe_monotone_in_target_recall(index):
    rng = np.random.default_rng(0)
    q = rng.normal(size=(8, index.centroids.shape[1]))
    order, probs = index.partition_scores(q)
    n_low = index.choose_nprobe(probs, 0.5, 64)
    n_high = index.choose_nprobe(probs, 0.95, 64)
    assert (n_high >= n_low).all()
    assert (n_low >= 1).all() and (n_high <= 64).all()


def test_aps_scores_are_probabilities(index):
    rng = np.random.default_rng(1)
    q = rng.normal(size=(4, index.centroids.shape[1]))
    _, probs = index.partition_scores(q)
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, atol=1e-9)
    # sorted descending
    assert (np.diff(probs, axis=1) <= 1e-15).all()


def test_routed_scores_reduce_to_full_when_all_cells(index):
    """route_cells >= n_cells must be EXACTLY full APS scoring: the
    routed path's subset softmax covers every partition, so order and
    probabilities coincide bit-for-bit modulo the masked-median path."""
    rng = np.random.default_rng(2)
    q = rng.normal(size=(6, index.centroids.shape[1]))
    order_f, probs_f = index.partition_scores(q)
    order_r, probs_r = index._partition_scores_routed(
        q, route_cells=len(index.coarse_centroids))
    np.testing.assert_array_equal(order_f, order_r)
    np.testing.assert_allclose(probs_f, probs_r, rtol=1e-12)


def test_routed_scores_restrict_to_routed_cells(index):
    """With route_cells=2 every positive-probability partition belongs
    to one of the query's 2 nearest coarse cells; probs still sum to 1
    and sort descending."""
    from quake_vector_search_spark.functions.vector import l2_batch
    rng = np.random.default_rng(3)
    q = rng.normal(size=(5, index.centroids.shape[1]))
    order, probs = index._partition_scores_routed(q, route_cells=2)
    np.testing.assert_allclose(probs.sum(axis=1), 1.0, atol=1e-9)
    assert (np.diff(probs, axis=1) <= 1e-15).all()
    dc = l2_batch(q, index.coarse_centroids)
    for qi in range(q.shape[0]):
        near2 = set(np.argsort(dc[qi], kind="stable")[:2])
        pos_probs = probs[qi] > 0
        cells = set(index.part_coarse[order[qi][pos_probs]])
        assert cells <= near2


def test_routed_search_recall(spark, index, queries):
    """End-to-end two-level search: routing through 12 of 16 coarse
    cells keeps recall ≥0.9 on clustered testdata while scanning a
    strict subset of partitions (measured: 8 cells→0.825, 12→0.935,
    14→0.995 — the knob trades scan for recall as designed)."""
    found, meta = index.search(queries, k=10, target_recall=1.0,
                               max_probe=10**9, route_cells=12)
    exact = knn_bruteforce(load_table(spark, SF, "embeddings"),
                           queries, k=10)
    assert avg_recall(found, exact, 10) >= 0.9
    assert meta["avg_nprobe"] < len(index.part_ids)


def test_persistence_roundtrip(spark, index, queries):
    index.save_meta()
    idx2 = IVFIndex.load(spark, WORKDIR)
    assert np.array_equal(idx2.part_ids, index.part_ids)
    np.testing.assert_allclose(idx2.centroids, index.centroids)
    f1, _ = index.search(queries, k=5, target_recall=0.9)
    f2, _ = idx2.search(queries, k=5, target_recall=0.9)
    assert sorted(map(tuple, f1.collect())) == sorted(map(tuple, f2.collect()))


def test_build_deterministic(spark):
    emb = load_table(spark, SF, "embeddings")
    idx_b = IVFIndex.build(emb, WORKDIR + "_b", coarse_k=8, base_k=2)
    idx_c = IVFIndex.build(emb, WORKDIR + "_c", coarse_k=8, base_k=2)
    np.testing.assert_allclose(idx_b.centroids, idx_c.centroids)
    assert np.array_equal(idx_b.sizes, idx_c.sizes)


def test_cosine_index_fullprobe_matches_exact(spark):
    """Cosine-metric IVF (normalize-then-L2): full probe must equal the
    exact cosine_topk oracle — closes the reference's no-cosine gap."""
    import shutil

    from quake_vector_search_spark.api import build_index, knn
    from quake_vector_search_spark.operators.knn import cosine_topk
    from quake_vector_search_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    shutil.rmtree("/tmp/qvss_cos_idx", ignore_errors=True)
    idx = build_index(emb, "/tmp/qvss_cos_idx", coarse_k=4, base_k=2,
                      metric="cosine")
    queries = emb.where("vec_id < 5").withColumnRenamed("vec_id", "query_id")
    got = knn(emb, queries, k=10, metric="cosine", index=idx,
              target_recall=1.0, max_probe=10**9)
    exact = cosine_topk(emb, queries, k=10)
    g = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["sim"], 6))
         for r in got.collect()}
    e = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["sim"], 6))
         for r in exact.collect()}
    assert set(g) == set(e)
    for key in e:
        assert g[key][0] == e[key][0], key
        assert abs(g[key][1] - e[key][1]) < 1e-5, key
    # metric mismatch is rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        knn(emb, queries, k=10, metric="l2", index=idx)
    shutil.rmtree("/tmp/qvss_cos_idx", ignore_errors=True)


def test_search_empty_query_batch(spark, index):
    """Zero queries (array or DataFrame form) → empty result with the
    right schema, no job crash."""
    import numpy as np

    from quake_vector_search_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    out, meta = index.search((np.array([], dtype=np.int64),
                              np.zeros((0, 64))), k=10)
    assert out.count() == 0 and meta["avg_nprobe"] == 0.0
    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = emb.where("vec_id < 0").withColumnRenamed("vec_id", "query_id")
    out2, _ = index.search(q, k=10)
    assert out2.count() == 0
    assert out2.columns == ["query_id", "vec_id", "dist", "rank"]


def test_distributed_aps_matches_numpy(spark, index, queries):
    """aps_scores_table ≡ driver NumPy partition_scores + choose_nprobe:
    same ranks, same probe set, probabilities equal to float tolerance."""
    qrows = queries.orderBy("query_id").limit(4) \
        .select("query_id", "embedding").collect()
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    order, probs = index.partition_scores(qmat)
    nprobe = index.choose_nprobe(probs, target_recall=0.9, max_probe=64)

    out = index.partition_scores_distributed(
        queries.orderBy("query_id").limit(4),
        target_recall=0.9, max_probe=64).collect()
    got = {(int(r["query_id"]), int(r["rank"])):
           (int(r["partition_id"]), float(r["prob"]), bool(r["probed"]))
           for r in out}
    assert len(got) == qmat.shape[0] * len(index.part_ids)
    for qi, r in enumerate(qrows):
        qid = int(r["query_id"])
        for rk in range(order.shape[1]):
            pid, p, probed = got[(qid, rk + 1)]
            assert pid == int(index.part_ids[order[qi, rk]])
            assert abs(p - float(probs[qi, rk])) < 1e-9
            assert probed == (rk < int(nprobe[qi]))


def test_search_allowed_filter_matches_filtered_bruteforce(spark, tmp_path):
    """allowed= pushes an id-set semi-join into the pruned scan; at
    full probe the result is exactly brute-force over the allowed
    subset, and disallowed ids never appear at any probe setting."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce

    rng = np.random.RandomState(4)
    rows = [(i, [float(v) for v in rng.randn(8)]) for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IVFIndex.build(emb, str(tmp_path / "ivf_filter"),
                         coarse_k=4, base_k=2)
    allowed = emb.where("vec_id % 2 = 0").select("vec_id")
    queries = (emb.where("vec_id < 3")
               .withColumnRenamed("vec_id", "query_id"))
    out, _ = idx.search(queries, k=5, target_recall=1.0,
                        max_probe=10**9, allowed=allowed)
    got = {(r["query_id"], r["vec_id"], round(r["dist"], 6))
           for r in out.collect()}
    want = {(r["query_id"], r["vec_id"], round(r["dist"], 6))
            for r in knn_bruteforce(
                emb.where("vec_id % 2 = 0"), queries, k=5).collect()}
    assert got == want
    # adaptive probing still never leaks a disallowed id
    out2, _ = idx.search(queries, k=5, target_recall=0.9,
                         allowed=allowed)
    assert all(r["vec_id"] % 2 == 0 for r in out2.collect())


# --------------------------------------------------- calibrated policy

@pytest.fixture(scope="module")
def blob_index(spark):
    from quake_vector_search_spark.operators.workload import make_dataset
    corpus = make_dataset(spark, 6000, d=16, n_clusters=30, seed=7)
    wd = "/tmp/qvss_test_ivf_cal"
    shutil.rmtree(wd, ignore_errors=True)
    return IVFIndex.build(corpus, wd, coarse_k=8, base_k=8)


def test_calibrate_fit_shape_and_determinism(blob_index):
    cal = blob_index.calibrate(n_queries=32)
    assert cal["temperature"] >= 1.0
    cuts = cal["cutoffs"]
    assert len(cuts) == len(cal["targets"])
    assert all(0.0 < c <= 1.0 for c in cuts)
    assert cuts == sorted(cuts)  # monotone in target
    again = blob_index.calibrate(n_queries=32)
    assert again == cal  # seeded → bit-identical refit


def test_restore_calibration_equals_refit(blob_index):
    # round-16 optimization pin: bench alternates between a full and a
    # routed fit; restore_calibration must reinstall EXACTLY what an
    # identical-args refit would compute (calibrate is deterministic
    # given the index state), including after other fits overwrote it.
    cal_full = blob_index.calibrate(n_queries=32)
    cal_routed = blob_index.calibrate(n_queries=32, route_cells=4)
    assert cal_routed != cal_full
    blob_index.restore_calibration(cal_full)
    assert blob_index._calibration == cal_full
    assert blob_index.calibrate(n_queries=32) == cal_full
    blob_index.restore_calibration(cal_routed)
    assert (blob_index.calibrate(n_queries=32, route_cells=4)
            == cal_routed)


def test_restore_calibration_across_path_spellings(spark, blob_index,
                                                   tmp_path):
    # the state token names the version, not the path it was opened
    # under: a fit reinstalls on the same index opened through a
    # symlink or a relative path
    cal = blob_index.calibrate(n_queries=32)
    link = tmp_path / "link"
    os.symlink(blob_index.workdir, link)
    for spelling in (str(link), os.path.relpath(blob_index.workdir)):
        other = IVFIndex.load(spark, spelling)
        other.restore_calibration(cal)
        assert other._calibration == cal


def test_calibrated_policy_prunes_and_keeps_recall(spark, blob_index):
    blob_index.calibrate(n_queries=64)
    rng = np.random.default_rng(5)
    corpus = blob_index.read_corpus()
    rows = corpus.where(F.col("vec_id") < 1000).collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pick = rng.integers(0, len(vecs), 30)
    qmat = vecs[pick] + rng.normal(0.0, 0.1, size=(30, 16))
    qids = np.arange(30)
    exact = knn_bruteforce(corpus, (qids, qmat), k=10).localCheckpoint()
    f_cal, m_cal = blob_index.search(
        (qids, qmat), k=10, target_recall=0.9, policy="calibrated",
        max_probe=len(blob_index.part_ids))
    f_ref, m_ref = blob_index.search(
        (qids, qmat), k=10, target_recall=0.9, policy="reference",
        max_probe=len(blob_index.part_ids))
    assert avg_recall(f_cal, exact, 10) >= 0.85
    # the whole point: strictly fewer rows scanned at the same target
    assert m_cal["avg_scanned"] < m_ref["avg_scanned"]


def test_calibrated_unknown_policy_raises(blob_index):
    with pytest.raises(ValueError, match="unknown policy"):
        blob_index.search((np.array([0]), np.zeros((1, 16))),
                          k=5, policy="nope")


def test_dml_invalidates_calibration(spark, blob_index):
    blob_index.calibrate(n_queries=32)
    assert blob_index._calibration is not None
    blob_index.insert([999_991], np.zeros((1, 16)))
    assert blob_index._calibration is None
    blob_index.delete([999_991])


def test_calibration_persists_across_reload(spark, blob_index):
    cal = blob_index.calibrate(n_queries=32)
    blob_index.save_meta()
    re = IVFIndex.load(spark, blob_index.workdir)
    assert re._calibration == cal
    # delete stales it; a save after that must not resurrect the fit
    blob_index.delete([int(blob_index.part_ids[0]) * 0])  # id 0
    assert blob_index._calibration is None
    blob_index.save_meta()
    re2 = IVFIndex.load(spark, blob_index.workdir)
    assert re2._calibration is None


def test_distributed_calibrated_matches_driver_policy(spark, blob_index):
    """The scale-path APS with policy='calibrated' must probe exactly
    the partitions the driver NumPy calibrated rule probes."""
    blob_index.calibrate(n_queries=32)
    rng = np.random.default_rng(9)
    rows = blob_index.read_corpus().where(F.col("vec_id") < 200).collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qmat = vecs[rng.integers(0, len(vecs), 8)] + rng.normal(
        0.0, 0.1, size=(8, 16))
    qids = np.arange(8)
    qdf = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(qids, qmat)],
        "query_id long, embedding array<double>")
    dist = (blob_index.partition_scores_distributed(
        qdf, target_recall=0.9, policy="calibrated",
        max_probe=len(blob_index.part_ids))
        .where("probed").select("query_id", "partition_id").collect())
    got = {}
    for r in dist:
        got.setdefault(int(r["query_id"]), set()).add(
            int(r["partition_id"]))
    # driver rule
    order, probs = blob_index.partition_scores(qmat)
    s, cutoff = blob_index._calibrated_rule(0.9)
    logp = np.log(np.maximum(probs, 1e-300)) * s
    logp -= logp.max(axis=1, keepdims=True)
    ps = np.exp(logp); ps /= ps.sum(axis=1, keepdims=True)
    nprobe = blob_index.choose_nprobe(ps, cutoff,
                                      len(blob_index.part_ids))
    want = {int(q): set(int(p) for p in
                        blob_index.part_ids[order[i, :nprobe[i]]])
            for i, q in enumerate(qids)}
    assert got == want


def test_calibrated_rejects_mismatched_routing(blob_index):
    """A calibration fit belongs to ONE scoring function: a full fit
    must refuse routed search (and vice versa) instead of silently
    probing with non-transferring cutoffs (round 7: matching
    restrictions compose — see the routed-composition test)."""
    blob_index.calibrate(n_queries=32)
    with pytest.raises(ValueError, match="route_cells"):
        blob_index.search((np.array([0]), np.zeros((1, 16))),
                          k=5, policy="calibrated", route_cells=2)
    # route_cells >= n_cells reduces to full scoring — allowed
    f, _ = blob_index.search(
        (np.array([0]), np.zeros((1, 16))), k=5, policy="calibrated",
        route_cells=len(blob_index.coarse_centroids))
    assert f.count() == 5


def test_calibrated_composes_with_matching_route_cells(spark, blob_index):
    """Two-level calibrated APS (round 7): a fit estimated under
    routed scoring serves routed searches — the >1e5-partition scale
    path. Probe sets stay within the routed restriction, recall holds
    on in-distribution queries, and cross-restriction use refuses."""
    cal = blob_index.calibrate(n_queries=64, route_cells=3)
    assert cal["route_cells"] == 3
    rng = np.random.default_rng(6)
    corpus = blob_index.read_corpus()
    rows = corpus.where(F.col("vec_id") < 1000).collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pick = rng.integers(0, len(vecs), 20)
    qmat = vecs[pick] + rng.normal(0.0, 0.1, size=(20, 16))
    qids = np.arange(20)
    f_cal, m_cal = blob_index.search(
        (qids, qmat), k=10, target_recall=0.9, policy="calibrated",
        route_cells=3, max_probe=len(blob_index.part_ids))
    exact = knn_bruteforce(corpus, (qids, qmat), k=10).localCheckpoint()
    assert avg_recall(f_cal, exact, 10) >= 0.8
    # a restriction, never an expansion: probes stay within routed APS
    _, m_routed_ref = blob_index.search(
        (qids, qmat), k=10, target_recall=1.0, policy="reference",
        route_cells=3, max_probe=len(blob_index.part_ids))
    assert m_cal["avg_scanned"] <= m_routed_ref["avg_scanned"]
    # the routed fit does not serve full-scoring paths
    with pytest.raises(ValueError, match="route_cells"):
        blob_index.search((qids, qmat), k=10, policy="calibrated")
    with pytest.raises(ValueError, match="routed"):
        blob_index.partition_scores_distributed(
            spark.createDataFrame(
                [(0, [0.0] * 16)], "query_id long, embedding array<double>"),
            policy="calibrated")
    # restore the full fit for the other module-scoped tests
    blob_index.calibrate(n_queries=32)


def test_ivf_pq_calibrated_policy_prunes(spark, blob_index, tmp_path):
    """knn_ivf_pq(policy='calibrated') shares search()'s probe rule:
    fewer rows scanned than the reference policy at the same target."""
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    blob_index.calibrate(n_queries=32)
    books = build_pq_sidecar(blob_index, m=4, ksub=32)
    rng = np.random.default_rng(6)
    corpus = blob_index.read_corpus()
    rows = corpus.where(F.col("vec_id") < 500).collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qmat = vecs[rng.integers(0, len(vecs), 10)]
    qids = np.arange(10)
    _, m_cal = knn_ivf_pq(blob_index, (qids, qmat), k=5,
                          target_recall=0.9, policy="calibrated",
                          max_probe=len(blob_index.part_ids),
                          books=books)
    _, m_ref = knn_ivf_pq(blob_index, (qids, qmat), k=5,
                          target_recall=0.9, policy="reference",
                          max_probe=len(blob_index.part_ids),
                          books=books)
    assert m_cal["avg_scanned"] < m_ref["avg_scanned"]


# ------------------------------- eager calibration (VERDICT r6 #2)

def test_calibrate_persists_itself(spark, tmp_path):
    """calibrate() saves its own meta: a reloaded index keeps the fit
    without the caller remembering an explicit save_meta (ADVICE r6 —
    previously the persisted calibration field was always null)."""
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 1500, d=8, n_clusters=6, seed=3)
    idx = IVFIndex.build(corpus, str(tmp_path / "cal_save"),
                         coarse_k=4, base_k=2)
    cal = idx.calibrate(n_queries=16)
    re = IVFIndex.load(spark, idx.workdir)
    assert re._calibration == cal


def test_no_implicit_calibrate_after_eager_fit(spark, tmp_path):
    """build(calibrate=True) and maintain(recalibrate=True) fit at
    version-publish time, so search(policy='calibrated') never launches
    the brute-force fit pass inside the query path."""
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 1500, d=8, n_clusters=6, seed=4)
    idx = IVFIndex.build(corpus, str(tmp_path / "cal_eager"),
                         coarse_k=4, base_k=2, calibrate=True)
    assert idx._calibration is not None

    def boom(*a, **k):
        raise AssertionError("implicit calibrate() inside search")

    idx.calibrate = boom
    qmat = np.zeros((2, 8))
    out, _ = idx.search((np.arange(2), qmat), k=3, target_recall=0.9,
                        policy="calibrated")
    assert out.count() > 0

    # maintenance drops the fit; recalibrate=True refits eagerly
    del idx.calibrate
    idx.insert([777_001], np.zeros((1, 8)), refresh=False)
    assert idx._calibration is None
    maintain(idx, recalibrate=True)
    assert idx._calibration is not None
    idx.calibrate = boom
    out2, _ = idx.search((np.arange(2), qmat), k=3, target_recall=0.9,
                         policy="calibrated")
    assert out2.count() > 0


def test_implicit_autofit_warns(spark, tmp_path):
    """Uncalibrated + policy='calibrated' still works (auto-fit) but
    warns loudly — at scale an unexpected multi-job fit inside a
    latency-sensitive search call is a surprise."""
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 1500, d=8, n_clusters=6, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "cal_warn"),
                         coarse_k=4, base_k=2)
    assert idx._calibration is None
    with pytest.warns(RuntimeWarning, match="uncalibrated"):
        out, _ = idx.search((np.arange(2), np.zeros((2, 8))), k=3,
                            target_recall=0.9, policy="calibrated")
    assert idx._calibration is not None


def test_maintain_recalibrate_forwards_kwargs(spark, tmp_path):
    """maintain(recalibrate={...}) forwards calibrate() kwargs, so a
    routed deployment's refit keeps its restriction instead of
    silently reverting to full scoring."""
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 1500, d=8, n_clusters=6, seed=8)
    idx = IVFIndex.build(corpus, str(tmp_path / "cal_routed_refit"),
                         coarse_k=4, base_k=2)
    idx.insert([888_001], np.zeros((1, 8)), refresh=False)
    maintain(idx, recalibrate={"n_queries": 16, "route_cells": 2})
    assert idx._calibration is not None
    assert idx._calibration["route_cells"] == 2
    # and the routed fit serves routed searches without refitting
    out, _ = idx.search((np.arange(2), np.zeros((2, 8))), k=3,
                        target_recall=0.9, policy="calibrated",
                        route_cells=2)
    assert out.count() > 0


def test_calibrate_cross_fit_safety(spark, tmp_path):
    """VERDICT r7 #3: the calibrated fit cross-fits a per-target
    safety deficit (fit one half, measure the achieved-recall gap on
    the other) and refits with the margin boosted by it; cutoffs stay
    isotonic; a target below the fitted range warns and clamps
    instead of silently delivering whatever the lowest cutoff gives."""
    import warnings

    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 2000, d=8, n_clusters=8, seed=13)
    idx = IVFIndex.build(corpus, str(tmp_path / "cal_xfit"),
                         coarse_k=4, base_k=2)
    cal = idx.calibrate(n_queries=32)
    # fitted range now extends to 0.3 by default
    assert cal["targets"][0] == 0.3
    assert "deficits" in cal and len(cal["deficits"]) == len(
        cal["targets"])
    assert all(d >= 0 for d in cal["deficits"])
    cuts = cal["cutoffs"]
    assert all(a <= b for a, b in zip(cuts, cuts[1:]))   # isotonic
    # in-range target: no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        idx._calibrated_rule(0.9)
    # below the fitted range: warns and clamps to the lowest cutoff
    with pytest.warns(RuntimeWarning, match="below the fitted"):
        _, c_low = idx._calibrated_rule(0.1)
    assert c_low == cuts[0]
    # above the range: silent clamp to the MOST CONSERVATIVE cutoff
    # (target 1.0 is the common fullprobe-intent ask)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        _, c_hi = idx._calibrated_rule(1.0)
    assert c_hi == cuts[-1]


def test_decide_nprobe_capped_at_routed_width(spark, tmp_path):
    """ADVICE r7: under routed scoring, choose_nprobe's all-False
    fallback (cumulative mass never reaching the target through float
    ulp) used to set nprobe to the full batch-union width — probing
    zero-probability partitions routed only for OTHER queries. The
    cap keeps each query inside its own routed columns ("restriction,
    never an expansion")."""
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 1200, d=8, n_clusters=6, seed=12)
    idx = IVFIndex.build(corpus, str(tmp_path / "routed_cap"),
                         coarse_k=4, base_k=2)
    # synthetic routed score matrix: query 0 has 2 routed columns and
    # a cumulative mass ulp short of 1.0 (forces the fallback); query
    # 1 spans the full batch union
    probs = np.array([[0.6, 0.4 - 1e-12, 0.0, 0.0],
                      [0.25, 0.25, 0.25, 0.25]])
    nprobe = idx._decide_nprobe(probs, target_recall=1.0,
                                max_probe=64, policy="reference")
    routed_width = (probs > 0).sum(axis=1)
    assert (nprobe <= routed_width).all()
    assert nprobe[0] == 2          # not the union width 4
    # end-to-end: a routed search at target 1.0 never probes beyond
    # each query's routed members (the within-routed invariant)
    qmat = np.asarray(
        [r["embedding"] for r in corpus.select("embedding")
         .orderBy("vec_id").limit(3).collect()], dtype=np.float64)
    _, probs_r = idx.partition_scores(qmat, route_cells=2)
    np_r = idx._decide_nprobe(probs_r, target_recall=1.0,
                              max_probe=64, policy="reference")
    assert (np_r <= (probs_r > 0).sum(axis=1)).all()


def test_maintain_recalibrate_empty_dict_refits(spark, tmp_path):
    """ADVICE r7: recalibrate={} means "refit with default calibrate()
    kwargs" — an empty dict is falsy, so a bare truthiness test
    silently skipped the refit."""
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 1500, d=8, n_clusters=6, seed=11)
    idx = IVFIndex.build(corpus, str(tmp_path / "cal_emptydict"),
                         coarse_k=4, base_k=2)
    idx.insert([889_001], np.zeros((1, 8)), refresh=False)
    assert idx._calibration is None
    maintain(idx, recalibrate={})
    assert idx._calibration is not None
    # route_cells defaults to None under default kwargs
    assert idx._calibration["route_cells"] is None
    # and False still means skip
    idx.insert([889_002], np.zeros((1, 8)), refresh=False)
    maintain(idx, recalibrate=False)
    assert idx._calibration is None


def test_calibrate_route_cells_normalizes_to_full(spark, tmp_path):
    """calibrate(route_cells >= n_cells) IS full scoring and must
    record route_cells=None, matching search()'s normalization — a
    'matched' pair would otherwise spuriously refuse."""
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 1200, d=8, n_clusters=6, seed=12)
    idx = IVFIndex.build(corpus, str(tmp_path / "cal_norm"),
                         coarse_k=4, base_k=2)
    cal = idx.calibrate(n_queries=16,
                        route_cells=len(idx.coarse_centroids))
    assert cal["route_cells"] is None
    # both full-scoring call forms serve the fit
    out, _ = idx.search((np.arange(2), np.zeros((2, 8))), k=3,
                        target_recall=0.9, policy="calibrated")
    assert out.count() > 0
    out2, _ = idx.search((np.arange(2), np.zeros((2, 8))), k=3,
                         target_recall=0.9, policy="calibrated",
                         route_cells=len(idx.coarse_centroids))
    assert out2.count() > 0
