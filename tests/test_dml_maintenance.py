"""DML + maintenance invariant tests (SURVEY.md §5.3/§5.4):
insert-then-search finds the vector; delete-then-search never returns
it; split preserves id sets; merge concatenates; no id lost or
duplicated through any DML/maintenance sequence.
"""

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from quake_vector_search_spark.operators.ivf import IVFIndex
from quake_vector_search_spark.operators.maintenance import (
    compact,
    maintain,
    split_threshold,
)
from quake_vector_search_spark.sources import load_table

# Fast-lane exclusion (round 10, VERDICT r9 #7): this module is
# end-to-end heavy; `pytest -m "not slow"` skips it.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.01"
WORKDIR = "/tmp/qvss_test_dml"


@pytest.fixture()
def index(spark):
    emb = load_table(spark, SF, "embeddings")
    shutil.rmtree(WORKDIR, ignore_errors=True)
    return IVFIndex.build(emb, WORKDIR, coarse_k=8, base_k=4)


def _all_live_ids(idx):
    return {r["vec_id"] for r in idx.read_corpus().select("vec_id").collect()}


def test_insert_then_search_finds_it(spark, index):
    rng = np.random.default_rng(7)
    vec = rng.normal(size=64).astype(np.float64)
    index.insert([100000], [vec])
    found, _ = index.search(([100000], [vec]), k=1, target_recall=1.0,
                            max_probe=10**9)
    rows = found.collect()
    # stored vectors are float32 → tiny nonzero self-distance
    assert rows[0]["vec_id"] == 100000 and rows[0]["dist"] < 1e-5
    assert index.sizes.sum() == 501


def test_delete_then_search_never_returns_it(spark, index):
    emb = load_table(spark, SF, "embeddings")
    target = emb.where(F.col("vec_id") == 42).collect()[0]
    vec = np.asarray(target["embedding"], dtype=np.float64)
    index.delete([42])
    found, _ = index.search(([0], [vec]), k=10, target_recall=1.0,
                            max_probe=10**9)
    ids = [r["vec_id"] for r in found.collect()]
    assert 42 not in ids
    assert _all_live_ids(index) == set(range(500)) - {42}


def test_delete_updates_centroids_exactly(spark, index):
    before = index.centroids.copy()
    index.delete([0, 1, 2, 3, 4])
    # recompute from scratch and compare
    reloaded_sizes = index.sizes.copy()
    index.recompute_centroids()
    np.testing.assert_allclose(
        index.sizes, reloaded_sizes[np.isin(index.part_ids, index.part_ids)])
    # centroids after incremental downdate match exact recompute
    assert not np.allclose(before, index.centroids)  # something changed


def test_insert_delete_roundtrip_id_conservation(spark, index):
    rng = np.random.default_rng(11)
    new_ids = list(range(200000, 200020))
    index.insert(new_ids, rng.normal(size=(20, 64)))
    index.delete(new_ids[:10])
    live = _all_live_ids(index)
    assert set(new_ids[10:]) <= live
    assert not (set(new_ids[:10]) & live)
    assert len(live) == 500 + 10


def _data_files(root):
    """{partition_id: set of visible .parquet file names} under a
    partitionBy("partition_id") directory."""
    out = {}
    for d in os.listdir(root):
        if d.startswith("partition_id="):
            out[int(d.split("=", 1)[1])] = {
                f for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet") and not f.startswith(".")}
    return out


def _new_files(before, after):
    return {(p, f) for p, fs in after.items()
            for f in fs - before.get(p, set())}


def _temp_files(root):
    return [f for _, _, fs in os.walk(root) for f in fs
            if f.endswith(".tmp")]


def test_insert_appends_one_file_per_touched_partition(spark, index):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(19)
    ids = np.arange(300_000, 300_030, dtype=np.int64)
    vecs = rng.normal(size=(30, 64))
    before = _data_files(index.corpus_path)
    pids = index.insert(ids, vecs)
    added = _new_files(before, _data_files(index.corpus_path))
    assert len(added) == len(set(pids.tolist())) > 1
    for p, f in added:
        t = pq.read_table(os.path.join(index.corpus_path,
                                       f"partition_id={p}", f))
        assert t.column_names == ["vec_id", "embedding"]
        assert t.schema.field("embedding").type == pa.list_(pa.float32())
        mask = pids == p
        np.testing.assert_array_equal(t.column("vec_id").to_numpy(),
                                      ids[mask])
        np.testing.assert_array_equal(
            np.stack(t.column("embedding").to_numpy(zero_copy_only=False)),
            vecs[mask].astype(np.float32))
    assert not _temp_files(index.workdir)
    assert index.read_corpus().count() == 530


def test_stray_temp_file_is_ignored(spark, index):
    """A crash between the append's write and its rename leaves a
    hidden ``.part-*.tmp`` file in the partition dir: no reader, no
    maintenance file count, link pass or merge move may pick it up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quake_vector_search_spark.operators.maintenance import (
        COMPACT_FILE_THRESHOLD,
    )

    ids_before = _all_live_ids(index)
    pid = int(index.part_ids[0])
    src = os.path.join(index.corpus_path, f"partition_id={pid}")
    visible = _data_files(index.corpus_path)[pid]
    stray = pa.table({
        "vec_id": pa.array([999_999], type=pa.int64()),
        "embedding": pa.array([[0.0] * 64], type=pa.list_(pa.float32()))})
    # enough strays to push the dir past the compaction threshold if
    # they were counted
    for i in range(COMPACT_FILE_THRESHOLD + 1 - len(visible)):
        pq.write_table(stray, os.path.join(src, f".part-{i:032x}.tmp"))
    index.invalidate_corpus()
    assert index.read_corpus().count() == 500
    assert _all_live_ids(index) == ids_before

    maintain(index, split_size=10**9, merge_size=0)
    dst = os.path.join(index.corpus_path, f"partition_id={pid}")
    # linked, not compacted: the dir holds the same files, as links
    assert set(os.listdir(dst)) == visible
    for f in visible:
        assert os.path.samefile(os.path.join(src, f),
                                os.path.join(dst, f))
    assert not _temp_files(index.corpus_path)
    assert _all_live_ids(index) == ids_before

    # strays in every dir of a version whose next maintain() merges
    for d in os.listdir(index.corpus_path):
        pq.write_table(stray, os.path.join(index.corpus_path, d,
                                           f".part-{0:032x}.tmp"))
    summary = maintain(index, split_size=10**9, merge_size=10**9)
    assert summary["merges"]
    assert not _temp_files(index.corpus_path)
    assert _all_live_ids(index) == ids_before
    assert index.read_corpus().count() == 500


def test_append_pq_codes_one_file_per_touched_partition(spark, index):
    import pyarrow.parquet as pq

    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.streaming.ingest import (
        _append_pq_codes,
        _encode_with_books,
    )

    build_pq_sidecar(index, m=8, ksub=16, seed=3, residual=True)
    rng = np.random.default_rng(23)
    ids = np.arange(400_000, 400_030, dtype=np.int64)
    vecs = rng.normal(size=(30, 64))
    pids = index.insert(ids, vecs)
    codes_dir = os.path.join(index.version_dir, "pq")
    before = _data_files(codes_dir)
    cache: dict = {}
    assert _append_pq_codes(index, ids, vecs, pids, cache)
    added = _new_files(before, _data_files(codes_dir))
    assert len(added) == len(set(pids.tolist())) > 1
    want = _encode_with_books(vecs, pids, cache,
                              load_residual_snapshot(index.version_dir))
    for p, f in added:
        t = pq.read_table(os.path.join(codes_dir, f"partition_id={p}", f))
        assert t.column_names == ["vec_id", "pq_codes"]
        mask = pids == p
        np.testing.assert_array_equal(t.column("vec_id").to_numpy(),
                                      ids[mask])
        np.testing.assert_array_equal(
            np.stack(t.column("pq_codes").to_numpy(zero_copy_only=False)),
            want[mask])
    assert not _temp_files(index.workdir)


def test_split_preserves_ids(spark, index):
    # force a split: make every partition eligible via tiny split_size
    ids_before = _all_live_ids(index)
    summary = maintain(index, split_size=32, merge_size=0)
    assert summary["splits"], "expected at least one split"
    assert _all_live_ids(index) == ids_before
    # children sizes sum to parent size: implied by id conservation
    assert index.version == 1


def test_merge_concatenation_invariant(spark, index):
    ids_before = _all_live_ids(index)
    n_parts_before = (index.sizes > 0).sum()
    summary = maintain(index, split_size=10**9, merge_size=10**9)
    # with merge_size=inf every partition is 'tiny' → pair-once greedy
    assert summary["merges"]
    assert _all_live_ids(index) == ids_before
    n_parts_after = (index.sizes > 0).sum()
    assert n_parts_after == n_parts_before - len(summary["merges"])
    # merged sizes are sums; emptied entries kept with size 0 (c1:209)
    assert (index.sizes == 0).sum() >= len(summary["merges"])


def test_search_results_invariant_under_relayout(spark, index):
    emb = load_table(spark, SF, "embeddings")
    q = emb.where(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    before, _ = index.search(q, k=10, target_recall=1.0, max_probe=10**9)
    rows_before = sorted(map(tuple, before.select("query_id", "vec_id").collect()))
    maintain(index, split_size=32, merge_size=50)
    after, _ = index.search(q, k=10, target_recall=1.0, max_probe=10**9)
    rows_after = sorted(map(tuple, after.select("query_id", "vec_id").collect()))
    assert rows_before == rows_after


def test_compact_clears_tombstones(spark, index):
    index.delete(list(range(10)))
    assert index.tombstones
    live_before = _all_live_ids(index)
    compact(index)
    assert not index.tombstones
    assert _all_live_ids(index) == live_before
    assert index.sizes.sum() == 490


def test_split_threshold_clamps():
    assert split_threshold(0) == 3000            # cold → split_size as-is
    assert split_threshold(10**9) == 2000        # hot → split_size/1.5 floor
    assert split_threshold(1000) == 3000         # sub-window hotness: max(1,·)
    assert split_threshold(3000) == 2000         # 1.5× window → 3000/1.5


def test_cosine_index_insert_normalizes(spark):
    """Inserts into a cosine index must unit-normalize like the build
    did: an inserted vector is found by its own direction at any
    magnitude, with sim ≈ 1."""
    import shutil

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    shutil.rmtree("/tmp/qvss_cos_dml", ignore_errors=True)
    idx = IVFIndex.build(emb, "/tmp/qvss_cos_dml", coarse_k=4, base_k=2,
                         metric="cosine")
    rng = np.random.default_rng(11)
    v = rng.normal(size=64)
    idx.insert([777_000], [v * 50.0])         # way off unit length
    found, _ = idx.search((np.array([0]), (v * 0.02)[None, :]), k=1,
                          target_recall=1.0, max_probe=10**9)
    row = found.collect()[0]
    assert row["vec_id"] == 777_000
    assert abs(row["sim"] - 1.0) < 1e-9
    shutil.rmtree("/tmp/qvss_cos_dml", ignore_errors=True)


def test_delete_then_reinsert_no_resurrection(spark, index):
    """delete(id) then insert(id, new_vec) must leave exactly ONE live
    row for the id — the new vector — and bookkeeping consistent with
    the visible corpus (the old parquet row is physically purged, not
    resurrected by the tombstone clear)."""
    vid = 42
    old_vec = np.asarray(
        index.read_corpus().where(F.col("vec_id") == vid)
        .select(index.vec_col).head()[0], dtype=np.float64)
    n0 = index.read_corpus().count()
    index.delete([vid])
    new_vec = old_vec + 5.0
    index.insert([vid], [new_vec])
    live = index.read_corpus().where(F.col("vec_id") == vid).collect()
    assert len(live) == 1, "stale row resurrected on re-insert"
    got = np.asarray(live[0][index.vec_col], dtype=np.float64)
    np.testing.assert_allclose(got, new_vec, rtol=1e-6)
    assert index.read_corpus().count() == n0
    assert int(index.sizes.sum()) == n0
    # searching near the new vector returns the id exactly once
    qdf = spark.createDataFrame(
        [(0, [float(x) for x in new_vec])], "query_id long, embedding array<float>")
    out, _ = index.search(qdf, k=5, target_recall=1.0,
                          max_probe=1_000_000_000)
    hits = [r for r in out.collect() if r["vec_id"] == vid]
    assert len(hits) == 1 and hits[0]["rank"] == 1


def test_purge_publishes_new_version_old_intact(spark, index):
    """Re-insert purge must publish a NEW version directory (the
    crash-safe copy-on-write primitive maintenance uses) — the prior
    version's corpus stays byte-complete on disk, so a crash mid-purge
    can never lose surviving rows, and IVFIndex.load picks up the
    published version with consistent meta."""
    import os

    v0 = index.version
    v0_corpus = index.corpus_path
    v0_files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(v0_corpus)
        for f in fs if f.endswith(".parquet"))
    n0 = index.read_corpus().count()
    vid = 7
    index.delete([vid])
    index.insert([vid], [np.zeros(64)])
    assert index.version == v0 + 1, "purge must bump the version"
    # old version untouched: every pre-purge file still present
    for f in v0_files:
        assert os.path.exists(f), f"old-version file lost: {f}"
    # new version is complete and consistent
    assert index.read_corpus().count() == n0
    reloaded = IVFIndex.load(spark, WORKDIR)
    assert reloaded.version == index.version
    assert vid not in reloaded.tombstones
    assert reloaded.read_corpus().where(
        F.col("vec_id") == vid).count() == 1


def test_load_skips_half_published_version(spark, index):
    """A version directory without stats.json is a crashed
    half-publish (meta is written LAST); load(version=None) must ignore
    it and return the newest COMPLETE version."""
    import os

    v0 = index.version
    bogus = os.path.join(WORKDIR, f"v{v0 + 7:04d}")
    os.makedirs(os.path.join(bogus, "corpus"), exist_ok=True)
    try:
        reloaded = IVFIndex.load(spark, WORKDIR)
        assert reloaded.version == v0
    finally:
        shutil.rmtree(bogus, ignore_errors=True)


def test_staged_purge_invisible_until_publish(spark, index):
    """The reinsert purge stages its new version WITHOUT publishing
    (no version flip, no meta): a crash between staging and the
    post-append publish must leave loaders on the old version with the
    purged id still live — 'crash mid-publish loses nothing' for the
    whole insert+purge sequence, not just the copy step."""
    import os

    v0 = index.version
    staged = index._purge_rows({3}, publish=False)
    assert staged == v0 + 1
    assert index.version == v0, "staging must not flip the version"
    assert not os.path.exists(
        os.path.join(WORKDIR, f"v{staged:04d}", "stats.json"))
    reloaded = IVFIndex.load(spark, WORKDIR)
    assert reloaded.version == v0
    assert reloaded.read_corpus().where(
        F.col("vec_id") == 3).count() == 1


def test_versioned_read_time_travel(spark, index):
    """Snapshot reads: after a DML sequence publishes a newer version,
    load(version=v0) must still serve the EXACT pre-DML corpus — the
    old version's partition dirs are hardlinked/immutable and its meta
    was written at publish time. This is the lakehouse time-travel
    contract the copy-on-write versioning exists for: readers pin a
    version and concurrent writers can never change what they see."""
    v0 = index.version
    ids0 = _all_live_ids(index)
    n0 = index.read_corpus().count()
    vid = 5
    index.delete([vid])
    index.insert([vid], [np.ones(64)])       # re-insert → publishes v0+1
    index.insert([900_001], [np.zeros(64)])  # plain append to v0+1
    assert index.version == v0 + 1
    old = IVFIndex.load(spark, WORKDIR, version=v0)
    assert old.version == v0
    assert _all_live_ids(old) == ids0, "old snapshot changed under DML"
    assert old.read_corpus().count() == n0
    assert int(old.sizes.sum()) == n0
    # and the live version sees the new world
    live = IVFIndex.load(spark, WORKDIR)
    assert live.version == v0 + 1
    assert 900_001 in _all_live_ids(live)


def test_recompute_prunes_stats_of_dropped_partitions(spark, index):
    """Emptying a partition then recomputing centroids must also drop
    its hits/last_split_at entries (no unbounded stale metadata)."""
    # empty the smallest partition by deleting all its members
    pos = int(np.argmin(index.sizes))
    pid = int(index.part_ids[pos])
    dead = [int(r["vec_id"]) for r in
            index.read_corpus([pid]).select("vec_id").collect()]
    index.delete(dead)
    compact(index)
    assert pid not in set(int(p) for p in index.part_ids)
    assert pid not in index.hits
    assert pid not in index.last_split_at


def test_rotated_pq_sidecar_roundtrip(spark, tmp_path):
    """OPQ sidecar (round 6): build with rotate=True, search applies
    the stored rotation to queries automatically, recall matches the
    plain-PQ sidecar at full probe, and maintenance carries the
    rotation into the refreshed sidecar."""
    import numpy as np

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    import os

    rng = np.random.RandomState(7)
    Z = rng.randn(600, 4)
    A = rng.randn(4, 16)
    X = Z @ A + 0.05 * rng.randn(600, 16)   # correlated dims
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x]) for i, x in enumerate(X)],
        "vec_id long, embedding array<float>")
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_opq"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=32, rotate=True)
    assert os.path.exists(os.path.join(idx.version_dir,
                                       "pq_rotation.npz"))
    qids = np.arange(5)
    qmat = X[:5].astype(np.float64)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat), k=5)
    exact = exact.localCheckpoint()
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                          max_probe=64, oversample=30)
    assert avg_recall(found, exact, 5) >= 0.95
    # maintenance republished version must keep the rotation
    idx.insert([10_000], rng.randn(1, 16), refresh=False)
    maintain(idx)
    assert os.path.exists(os.path.join(idx.version_dir,
                                       "pq_rotation.npz"))
    found2, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                           max_probe=64, oversample=30)
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=5).localCheckpoint()
    assert avg_recall(found2, exact2, 5) >= 0.95


def test_residual_pq_sidecar_roundtrip(spark, tmp_path):
    """IVFADC (round 6): residual-encoded sidecar at full probe equals
    brute force; maintenance re-encodes residuals vs the republished
    centroids; mixing rotate+residual is refused."""
    import os

    import numpy as np
    import pytest as _pytest

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 800, d=16, n_clusters=10, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_res"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=32, residual=True)
    import json
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["residual"] is True
    rows = corpus.where("vec_id < 5").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.arange(5)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=5).localCheckpoint()
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                          max_probe=64, oversample=40)
    assert avg_recall(found, exact, 5) >= 0.95
    rng = np.random.default_rng(2)
    idx.insert([20_000], rng.normal(size=(1, 16)), refresh=False)
    maintain(idx)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["residual"] is True
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=5).localCheckpoint()
    found2, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                           max_probe=64, oversample=40)
    assert avg_recall(found2, exact2, 5) >= 0.95


def test_residual_snapshot_shields_adc_from_centroid_drift(spark, tmp_path):
    """IVFADC staleness guard (ADVICE r6): the sidecar persists the
    centroids it ENCODED against, and the ADC LUTs come from that
    snapshot — so live-centroid drift under DML cannot silently corrupt
    the candidate stage. Simulated here with an extreme drift (far
    beyond what incremental inserts produce): oversample=1 makes the
    candidate selection pure ADC, so with live-centroid LUTs the
    cross-partition rankings would be garbage."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 800, d=16, n_clusters=10, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_res_snap"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=32, residual=True)
    assert os.path.exists(os.path.join(idx.version_dir,
                                       "pq_centroids.npz"))
    snap = load_residual_snapshot(idx.version_dir)
    assert set(snap) == {int(p) for p in idx.part_ids}
    # extreme per-partition drift of the LIVE centroids only — the
    # snapshot must stay frozen and keep the ADC exact-equivalent
    rng = np.random.default_rng(17)
    idx.centroids = idx.centroids + rng.normal(
        scale=100.0, size=idx.centroids.shape)
    snap2 = load_residual_snapshot(idx.version_dir)
    for p in snap:
        np.testing.assert_array_equal(snap[p], snap2[p])
    rows = corpus.where("vec_id < 8").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=1, target_recall=1.0,
                          max_probe=10**9, oversample=1)
    got = {r["query_id"]: r["vec_id"] for r in found.collect()}
    assert got == {int(q): int(q) for q in qids}
    # maintenance re-encodes and re-snapshots against the NEW layout
    maintain(idx)
    snap3 = load_residual_snapshot(idx.version_dir)
    assert set(snap3) == {int(p) for p in idx.part_ids}


def test_rotated_residual_pq_sidecar_roundtrip(spark, tmp_path):
    """OPQ→IVF→ADC composition (round 7): rotation fitted on the
    residuals, codes quantize ((x − c_p) − mean) @ Rᵀ. Full probe +
    exact rerank equals brute force; both metadata files persist and
    survive a maintain() republish; streamed appends encode into the
    composed space (subtract-then-rotate) and stay searchable."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 800, d=16, n_clusters=10, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_rotres"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=32, rotate=True, residual=True)
    for f_ in ("pq_rotation.npz", "pq_centroids.npz"):
        assert os.path.exists(os.path.join(idx.version_dir, f_))
    import json
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["residual"] is True

    rows = corpus.where("vec_id < 5").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.arange(5)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=5).localCheckpoint()
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                          max_probe=10**9, oversample=40)
    assert avg_recall(found, exact, 5) >= 0.95

    # streamed append into the COMPOSED sidecar: subtract-then-rotate
    # order is only exercised here; oversample=1 makes candidate
    # selection pure ADC so a wrong encode space fails loudly
    from quake_vector_search_spark.streaming.ingest import (
        _append_pq_codes,
    )

    rng = np.random.default_rng(2)
    new_id = np.array([40_000], dtype=np.int64)
    new_vec = rng.normal(size=(1, 16))
    pids = idx.insert(new_id, new_vec)
    assert _append_pq_codes(idx, new_id, new_vec, pids, {})
    f_new, _ = knn_ivf_pq(idx, (np.array([99]), new_vec), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1)
    assert f_new.collect()[0]["vec_id"] == 40_000

    # maintenance carries BOTH the rotation and a fresh snapshot
    idx.insert([30_000], rng.normal(size=(1, 16)), refresh=False)
    maintain(idx)
    for f_ in ("pq_rotation.npz", "pq_centroids.npz"):
        assert os.path.exists(os.path.join(idx.version_dir, f_))
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=5).localCheckpoint()
    found2, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                           max_probe=10**9, oversample=40)
    assert avg_recall(found2, exact2, 5) >= 0.95


def test_residual_sidecar_on_cosine_index(spark, tmp_path):
    """Residual encoding composes with the cosine metric: the corpus
    is unit-normalized at build, residuals are taken against the
    (non-unit) partition centroids, and the ADC+rerank pipeline stays
    a pure L2 kernel on unit vectors — full probe equals brute-force
    cosine ranking."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 600, d=16, n_clusters=8, seed=9)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_cos_res"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=32, residual=True)
    rows = corpus.where("vec_id < 5").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.arange(5)
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=1, target_recall=1.0,
                          max_probe=10**9, oversample=40)
    got = {int(r["query_id"]): int(r["vec_id"])
           for r in found.collect()}
    # each unit-normalized corpus vector is its own nearest neighbor
    assert got == {i: int(q) for i, q in enumerate(qids)}
    row0 = found.where("query_id = 0").collect()[0]
    assert abs(row0["sim"] - 1.0) < 1e-6


def test_local_pq_sidecar_roundtrip(spark, tmp_path):
    """LOPQ (round 7): per-partition codebooks on each cell's own
    residuals (Kalantidis & Avrithis, CVPR'14). Full probe + exact
    rerank equals brute force; per-cell books persist as
    pq_local_books.npz (no global pq_codebooks.npy); maintenance
    RETRAINS the books — they are layout-bound, unlike global
    codebooks, so a split/merge republish carries nothing forward;
    composing local with a global rotation is refused."""
    import json
    import os

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 800, d=16, n_clusters=10, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_lopq"),
                         coarse_k=4, base_k=2)
    books = build_pq_sidecar(idx, m=4, ksub=32, residual=True,
                             local=True)
    assert isinstance(books, dict)
    assert set(books) == {int(p) for p in idx.part_ids}
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["local"] is True and meta["residual"] is True
    assert os.path.exists(os.path.join(idx.version_dir,
                                       "pq_local_books.npz"))
    assert not os.path.exists(os.path.join(idx.version_dir,
                                           "pq_codebooks.npy"))
    rows = corpus.where("vec_id < 5").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.arange(5)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=5).localCheckpoint()
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                          max_probe=64, oversample=40)
    assert avg_recall(found, exact, 5) >= 0.95
    # maintenance republish: the retrained books cover the NEW layout
    rng = np.random.default_rng(2)
    idx.insert([20_000], rng.normal(size=(1, 16)), refresh=False)
    maintain(idx, split_size=48, merge_size=0)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta2 = json.load(fh)
    assert meta2["local"] is True
    books2 = load_local_books(idx.version_dir)
    assert set(books2) == {int(p) for p in idx.part_ids}
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=5).localCheckpoint()
    found2, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                           max_probe=64, oversample=40)
    assert avg_recall(found2, exact2, 5) >= 0.95


def test_rotated_local_pq_sidecar_roundtrip(spark, tmp_path):
    """Full LOPQ (per-cell rotations + per-cell books) survives a
    maintenance republish: the retrained sidecar keeps rotate=True in
    its meta, every new-layout cell gets BOTH books and a rotation
    (atomic in one npz), and hybrid search accuracy holds before and
    after — per-cell rotations are layout-bound like the books, so
    carrying either forward across a split/merge would pair codes
    with the wrong space."""
    import json
    import os

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
        load_local_rots,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 800, d=16, n_clusters=10, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_lopqr"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=32, residual=True, local=True,
                     rotate=True, opq_iters=2)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["local"] and meta["rotate"] and meta["opq_iters"] == 2
    rots = load_local_rots(idx.version_dir)
    assert set(rots) == {int(p) for p in idx.part_ids}
    rows = corpus.where("vec_id < 5").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.arange(5)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=5).localCheckpoint()
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                          max_probe=64, oversample=40)
    assert avg_recall(found, exact, 5) >= 0.95
    rng = np.random.default_rng(2)
    idx.insert([21_000], rng.normal(size=(1, 16)), refresh=False)
    maintain(idx, split_size=48, merge_size=0)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta2 = json.load(fh)
    assert meta2["local"] and meta2["rotate"] and meta2["opq_iters"] == 2
    books2 = load_local_books(idx.version_dir)
    rots2 = load_local_rots(idx.version_dir)
    assert set(books2) == set(rots2) == {int(p) for p in idx.part_ids}
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=5).localCheckpoint()
    found2, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                           max_probe=64, oversample=40)
    assert avg_recall(found2, exact2, 5) >= 0.95


def test_local_sidecar_refuses_opq_iters_without_rotate(spark, tmp_path):
    """Review finding: plain per-cell books (local=True, rotate=False)
    with opq_iters would silently ignore the parameter — iterative OPQ
    refines a per-cell ROTATION, so the combination must refuse."""
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 200, d=16, n_clusters=4, seed=9)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_guard"),
                         coarse_k=2, base_k=2)
    with pytest.raises(ValueError, match="rotate=True"):
        build_pq_sidecar(idx, m=4, ksub=8, residual=True, local=True,
                         opq_iters=3)


def test_sq8_sidecar_roundtrip_streaming_and_maintenance(spark, tmp_path):
    """IVF+SQ8 sidecar lifecycle: (1) pure-ADC (oversample=1, no
    rerank margin) recall beats PQ-8 at the same corpus — the d-byte
    fidelity claim, measured; (2) streamed appends encode through the
    stored per-dim bounds + residual snapshot and are ADC-searchable;
    (3) maintenance republish carries the bounds forward, re-encodes
    against the new layout, and keeps full-probe accuracy."""
    import numpy as np

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_sq8_params,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 800, d=16, n_clusters=8, seed=23)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_sq8"),
                         coarse_k=4, base_k=2)
    rows = corpus.where("vec_id < 20").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.arange(20)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=10).localCheckpoint()

    build_pq_sidecar(idx, m=8, ksub=256, seed=99, residual=True)
    f_pq, _ = knn_ivf_pq(idx, (qids, qmat), k=10, target_recall=1.0,
                         max_probe=10**9, oversample=1)
    r_pq = avg_recall(f_pq, exact, 10)
    build_pq_sidecar(idx, sq8=True)
    f_sq, _ = knn_ivf_pq(idx, (qids, qmat), k=10, target_recall=1.0,
                         max_probe=10**9, oversample=1)
    r_sq = avg_recall(f_sq, exact, 10)
    assert r_sq >= max(r_pq, 0.95), (r_sq, r_pq)

    # streamed append into the sq8 sidecar
    rng = np.random.default_rng(9)
    pos = {int(p): i for i, p in enumerate(idx.part_ids)}
    c = idx.centroids[0]
    vecs = c + 0.05 * rng.normal(size=(4, 16))
    ids = np.arange(90_000, 90_004, dtype=np.int64)
    pids = idx.insert(ids, vecs)
    assert _append_pq_codes(idx, ids, vecs, pids, {})
    found, _ = knn_ivf_pq(idx, ([1], vecs[:1]), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1)
    assert found.collect()[0]["vec_id"] == int(ids[0])

    # maintenance republish: bounds carried, full-probe exactness holds
    params_before = load_sq8_params(idx.version_dir)
    maintain(idx, split_size=64, merge_size=0)
    params_after = load_sq8_params(idx.version_dir)
    np.testing.assert_allclose(params_after["vmin"],
                               params_before["vmin"])
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=10).localCheckpoint()
    f2, _ = knn_ivf_pq(idx, (qids, qmat), k=10, target_recall=1.0,
                       max_probe=10**9, oversample=40)
    assert avg_recall(f2, exact2, 10) >= 0.99


def test_maintenance_carries_aniso_sidecar(spark, tmp_path):
    """refresh_pq_sidecar must carry the anisotropic flavor across a
    version publish: books carry forward (they model the
    distribution), the re-encode uses the SAME score-aware assignment
    (spot-checked bit-exactly against the local encoder), and
    pq_meta.json keeps the anisotropic key so streaming appends keep
    encoding score-aware."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 700, d=16, n_clusters=5, seed=9)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_aniso_maint"),
                         coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             anisotropic=3.0)
    idx.insert([90_500], np.ones((1, 16)), refresh=False)
    maintain(idx)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta.get("anisotropic") == 3.0
    books2 = np.load(os.path.join(idx.version_dir,
                                  "pq_codebooks.npy"))
    assert np.array_equal(books, books2)          # books carried
    # spot-check: a re-encoded row's codes = score-aware local encode
    row = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where("vec_id = 3").collect())
    v = np.array(idx.read_corpus().where("vec_id = 3")
                 .select(idx.vec_col).head()[0], dtype=np.float64)
    want = _aniso_encode_local(v[None, :], books2, 3.0)[0]
    assert list(row[0]["pq_codes"]) == [int(c) for c in want]


def test_maintenance_carries_aniso_residual_sidecar(spark, tmp_path):
    """The RESIDUAL anisotropic flavor across a version publish:
    books carry forward, the re-encode runs score-aware with
    directions rebuilt from the NEW layout's snapshot, and the meta
    keeps both flags. Spot-checked bit-exactly."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        build_pq_sidecar,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 700, d=16, n_clusters=5, seed=10)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_anires_maint"),
                         coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             anisotropic=3.0, residual=True)
    idx.insert([91_500], np.ones((1, 16)), refresh=False)
    maintain(idx)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta.get("anisotropic") == 3.0 and meta.get("residual")
    books2 = np.load(os.path.join(idx.version_dir,
                                  "pq_codebooks.npy"))
    assert np.array_equal(books, books2)
    snap = load_residual_snapshot(idx.version_dir)
    row = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where("vec_id = 3")
           .select("pq_codes", "partition_id").collect())
    pid = int(row[0]["partition_id"])
    v = np.array(idx.read_corpus().where("vec_id = 3")
                 .select(idx.vec_col).head()[0], dtype=np.float64)
    r = v - snap[pid]
    d = v / (np.linalg.norm(v) + 1e-12)
    want = _aniso_encode_local(r[None, :], books2, 3.0,
                               dirs=d[None, :])[0]
    assert list(row[0]["pq_codes"]) == [int(c) for c in want]


def test_maintenance_carries_aniso_rotated_sidecar(spark, tmp_path):
    """The ROTATED × RESIDUAL anisotropic flavor (round 9) across a
    version publish: books AND the rotation carry forward, the
    re-encode runs score-aware in the rotated space with directions
    rebuilt from the NEW layout's snapshot and rotated through the
    same transport (x̂ @ Rᵀ), and the meta keeps all three flags.
    Spot-checked bit-exactly against the local encoder."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        build_pq_sidecar,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 700, d=16, n_clusters=5, seed=11)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_anirot_maint"),
                         coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             anisotropic=3.0, residual=True,
                             rotate=True)
    rz = np.load(os.path.join(idx.version_dir, "pq_rotation.npz"))
    mean0, R0 = rz["mean"].copy(), rz["components"].copy()
    idx.insert([92_500], np.ones((1, 16)), refresh=False)
    maintain(idx)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta.get("anisotropic") == 3.0 and meta.get("residual")
    assert meta.get("rotate")
    books2 = np.load(os.path.join(idx.version_dir,
                                  "pq_codebooks.npy"))
    assert np.array_equal(books, books2)          # books carried
    rz2 = np.load(os.path.join(idx.version_dir, "pq_rotation.npz"))
    assert np.array_equal(mean0, rz2["mean"])     # rotation carried
    assert np.array_equal(R0, rz2["components"])
    snap = load_residual_snapshot(idx.version_dir)
    row = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where("vec_id = 3")
           .select("pq_codes", "partition_id").collect())
    pid = int(row[0]["partition_id"])
    v = np.array(idx.read_corpus().where("vec_id = 3")
                 .select(idx.vec_col).head()[0], dtype=np.float64)
    r = (v - snap[pid] - mean0) @ R0.T
    d = (v / (np.linalg.norm(v) + 1e-12)) @ R0.T
    want = _aniso_encode_local(r[None, :], books2, 3.0,
                               dirs=d[None, :])[0]
    assert list(row[0]["pq_codes"]) == [int(c) for c in want]


def test_insert_distributed_matches_driver_insert(spark, tmp_path):
    """The round-10 backfill path (VERDICT r9 #4): insert_distributed
    must assign EXACTLY the pids the driver-side insert assigns on the
    same batch — including new partitions born from an empty coarse
    cell (sorted-cell sentinel remap) — with equal corpus rows, sizes,
    and allclose centroids (summation order may differ), and its
    routing job must be one MapInPandas with no Exchange and no
    collect on the data path."""
    import io
    from contextlib import redirect_stdout

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 500, d=8, n_clusters=5, seed=3)
    a = IVFIndex.build(corpus, str(tmp_path / "a"), coarse_k=3,
                       base_k=2, metric="l2")
    b = IVFIndex.build(corpus, str(tmp_path / "b"), coarse_k=3,
                       base_k=2, metric="l2")
    assert np.array_equal(a.part_ids, b.part_ids)
    # graft an EMPTY coarse cell onto both copies identically so the
    # batch exercises new-partition creation through both paths
    far = np.full(8, 40.0)
    a.coarse_centroids = np.vstack([a.coarse_centroids, far])
    b.coarse_centroids = np.vstack([b.coarse_centroids, far])

    rng = np.random.default_rng(11)
    n_new = 120
    vecs = rng.normal(size=(n_new, 8))
    vecs[:10] += far  # these must land in the empty cell
    ids = np.arange(10_000, 10_000 + n_new)

    pids_a = a.insert(ids, vecs)

    bdf = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<float>")
    routed = b.route_distributed(bdf)
    buf = io.StringIO()
    with redirect_stdout(buf):
        routed.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan
    out = b.insert_distributed(bdf)
    got = {int(r[0]): int(r[2]) for r in out.collect()}
    want = {int(i): int(p) for i, p in zip(ids, pids_a)}
    assert got == want
    # registered metadata agrees
    assert np.array_equal(a.part_ids, b.part_ids)
    assert np.array_equal(a.part_coarse, b.part_coarse)
    assert np.array_equal(a.sizes, b.sizes)
    assert np.allclose(a.centroids, b.centroids)
    # corpus rows agree (id -> pid, float32 vector values)
    rows_a = {int(r["vec_id"]): (int(r["partition_id"]),
                                 tuple(r["embedding"]))
              for r in a.read_corpus().collect()}
    rows_b = {int(r["vec_id"]): (int(r["partition_id"]),
                                 tuple(r["embedding"]))
              for r in b.read_corpus().collect()}
    assert rows_a == rows_b


def test_insert_distributed_tombstone_reinsert(spark, tmp_path):
    """Re-inserting a deleted id through the distributed path purges
    the old physical row via the same staged publish the driver path
    uses — exactly one live row per id afterward, tombstone cleared."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 300, d=8, n_clusters=3, seed=4)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf"), coarse_k=2,
                         base_k=2, metric="l2")
    victim = 7
    idx.delete([victim])
    assert victim in idx.tombstones
    rng = np.random.default_rng(9)
    vec = rng.normal(size=8)
    bdf = spark.createDataFrame(
        [(victim, vec.tolist()), (20_000, (vec + 1).tolist())],
        "vec_id long, embedding array<float>")
    idx.insert_distributed(bdf)
    assert victim not in idx.tombstones
    live = (idx.read_corpus().where(f"vec_id = {victim}").collect())
    assert len(live) == 1
    got = np.asarray(live[0]["embedding"], dtype=np.float64)
    assert np.allclose(got, vec.astype(np.float32), atol=0)


def test_insert_distributed_empty_batch_honors_unpersist(spark,
                                                         tmp_path):
    """ADVICE r10: the empty-aggregate early return must keep the
    normal path's return contract — with unpersist=False the returned
    frame carries a releasable routing_cache (ingest_stream's finally
    block unconditionally reads it), and index state is untouched."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf"), coarse_k=2,
                         base_k=2, metric="l2")
    sizes_before = idx.sizes.copy()
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    out = idx.insert_distributed(empty, unpersist=False)
    assert hasattr(out, "routing_cache")
    out.routing_cache.unpersist()          # the ingest finally block
    assert out.count() == 0
    assert np.array_equal(idx.sizes, sizes_before)
    # default unpersist=True still returns a consumable empty frame
    out2 = idx.insert_distributed(empty)
    assert out2.count() == 0


def test_maintenance_retrains_aniso_lopq_sidecar(spark, tmp_path):
    """The ANISO × LOPQ flavor (round 10) across a version publish:
    per-cell books are LAYOUT-BOUND, so maintenance RETRAINS them on
    the new layout with the build hyperparameters — score-aware,
    because the meta carries ``anisotropic`` through the rebuild.
    Spot-checked bit-exactly: a surviving row's code re-derives from
    the NEW layout's snapshot + its cell's retrained books under the
    per-cell direction rule."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        build_pq_sidecar,
        load_local_books,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 700, d=16, n_clusters=5, seed=10)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_anisolopq_m"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                     anisotropic=3.0, residual=True, local=True)
    idx.insert([92_500], np.ones((1, 16)), refresh=False)
    maintain(idx)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta.get("anisotropic") == 3.0
    assert meta.get("local") and meta.get("residual")
    books2 = load_local_books(idx.version_dir)
    snap = load_residual_snapshot(idx.version_dir)
    row = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where("vec_id = 3")
           .select("pq_codes", "partition_id").collect())
    pid = int(row[0]["partition_id"])
    v = np.array(idx.read_corpus().where("vec_id = 3")
                 .select(idx.vec_col).head()[0], dtype=np.float64)
    r = v - snap[pid]
    d = v / (np.linalg.norm(v) + 1e-12)
    want = _aniso_encode_local(r[None, :], books2[pid], 3.0,
                               dirs=d[None, :])[0]
    assert list(row[0]["pq_codes"]) == [int(c) for c in want]


def test_aniso_opq_sidecar_end_to_end(spark, tmp_path):
    """aniso × opq_iters (round 13 — the GLOBAL score-aware OPQ
    alternation, closing the old refusal): build the full
    anisotropic × rotated × residual composition with the jointly
    refined rotation, and pin (1) fullprobe + exact rerank ≡ exact
    search, (2) pq_meta records opq_iters, (3) a maintenance
    republish carries books, rotation AND the knob (so a later
    OOD-triggered retrain re-runs the alternation), with accuracy
    holding on the new layout."""
    import json
    import os

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 800, d=16, n_clusters=10, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_aopq"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=32, seed=99, anisotropic=3.0,
                     residual=True, rotate=True, opq_iters=2)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["anisotropic"] == 3.0 and meta["rotate"]
    assert meta["opq_iters"] == 2
    assert os.path.exists(os.path.join(idx.version_dir,
                                       "pq_rotation.npz"))

    rows = corpus.where("vec_id < 5").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    # cosine: the built corpus is unit-normalized and knn_ivf_pq
    # normalizes queries itself, so the exact-L2 oracle must rank
    # with normalized queries too
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qids = np.arange(5)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=5).localCheckpoint()
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                          max_probe=64, oversample=40)
    assert avg_recall(found, exact, 5) >= 0.95

    # maintenance republish: global aniso books + rotation + knobs
    # all carry (the rotation models the residual distribution, not
    # the layout)
    rng = np.random.default_rng(2)
    idx.insert([21_000], rng.normal(size=(1, 16)), refresh=False)
    maintain(idx, split_size=48, merge_size=0)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta2 = json.load(fh)
    assert meta2["anisotropic"] == 3.0 and meta2["rotate"]
    assert meta2["opq_iters"] == 2
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=5).localCheckpoint()
    found2, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                           max_probe=64, oversample=40)
    assert avg_recall(found2, exact2, 5) >= 0.95


def test_aniso_opq_requires_rotate():
    """The narrowed aniso gates (round 13): sq8 still refuses under
    η; opq_iters under η refuses only WITHOUT a rotation (the
    score-aware Procrustes alternation refines a rotation — global
    or per-cell — and would otherwise be silently ignored)."""
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )

    class _FakeIdx:
        metric = "cosine"

        def read_corpus(self):
            return None

    with pytest.raises(ValueError, match="sq8"):
        build_pq_sidecar(_FakeIdx(), m=4, ksub=16, anisotropic=3.0,
                         sq8=True)
    with pytest.raises(ValueError, match="rotate"):
        build_pq_sidecar(_FakeIdx(), m=4, ksub=16, anisotropic=3.0,
                         residual=True, rotate=False, opq_iters=2)


def test_aniso_opq_local_sidecar_end_to_end(spark, tmp_path):
    """aniso × LOPQ × per-cell score-aware OPQ (round 13 — opq_iters
    now composes with the per-cell flavor too): each cell's rotation
    is refined by the aniso_opq_refine_local alternation inside its
    grouped-map fit. Pin (1) fullprobe + exact rerank accuracy, (2)
    pq_meta records opq_iters=2 (so a maintenance retrain — per-cell
    books are layout-bound — re-runs the alternation), (3) the
    post-maintenance retrain keeps the knob and accuracy, and (4) a
    streamed batch into a BORN cell trains refined books through the
    shared kernel and the vector is immediately searchable."""
    import json
    import os

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_rots,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        _append_pq_codes,
    )

    corpus = make_dataset(spark, 800, d=16, n_clusters=10, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_alopq"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=32, seed=99, anisotropic=3.0,
                     residual=True, local=True, rotate=True,
                     opq_iters=2)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["local"] and meta["rotate"]
    assert meta["anisotropic"] == 3.0 and meta["opq_iters"] == 2
    rots = load_local_rots(idx.version_dir)
    assert set(rots) == {int(p) for p in idx.part_ids}

    rows = corpus.where("vec_id < 5").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qids = np.arange(5)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=5).localCheckpoint()
    found, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                          max_probe=64, oversample=40)
    assert avg_recall(found, exact, 5) >= 0.95

    # maintenance: per-cell books are layout-bound → RETRAIN, which
    # must re-run the alternation with the recorded opq_iters
    rng = np.random.default_rng(2)
    idx.insert([21_000], rng.normal(size=(1, 16)), refresh=False)
    maintain(idx, split_size=48, merge_size=0)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta2 = json.load(fh)
    assert meta2["anisotropic"] == 3.0 and meta2["opq_iters"] == 2
    exact2 = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                            k=5).localCheckpoint()
    found2, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                           max_probe=64, oversample=40)
    assert avg_recall(found2, exact2, 5) >= 0.95

    # born cell: graft an empty coarse cell, stream a batch at it —
    # the shared streamed kernel must run the same per-cell
    # alternation (meta's opq_iters) and leave the vector searchable
    d = 16
    direction = np.zeros(d)
    direction[0] = -1.0     # unit vector far from the data clusters
    new_coarse = len(idx.coarse_centroids)
    idx.coarse_centroids = np.vstack([idx.coarse_centroids,
                                      direction])
    idx.save_meta()
    n_new = 12
    vecs = direction + 0.05 * rng.normal(size=(n_new, d))
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    ids_new = np.arange(22_000, 22_000 + n_new)
    pids_new = idx.insert(ids_new, vecs)
    assert (idx.part_coarse[np.searchsorted(idx.part_ids,
                                            pids_new)]
            == new_coarse).all()
    _append_pq_codes(idx, ids_new, vecs, pids_new, {})
    rots3 = load_local_rots(idx.version_dir)
    born = {int(p) for p in pids_new}
    assert born <= set(rots3)
    found3, _ = knn_ivf_pq(idx, ([1], vecs[:1]), k=1,
                           target_recall=1.0, max_probe=10**9,
                           oversample=8)
    assert found3.collect()[0]["vec_id"] == ids_new[0]


def test_aniso_opq_local_engages_at_one(spark, tmp_path):
    """opq_iters=1 on the per-cell aniso flavor must ENGAGE the
    alternation (recorded verbatim in pq_meta), not be silently
    coerced into the init-only fit — the engagement rule matches the
    global flavor's (≥ 1 runs, 0 = flavor-native init), which is the
    whole point of the rotate gate's error message."""
    import json
    import os

    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_local_rots,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 400, d=16, n_clusters=5, seed=9)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_a1"),
                         coarse_k=2, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=16, seed=99, anisotropic=3.0,
                     residual=True, local=True, rotate=True,
                     opq_iters=1)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["opq_iters"] == 1
    assert set(load_local_rots(idx.version_dir)) == {
        int(p) for p in idx.part_ids}

    # 0 stays the init-only flavor old metas retrain into
    build_pq_sidecar(idx, m=4, ksub=16, seed=99, anisotropic=3.0,
                     residual=True, local=True, rotate=True)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["opq_iters"] == 0
