"""Unit tests for vector kernels (SURVEY.md §5.2): distance kernels vs
naive NumPy on seeded random inputs; top-k tie-break order."""

import pytest
import numpy as np

from quake_vector_search_spark.functions.vector import l2_batch, topk_indices


def test_l2_batch_matches_naive():
    rng = np.random.default_rng(42)
    x = rng.normal(size=(7, 16))
    y = rng.normal(size=(13, 16))
    d2 = l2_batch(x, y)
    naive = ((x[:, None, :] - y[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_allclose(d2, naive, rtol=1e-10, atol=1e-10)


def test_l2_batch_nonnegative_on_duplicates():
    x = np.ones((3, 8), dtype=np.float32) * 1e3
    d2 = l2_batch(x, x)
    assert (d2 >= 0).all()
    np.testing.assert_allclose(np.diag(d2), 0.0, atol=1e-6)


def test_topk_ascending_and_tiebreak():
    arr = np.array([3.0, 1.0, 2.0, 1.0, 0.5])
    idx = topk_indices(arr, 3)
    # 0.5@4, then tie 1.0@1 before 1.0@3 (index asc on ties)
    assert idx.tolist() == [4, 1, 3]


def test_topk_k_larger_than_n():
    arr = np.array([2.0, 1.0])
    assert topk_indices(arr, 10).tolist() == [1, 0]
    assert topk_indices(arr, 0).tolist() == []


# ------------------------- property tests (hypothesis, SURVEY.md §5.2)
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

_finite = st.floats(min_value=-100, max_value=100,
                    allow_nan=False, allow_infinity=False, width=64)


@settings(max_examples=50, deadline=None)
@given(x=arrays(np.float64, (5, 8), elements=_finite),
       y=arrays(np.float64, (9, 8), elements=_finite))
def test_l2_batch_property_matches_naive(x, y):
    naive = ((x[:, None, :] - y[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_allclose(l2_batch(x, y), naive,
                               rtol=1e-9, atol=1e-7)


@settings(max_examples=50, deadline=None)
@given(arr=arrays(np.float64, st.integers(1, 40), elements=_finite),
       k=st.integers(1, 50))
def test_topk_property_sorted_prefix(arr, k):
    idx = topk_indices(arr, k)
    kk = min(k, len(arr))
    assert len(idx) == kk
    vals = arr[idx]
    # ascending values, index-ascending on ties
    assert all(vals[i] < vals[i + 1]
               or (vals[i] == vals[i + 1] and idx[i] < idx[i + 1])
               for i in range(kk - 1))
    # the selected set IS the k smallest (compare against full argsort)
    ref = sorted(range(len(arr)), key=lambda i: (arr[i], i))[:kk]
    assert idx.tolist() == ref


@settings(max_examples=50, deadline=None)
@given(p=arrays(np.float64, st.integers(1, 64),
                elements=st.floats(min_value=1e-9, max_value=1.0)),
       cap=st.integers(1, 64))
def test_choose_nprobe_properties(p, cap):
    from quake_vector_search_spark.operators.ivf import IVFIndex
    probs = np.sort(p / p.sum())[::-1][None, :]
    P = probs.shape[1]
    prev = 0
    for tr in (0.1, 0.5, 0.9, 0.99, 1.0):
        n = int(IVFIndex.choose_nprobe(probs, tr, cap)[0])
        assert 1 <= n <= min(cap, P)          # bounded
        assert n >= prev                      # monotone in target_recall
        prev = n
    # target 1.0 with no cap → the full partition set (cumsum reaches
    # ~1.0 only at the end; allow early stop from float rounding)
    n_full = int(IVFIndex.choose_nprobe(probs, 1.0 - 1e-12, P)[0])
    assert n_full >= P - 1


def test_sq8_roundtrip_and_recall(spark):
    """SQ8 encode/decode error ≤ span/255/2 per dim; quantized+rerank
    search recovers exact top-10 on the smoke corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        dim_ranges,
        knn_sq8,
        sq8_decode_expr,
        sq8_encode,
    )
    from quake_vector_search_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    mins, maxs = dim_ranges(emb)
    enc = sq8_encode(emb.select("vec_id", "embedding"), mins, maxs)
    dec = enc.select(
        "vec_id", "embedding",
        sq8_decode_expr("codes", mins, maxs).alias("approx"))
    row = dec.orderBy("vec_id").head()
    orig = np.array(row["embedding"], dtype=np.float64)
    approx = np.array(row["approx"])
    spans = np.array(maxs) - np.array(mins)
    assert (np.abs(orig - approx) <= spans / 255 / 2 + 1e-9).all()

    q = emb.where(F.col("vec_id") < 5) \
           .withColumnRenamed("vec_id", "query_id")
    got = knn_sq8(emb, q, k=10)
    exact = knn_bruteforce(emb, q, k=10)
    assert avg_recall(got, exact, 10) >= 0.95


def test_fit_sq8_params_skips_all_null_batches(spark):
    """ADVICE r7: an Arrow batch whose vectors are ALL null used to
    reach np.stack on an empty sequence ('need at least one array to
    stack') — the emptiness guard sat after the stack. Nulls are now
    filtered before stacking (as pca_project does); the fit over a
    null-heavy relation equals the fit over its non-null rows."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        fit_sq8_params,
    )

    rows = ([(i, None) for i in range(6)]
            + [(10, [1.0, -2.0, 3.0]), (11, [5.0, 0.0, -1.0])])
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(4)
    params = fit_sq8_params(df, "embedding")
    assert np.allclose(params["vmin"], [1.0, -2.0, -1.0])
    assert np.allclose(params["vmin"] + params["scale"] * 255,
                       [5.0, 0.0, 3.0])


def test_pq_encode_and_recall(spark):
    """PQ codes are valid codebook indices of the right arity; ADC +
    rerank search hits a high recall floor at moderate oversample and
    exact top-10 at the registry query's oversample."""
    import numpy as np
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        knn_pq,
        pq_encode,
        pq_train,
    )
    from quake_vector_search_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    books = pq_train(emb, m=8, ksub=64, seed=99)
    assert books.shape[0] == 8 and books.shape[2] == 8  # d=64 → dsub=8
    enc = pq_encode(emb, books).collect()
    codes = np.array([r["pq_codes"] for r in enc])
    assert codes.shape[1] == 8
    assert codes.min() >= 0 and codes.max() < books.shape[1]

    # deterministic: same seed → same codebooks
    books2 = pq_train(emb, m=8, ksub=64, seed=99)
    assert np.array_equal(books, books2)

    q = emb.where(F.col("vec_id") < 5) \
           .withColumnRenamed("vec_id", "query_id")
    exact = knn_bruteforce(emb, q, k=10)
    got = knn_pq(emb, q, k=10, m=8, ksub=64, oversample=4, seed=99)
    assert avg_recall(got, exact, 10) >= 0.8


def test_ivf_pq_sidecar_recall(spark, tmp_path):
    """IVF+PQ hybrid: sidecar encodes the corpus partition-aligned;
    adaptive search composes APS pruning with ADC and clears the recall
    floor; full probe + rerank equals brute force exactly."""
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = IVFIndex.build(emb, str(tmp_path / "ivfpq"),
                         coarse_k=8, base_k=4)
    books = build_pq_sidecar(idx, m=8, ksub=64, seed=99)

    q = emb.where(F.col("vec_id") < 5) \
           .withColumnRenamed("vec_id", "query_id")
    exact = knn_bruteforce(emb, q, k=10)

    got, meta = knn_ivf_pq(idx, q, k=10, target_recall=0.9,
                           oversample=8, books=books)
    assert avg_recall(got, exact, 10) >= 0.9
    assert meta["avg_nprobe"] <= meta["n_partitions"]

    full, _ = knn_ivf_pq(idx, q, k=10, target_recall=1.0,
                         max_probe=10**9, oversample=16, books=books)
    a = sorted(map(tuple, full.select("query_id", "vec_id", "rank")
                   .collect()))
    b = sorted(map(tuple, exact.select("query_id", "vec_id", "rank")
                   .collect()))
    assert a == b


def test_pq_sidecar_survives_maintenance(spark, tmp_path):
    """maintain() publishes a new version; a PQ sidecar built on the
    old version must be re-encoded automatically so hybrid search keeps
    working (and stays exact at full probe)."""
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.sources import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = IVFIndex.build(emb, str(tmp_path / "ivfpq_m"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=8, ksub=64, seed=99)
    v0 = idx.version

    summary = maintain(idx)
    assert summary["version"] == v0 + 1
    assert summary["pq_refreshed"] is True

    q = emb.where(F.col("vec_id") < 3) \
           .withColumnRenamed("vec_id", "query_id")
    got, _ = knn_ivf_pq(idx, q, k=10, target_recall=1.0,
                        max_probe=10**9, oversample=16)
    exact = knn_bruteforce(idx.read_corpus(), q, k=10)
    a = sorted(map(tuple, got.select("query_id", "vec_id").collect()))
    b = sorted(map(tuple, exact.select("query_id", "vec_id").collect()))
    assert a == b


def test_ivf_pq_cosine_fullprobe_matches_exact(spark):
    """PQ over a cosine index (normalize-then-encode): full probe +
    rerank must equal exact cosine top-k, including tie-breaks."""
    import shutil

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import cosine_topk
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.sources import load_table

    wd = "/tmp/qvss_test_pqcos"
    shutil.rmtree(wd, ignore_errors=True)
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = IVFIndex.build(emb, wd, coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=8, ksub=64, seed=99)
    from pyspark.sql import functions as F
    q = emb.where(F.col("vec_id") < 3).withColumnRenamed("vec_id", "query_id")
    # oversample=64 → 320 ADC candidates of 500: with ksub=64 codebooks
    # trained on 500 rows the ADC error is coarse enough that 80
    # candidates can miss a true top-5 neighbor
    got, _ = knn_ivf_pq(idx, q, k=5, target_recall=1.0,
                        max_probe=1_000_000_000, oversample=64, books=books)
    # ground truth = full-probe IVF search over the SAME stored
    # (float32-normalized) corpus — raw-vector cosine_topk can swap
    # near-ties that differ only through the float32 normalization
    want, _ = idx.search(q, k=5, target_recall=1.0,
                         max_probe=1_000_000_000)
    g = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["sim"], 9))
         for r in got.collect()}
    w = {(r["query_id"], r["rank"]): (r["vec_id"], round(r["sim"], 9))
         for r in want.collect()}
    assert set(g) == set(w)
    for key in w:
        assert g[key][0] == w[key][0]
        assert abs(g[key][1] - w[key][1]) < 1e-6
    shutil.rmtree(wd, ignore_errors=True)


def test_api_knn_allowed_bruteforce_path(spark):
    """ADVICE r5 (low): api.knn(allowed=...) used to TypeError on the
    index=None path; it must now pre-filter the corpus (same result as
    filter-then-search) for every metric, and reject multi-column id
    frames."""
    import numpy as np
    import pytest as _pytest

    from quake_vector_search_spark import api

    rng = np.random.RandomState(5)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in rng.randn(4)]) for i in range(30)],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, [0.1, 0.2, -0.3, 0.4])],
        "query_id long, embedding array<float>")
    allowed = spark.range(0, 30, 2).withColumnRenamed("id", "vec_id")
    got = api.knn(corpus, queries, k=5, allowed=allowed).collect()
    want = api.knn(corpus.where("vec_id % 2 = 0"), queries,
                   k=5).collect()
    assert [(r["query_id"], r["vec_id"], r["rank"]) for r in got] == \
           [(r["query_id"], r["vec_id"], r["rank"]) for r in want]
    assert all(r["vec_id"] % 2 == 0 for r in got)
    got_cos = api.knn(corpus, queries, k=5, metric="cosine",
                      allowed=allowed).collect()
    assert all(r["vec_id"] % 2 == 0 for r in got_cos)
    with _pytest.raises(ValueError, match="single-column"):
        api.knn(corpus, queries, k=5,
                allowed=allowed.withColumn("extra", allowed.vec_id))


def test_knn_opq_matches_bruteforce(spark):
    """OPQ (PCA-rotated PQ) with exact rerank must reproduce brute
    force on a correlated corpus — the case plain PQ's independence
    assumption dislikes and the rotation is for."""
    import numpy as np

    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import knn_opq

    rng = np.random.RandomState(13)
    # strongly correlated dims: latent 4-d factors blown up to 16-d
    Z = rng.randn(400, 4)
    A = rng.randn(4, 16)
    X = Z @ A + 0.05 * rng.randn(400, 16)
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in x]) for i, x in enumerate(X)],
        "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(5)],
        "query_id long, embedding array<float>")
    got = knn_opq(corpus, queries, k=5, m=4, ksub=16,
                  oversample=40).collect()
    want = knn_bruteforce(corpus, queries, k=5).collect()
    key = lambda rows: [(r["query_id"], r["vec_id"], r["rank"])
                        for r in sorted(rows, key=lambda r:
                                        (r["query_id"], r["rank"]))]
    assert key(got) == key(want)


def test_cosine_pandas_twin_matches_column(spark):
    """Property: the einsum cosine kernel and the Column fold agree to
    float tolerance on random pair frames (round 6 — the LSH verify
    swap rests on this)."""
    import numpy as np

    from quake_vector_search_spark.functions.vector import (
        cosine_similarity_col,
        cosine_similarity_pandas,
    )

    rng = np.random.RandomState(23)
    rows = []
    for i in range(200):
        a = rng.randn(12) * rng.choice([1e-3, 1.0, 1e3])
        b = rng.randn(12) * rng.choice([1e-3, 1.0, 1e3])
        rows.append((i, [float(x) for x in a], [float(x) for x in b]))
    rows.append((200, [0.0] * 12, [1.0] * 12))   # zero-norm epsilon path
    df = spark.createDataFrame(
        rows, "pid long, va array<double>, vb array<double>")
    got = (df.select("pid",
                     cosine_similarity_pandas("va", "vb").alias("cp"),
                     cosine_similarity_col("va", "vb").alias("cc"))
           .collect())
    for r in got:
        assert abs(r["cp"] - r["cc"]) < 1e-9, (r["pid"], r["cp"], r["cc"])


def test_bloom_lane_guards():
    """Round 6 lane-split limits: k>4 exceeds the 32-hex digest, m
    beyond 2^28 exceeds the 7-hex lane range."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.sketch import (
        _bloom_bit_exprs,
    )

    assert len(_bloom_bit_exprs(F.lit(1), 4096, 4)) == 4
    with _pytest.raises(ValueError, match="k <= 4"):
        _bloom_bit_exprs(F.lit(1), 4096, 5)
    with _pytest.raises(ValueError, match="lane range"):
        _bloom_bit_exprs(F.lit(1), 1 << 29, 4)


def test_opq_refine_beats_pca_init():
    """Iterative OPQ (round 7): on correlated data the Procrustes
    alternation must strictly reduce PQ reconstruction error vs the
    one-shot PCA init, keep the rotation orthogonal, and never return
    a config worse than the init (running-best contract)."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        opq_refine_local,
        pq_encode_local,
    )

    rng = np.random.RandomState(11)
    # strongly correlated dims: low-rank mix + small noise — the case
    # where subspace decorrelation alone is NOT optimal for PQ
    Z = rng.randn(4000, 4)
    A = rng.randn(4, 16)
    X = Z @ A + 0.05 * rng.randn(4000, 16)
    out = opq_refine_local(X, m=4, ksub=32, opq_iters=5, seed=7)
    R = out["components"]
    np.testing.assert_allclose(R @ R.T, np.eye(16), atol=1e-8)
    assert out["best_error"] == min(out["errors"])
    assert out["best_error"] <= out["errors"][0]
    # vs the one-shot PCA rotation (what rotate=True without
    # opq_iters uses): eigenvalue allocation + alternation must cut
    # reconstruction error decisively — plain PCA stuffs all variance
    # into subspace 0 on this low-rank data
    from quake_vector_search_spark.operators.kmeans import local_kmeans

    Z = X - X.mean(axis=0)
    cov = (Z.T @ Z) / (len(X) - 1)
    _, eigvecs = np.linalg.eigh(cov)
    Rpca = eigvecs[:, ::-1].T
    Ypca = Z @ Rpca.T
    err_pca = 0.0
    for j in range(4):
        sub = Ypca[:, j * 4:(j + 1) * 4]
        books_j, _ = local_kmeans(sub, 32, 4, 7 + 1 + j)
        codes_j = pq_encode_local(sub, books_j[None, :, :])
        err_pca += float(((sub - books_j[codes_j[:, 0]]) ** 2).sum()
                         / len(X))
    assert out["best_error"] < 0.9 * err_pca
    # returned books encode the returned space consistently: the
    # reported best error is reproducible from the returned config
    Y = (X - out["mean"]) @ R.T
    codes = pq_encode_local(Y, out["books"])
    dsub = 16 // 4
    Yhat = np.concatenate(
        [out["books"][j][codes[:, j]] for j in range(4)], axis=1)
    err = float(((Y - Yhat) ** 2).sum() / len(X))
    np.testing.assert_allclose(err, out["best_error"], rtol=1e-9)
    # determinism: same seed, same fit
    again = opq_refine_local(X, m=4, ksub=32, opq_iters=5, seed=7)
    np.testing.assert_array_equal(again["components"], R)


def test_knn_opq_iterative_matches_bruteforce(spark):
    """knn_opq(opq_iters=N) — full OPQ training on the sample — keeps
    the exact-rerank contract: at high oversample the output equals
    brute force, rotation round-off notwithstanding."""
    import numpy as np

    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import knn_opq
    from quake_vector_search_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    queries = (emb.where("vec_id < 3")
               .withColumnRenamed("vec_id", "query_id"))
    got = knn_opq(emb, queries, k=5, m=8, ksub=64,
                  oversample=max(4, -(-n // 10)), opq_iters=2)
    want = knn_bruteforce(emb, queries, k=5)
    g = {(r["query_id"], r["vec_id"], round(r["dist"], 6))
         for r in got.collect()}
    w = {(r["query_id"], r["vec_id"], round(r["dist"], 6))
         for r in want.collect()}
    assert g == w


def test_local_books_beat_global_residual_adc(spark, tmp_path):
    """The LOPQ design claim, measured (Kalantidis & Avrithis CVPR'14):
    on clusters with DIFFERENT local orientations/scales, per-cell
    codebooks trained on each cell's own residuals beat one global
    residual codebook in the pure-ADC candidate stage (oversample=1,
    no rerank mask). One global book must model the union of every
    cell's residual cloud; the per-cell budget models just one.
    Fully seed-pinned → deterministic; measured 0.642 vs 0.476
    recall@10 at these settings (asserted with slack)."""
    import shutil

    import numpy as np

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )

    rng = np.random.default_rng(11)
    n_cl, per, d = 12, 200, 16
    X, centers = [], rng.normal(0, 8, size=(n_cl, d))
    for c in range(n_cl):
        # per-cluster random rotation × per-axis scales in [0.2, 3]
        A = (np.linalg.qr(rng.normal(size=(d, d)))[0]
             * rng.uniform(0.2, 3.0, size=d))
        X.append(centers[c] + rng.normal(size=(per, d)) @ A.T)
    X = np.vstack(X)
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qmat = X[:50].astype(np.float32).astype(np.float64)
    qids = np.arange(50)

    recalls = {}
    for mode, kw in (("global", {}), ("local", {"local": True}),
                     ("local_rot", {"local": True, "rotate": True,
                                    "opq_iters": 2})):
        wd = str(tmp_path / f"lopq_ab_{mode}")
        shutil.rmtree(wd, ignore_errors=True)
        idx = IVFIndex.build(df, wd, coarse_k=4, base_k=3)
        build_pq_sidecar(idx, m=4, ksub=16, seed=99, residual=True,
                         **kw)
        exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                               k=10).localCheckpoint()
        found, _ = knn_ivf_pq(idx, (qids, qmat), k=10,
                              target_recall=1.0, max_probe=10**9,
                              oversample=1)
        recalls[mode] = avg_recall(found, exact, 10)
    assert recalls["local"] >= recalls["global"] + 0.05, recalls
    assert recalls["local"] >= 0.60, recalls
    # full LOPQ: the clusters are built with per-cluster random
    # rotations × scales, exactly the anisotropy a per-cell rotation
    # exploits and per-cell books alone cannot — measured 0.714 vs
    # 0.642 at these settings (asserted with slack)
    assert recalls["local_rot"] >= recalls["local"] + 0.04, recalls
    assert recalls["local_rot"] >= 0.68, recalls


def test_api_compress_index_and_knn_hybrid_facades(spark, tmp_path):
    """api.compress_index / api.knn_hybrid: the one-stop entry to the
    sidecar family. lopq flavor → per-pid dict books + local metadata;
    knn_hybrid auto-detects the flavor and returns exact top-1 for
    self-queries at full probe; unknown flavor refused."""
    import json
    import os

    import numpy as np
    import pytest as _pytest

    from quake_vector_search_spark import api
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 500, d=16, n_clusters=6, seed=13)
    idx = api.build_index(corpus, str(tmp_path / "api_hybrid"),
                          coarse_k=4, base_k=2)
    books = api.compress_index(idx, method="lopq", m=4, ksub=16)
    assert isinstance(books, dict)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["local"] is True
    rows = corpus.where("vec_id < 4").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    found = api.knn_hybrid(idx, (qids, qmat), k=1, target_recall=1.0,
                           max_probe=10**9, oversample=40)
    got = {int(r["query_id"]): int(r["vec_id"])
           for r in found.collect()}
    assert got == {int(q): int(q) for q in qids}
    with _pytest.raises(ValueError, match="unknown method"):
        api.compress_index(idx, method="hnsw")


def test_aniso_pq_beats_plain_on_mips(spark):
    """The anisotropic rung's reason to exist, pinned: at the same
    byte budget on clustered normalized vectors, score-aware training
    + encoding yields strictly better MIPS candidate recall than plain
    PQ (measured at authoring time: 0.539 vs 0.489 at oversample 10).
    Also pins the η=1 reduction (anisotropic encode == plain argmin
    encode bit-for-bit)."""
    import numpy as np

    from quake_vector_search_spark.functions.vector import l2_batch
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        aniso_pq_train,
        pq_train,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d, m, ksub = 12000, 64, 8, 256
    emb = make_dataset(spark, n, d=d, n_clusters=50, seed=29)

    def normalize(pdf_iter):
        import pandas as pd
        for pdf in pdf_iter:
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": list(V)})

    embn = emb.mapInPandas(normalize,
                           "vec_id long, embedding array<double>")
    embn = embn.localCheckpoint()
    X = np.vstack([r["embedding"] for r in
                   embn.orderBy("vec_id").collect()])
    rng = np.random.default_rng(5)
    Q = X[rng.integers(0, n, 60)] + rng.normal(0, 0.05, (60, d))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    true = (Q @ X.T).argsort(axis=1)[:, ::-1][:, :10]

    def cand_recall(books, codes, oversample=10):
        mm, _k, dsub = books.shape
        score = np.zeros((len(Q), len(X)))
        for j in range(mm):
            lut = Q[:, j * dsub:(j + 1) * dsub] @ books[j].T
            score += lut[:, codes[:, j]]
        got = score.argsort(axis=1)[:, ::-1][:, :10 * oversample]
        return float(np.mean([len(set(a) & set(b)) / 10
                              for a, b in zip(got, true)]))

    plain_books = pq_train(embn, m=m, ksub=ksub, seed=99)
    plain_codes = _aniso_encode_local(X, plain_books, eta=1.0)
    aniso_books = aniso_pq_train(embn, m=m, ksub=ksub, eta=3.0,
                                 seed=99)
    aniso_codes = _aniso_encode_local(X, aniso_books, eta=3.0)
    r_plain = cand_recall(plain_books, plain_codes)
    r_aniso = cand_recall(aniso_books, aniso_codes)
    assert r_aniso > r_plain, (r_aniso, r_plain)

    # η=1 reduces EXACTLY to plain per-chunk argmin encoding
    dsub = d // m
    want = np.stack([np.argmin(l2_batch(X[:500, j*dsub:(j+1)*dsub],
                                        plain_books[j]), axis=1)
                     for j in range(m)], axis=1)
    got1 = _aniso_encode_local(X[:500], plain_books, eta=1.0)
    assert np.array_equal(got1, want)


def test_aniso_residual_directions_beat_directionless(spark, tmp_path):
    """The residual composition's reason to exist, pinned: encoding
    residuals with the ORIGINAL vector's direction (what the query's
    score reads) beats direction-less residual encoding at the same
    byte budget (measured at authoring time: candidate recall@50
    0.832 vs 0.629 at eta=5 on clustered unit vectors)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        build_pq_sidecar,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d = 6000, 32
    emb = make_dataset(spark, n, d=d, n_clusters=30, seed=31)
    idx = IVFIndex.build(emb, str(tmp_path / "ivf_anires_win"),
                         coarse_k=8, base_k=4, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=64, seed=5,
                             anisotropic=5.0, residual=True)
    snap = load_residual_snapshot(idx.version_dir)
    rows = (idx.read_corpus()
            .select("vec_id", "partition_id", idx.vec_col)
            .collect())
    ids = np.array([r["vec_id"] for r in rows])
    pids = np.array([r["partition_id"] for r in rows])
    X = np.vstack([r[idx.vec_col] for r in rows]).astype(np.float64)
    C = np.stack([snap[int(p)] for p in pids])
    R = X - C
    dirs = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                          1e-12)

    rng = np.random.default_rng(3)
    Q = X[rng.integers(0, n, 40)] + rng.normal(0, 0.05, (40, d))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    true = (Q @ X.T).argsort(axis=1)[:, ::-1][:, :10]

    def cand_recall(codes):
        m, _k, dsub = books.shape
        dec = np.concatenate([books[j][codes[:, j]] for j in range(m)],
                             axis=1)
        approx = C + dec
        sc = Q @ approx.T
        got = ids[sc.argsort(axis=1)[:, ::-1][:, :50]]
        tru = ids[true]
        return float(np.mean([len(set(a) & set(b)) / 10
                              for a, b in zip(got, tru)]))

    c_dir = _aniso_encode_local(R, books, 5.0, dirs=dirs)
    c_nodir = _aniso_encode_local(R, books, 1.0)   # plain argmin
    assert cand_recall(c_dir) > cand_recall(c_nodir)
    # and the sidecar's persisted codes ARE the direction-aware ones
    got = {r["vec_id"]: list(r["pq_codes"]) for r in
           spark.read.parquet(f"{idx.version_dir}/pq").collect()}
    i = int(np.where(ids == 7)[0][0])
    assert got[7] == [int(c) for c in c_dir[i]]


@settings(max_examples=30, deadline=None)
@given(n=st.integers(4, 40), m=st.sampled_from([2, 4]),
       ksub=st.integers(2, 8), eta=st.sampled_from([1.5, 3.0, 8.0]),
       seed=st.integers(0, 10_000))
def test_aniso_cd_never_increases_loss(n, m, ksub, eta, seed):
    """Property: coordinate-descent assignment monotonically improves
    (never worsens) the anisotropic loss relative to the plain-argmin
    init, for any data, codebooks, chunking, and weight — each CD
    step picks the exact per-chunk minimizer of the full objective,
    so the total can only go down."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
    )

    rng = np.random.default_rng(seed)
    d = m * 4
    X = rng.normal(size=(n, d))
    books = np.stack([rng.normal(size=(ksub, 4)) for _ in range(m)])

    def loss(codes):
        dec = np.concatenate([books[j][codes[:, j]] for j in range(m)],
                             axis=1)
        E = X - dec
        r = np.linalg.norm(X, axis=1, keepdims=True)
        Xh = X / np.maximum(r, 1e-12)
        t = (E * Xh).sum(axis=1)
        return float(((E ** 2).sum(axis=1)
                      + (eta - 1.0) * t ** 2).sum())

    init = _aniso_encode_local(X, books, 1.0)        # plain argmin
    out = _aniso_encode_local(X, books, eta)
    assert loss(out) <= loss(init) + 1e-9


def test_aniso_encode_streamed_guard():
    """The round-10 streaming guard contract (aniso_encode_streamed):
    (1) in-distribution rows whose score-aware code explains plenty of
    energy keep the PURE score-aware code bit-for-bit; (2) an
    out-of-distribution row whose score-aware code retains <5% of its
    energy falls back to the plain MSE-optimal argmin code (and that
    fallback strictly reduces reconstruction error); (3) η=1 is a
    passthrough. No Spark needed — the guard is a NumPy kernel."""
    import numpy as np

    from quake_vector_search_spark.functions.vector import l2_batch
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        aniso_encode_streamed,
    )

    rng = np.random.default_rng(17)
    m, ksub, dsub = 4, 16, 4
    d = m * dsub
    # books trained implicitly: codewords sampled from a tight cloud
    # around axis-aligned cluster centers so in-distribution points
    # are well explained
    centers = rng.normal(size=(ksub, dsub))
    books = np.stack([centers + 0.01 * rng.normal(size=(ksub, dsub))
                      for _ in range(m)])
    # in-distribution rows: exact codeword concatenations + tiny noise
    picks = rng.integers(0, ksub, size=(50, m))
    X_in = np.concatenate(
        [books[j][picks[:, j]] for j in range(m)], axis=1)
    X_in = X_in + 1e-6 * rng.normal(size=X_in.shape)
    got_in = aniso_encode_streamed(X_in, books, 3.0)
    pure_in = _aniso_encode_local(X_in, books, 3.0)
    assert np.array_equal(got_in, pure_in)

    # OOD row: craft a vector whose score-aware code explains <5% of
    # its energy by searching random directions; skip the assertion
    # if the geometry never produces one (deterministic seed → stable)
    found = False
    for _ in range(200):
        x = rng.normal(size=d)
        x /= np.linalg.norm(x)
        c = _aniso_encode_local(x[None, :], books, 25.0)
        dec = np.concatenate([books[j][c[0, j]] for j in range(m)])
        err = ((x - dec) ** 2).sum()
        if err > 0.95 * (x ** 2).sum():
            found = True
            g = aniso_encode_streamed(x[None, :], books, 25.0)[0]
            want = np.array([np.argmin(l2_batch(
                x[None, j * dsub:(j + 1) * dsub], books[j]), axis=1)[0]
                for j in range(m)])
            assert np.array_equal(g, want)
            dec_g = np.concatenate(
                [books[j][g[j]] for j in range(m)])
            assert ((x - dec_g) ** 2).sum() <= err
            break
    assert found, "no OOD row materialized — loosen the generator"

    # η=1 passthrough: guard does nothing on plain encodes
    got1 = aniso_encode_streamed(X_in[:5], books, 1.0)
    assert np.array_equal(got1, _aniso_encode_local(X_in[:5], books,
                                                    1.0))

    # min_explained=0.0 is the documented "never fall back" setting:
    # even the crafted OOD row (whose score-aware error EXCEEDS its
    # energy, so err² > (1−0)·‖x‖² would still fire) keeps the pure
    # score-aware code (ADVICE r10)
    g0 = aniso_encode_streamed(x[None, :], books, 25.0,
                               min_explained=0.0)
    assert np.array_equal(g0, c)


def test_local_sidecar_lazy_load_is_probe_proportional(spark,
                                                       tmp_path):
    """The probed-cells-only books load (round 11): the query path's
    driver memory must be proportional to the PROBED cells, never the
    index's cell count. Pins: a pids= load materializes exactly those
    cells (books AND rotations), accumulates across calls, matches
    the full load bit-for-bit, and an unrotated sidecar still reports
    rots=None through the lazy path."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        _LOCAL_SIDECAR_CACHE,
        _load_local_sidecar_cached,
        build_pq_sidecar,
        load_local_books,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 400, d=16, n_clusters=4, seed=19)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_lazy"),
                         coarse_k=2, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, residual=True,
                     local=True, rotate=True)
    pids = sorted(int(p) for p in idx.part_ids)
    _LOCAL_SIDECAR_CACHE.clear()
    b1, r1 = _load_local_sidecar_cached(idx.version_dir,
                                        pids={pids[0]})
    assert set(b1) == {pids[0]}
    assert set(r1) == {pids[0]}
    b2, r2 = _load_local_sidecar_cached(idx.version_dir,
                                        pids={pids[0], pids[1]})
    assert set(b2) == {pids[0], pids[1]}          # accumulates
    full = load_local_books(idx.version_dir)
    assert np.array_equal(b2[pids[1]], full[pids[1]])
    # full load after lazy loads still returns everything
    b3, _ = _load_local_sidecar_cached(idx.version_dir)
    assert set(b3) == set(full)
    # unrotated sidecar: lazy path must still report rots=None
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, residual=True,
                     local=True)
    _LOCAL_SIDECAR_CACHE.clear()
    b4, r4 = _load_local_sidecar_cached(idx.version_dir,
                                        pids={pids[0]})
    assert set(b4) == {pids[0]}
    assert r4 is None


def test_pq_train_distributed_parity(spark):
    """The distributed plain-PQ trainer (round 11): books trained
    with the sample kept distributed reach reconstruction parity with
    the driver trainer on the same corpus (within 20% MSE — different
    sample rule and init subsample, same Lloyd's), and both beat a
    random-codeword baseline by a wide margin."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        pq_encode_local,
        pq_train,
        pq_train_distributed,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d, m, ksub = 4_000, 16, 4, 16
    emb = make_dataset(spark, n, d=d, n_clusters=8, seed=11)
    X = np.vstack([np.asarray(r["embedding"], dtype=np.float64)
                   for r in emb.collect()])

    def mse(books):
        codes = pq_encode_local(X, books)
        dec = np.concatenate([books[j][codes[:, j]]
                              for j in range(m)], axis=1)
        return float(((X - dec) ** 2).sum(axis=1).mean())

    b_driver = pq_train(emb, m=m, ksub=ksub, seed=99)
    b_dist = pq_train_distributed(emb, m=m, ksub=ksub, seed=99)
    assert b_dist.shape == b_driver.shape
    e_driver, e_dist = mse(b_driver), mse(b_dist)
    assert e_dist <= 1.2 * e_driver, (e_dist, e_driver)
    rng = np.random.default_rng(0)
    b_rand = rng.normal(size=b_driver.shape)
    assert e_dist < 0.5 * mse(b_rand)


def test_distributed_trainers_release_sample_on_init_error(spark):
    """Both distributed trainers persist their training sample before
    the init phase. An init-phase raise (here ``d % m != 0``) must
    still unpersist it: Spark's cache manager is empty afterwards."""
    from quake_vector_search_spark.operators.quantization import (
        aniso_pq_train_distributed,
        pq_train_distributed,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 200, d=16, n_clusters=4, seed=3)
    cache = spark._jsparkSession.sharedState().cacheManager()
    for trainer in (pq_train_distributed, aniso_pq_train_distributed):
        spark.catalog.clearCache()
        with pytest.raises(ValueError, match="not divisible"):
            trainer(corpus, m=3, ksub=8, seed=5)
        assert cache.isEmpty(), trainer.__name__


@pytest.mark.slow
def test_aniso_distributed_trainer_parity(spark, tmp_path):
    """The DISTRIBUTED global aniso trainer (round 11, VERDICT r10
    #4) against the driver trainer at the same (m, ksub, η, residual)
    budget: (1) its books reach candidate-recall parity (within 0.05
    — Jacobi codeword updates vs the driver's Gauss-Seidel sweep, and
    a hash-stride sample vs top-n, both documented variants); (2) it
    beats the plain (η=1) books like the driver trainer does; (3)
    compressed search with exact rerank through its sidecar at full
    probe equals brute force exactly (rank-for-rank), so the rung is
    drop-in for the serving stack."""
    import numpy as np
    import pandas as pd

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d, m, ksub = 12_000, 64, 8, 128
    emb = make_dataset(spark, n, d=d, n_clusters=60, seed=7)

    def normalize(batches):
        for pdf in batches:
            V = np.vstack(pdf["embedding"].to_numpy()).astype(
                np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": list(V)})

    embn = emb.mapInPandas(
        normalize, "vec_id long, embedding array<double>")
    embn = embn.localCheckpoint()
    X = np.vstack([r["embedding"] for r in
                   embn.orderBy("vec_id").collect()])
    rng = np.random.default_rng(5)
    Q = X[rng.integers(0, n, 100)] + rng.normal(0, 0.05, (100, d))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    true = (Q @ X.T).argsort(axis=1)[:, ::-1][:, :10]
    idx = IVFIndex.build(embn, str(tmp_path / "ivf_adt"),
                         coarse_k=8, base_k=4, metric="cosine")

    def cand_recall(**kw):
        books = build_pq_sidecar(idx, m=m, ksub=ksub, seed=99,
                                 residual=True, **kw)
        snap = load_residual_snapshot(idx.version_dir)
        enc = (spark.read.parquet(f"{idx.version_dir}/pq")
               .orderBy("vec_id").collect())
        ids = np.array([r["vec_id"] for r in enc])
        pids = np.array([r["partition_id"] for r in enc])
        codes = np.vstack([r["pq_codes"] for r in enc])
        dec = np.concatenate(
            [books[j][codes[:, j]] for j in range(m)], axis=1)
        approx = dec + np.stack([snap[int(p)] for p in pids])
        got = ids[(Q @ approx.T).argsort(axis=1)[:, ::-1][:, :50]]
        return float(np.mean([len(set(a) & set(b)) / 10
                              for a, b in zip(got, true)]))

    r_plain = cand_recall()                          # η=1 books
    r_driver = cand_recall(anisotropic=3.0)
    r_dist = cand_recall(anisotropic=3.0, distributed_train=True)
    assert r_dist >= r_driver - 0.05, (r_dist, r_driver)
    assert r_dist > r_plain, (r_dist, r_plain)

    # fullprobe + exact rerank through the distributed-trained
    # sidecar (still on disk from the last cand_recall call) equals
    # brute force rank-for-rank
    qids = np.arange(20)
    qmat = Q[:20]
    # unit vectors: L2 ordering == cosine ordering, same tie-break
    exact = {(int(r["query_id"]), int(r["rank"])): int(r["vec_id"])
             for r in knn_bruteforce(embn, (qids, qmat),
                                     k=5).collect()}
    got, _ = knn_ivf_pq(idx, (qids, qmat), k=5, target_recall=1.0,
                        max_probe=10**9, oversample=max(16, n // 20))
    got = {(int(r["query_id"]), int(r["rank"])): int(r["vec_id"])
           for r in got.collect()}
    assert got == exact


@pytest.mark.slow
def test_aniso_lopq_beats_plain_lopq_on_cosine(spark, tmp_path):
    """The aniso × LOPQ rung's reason to exist, pinned (round 10):
    per-cell SCORE-AWARE books beat per-cell plain books at the same
    8-byte budget on clustered unit vectors — candidate recall of the
    true cosine top-10 inside the decode-approximated top-50
    (measured at authoring time: 0.893 vs 0.802 at n=12k; 0.948 vs
    0.851 at n=40k). Same cells, same seeds; the delta is purely the
    per-cell anisotropic loss."""
    import os

    import numpy as np
    import pandas as pd

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_local_books,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d, m, ksub = 12_000, 64, 8, 128
    emb = make_dataset(spark, n, d=d, n_clusters=60, seed=7)

    def normalize(batches):
        for pdf in batches:
            V = np.vstack(pdf["embedding"].to_numpy()).astype(
                np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": list(V)})

    embn = emb.mapInPandas(
        normalize, "vec_id long, embedding array<double>")
    embn = embn.localCheckpoint()
    X = np.vstack([r["embedding"] for r in
                   embn.orderBy("vec_id").collect()])
    rng = np.random.default_rng(5)
    Q = X[rng.integers(0, n, 100)] + rng.normal(0, 0.05, (100, d))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    true = (Q @ X.T).argsort(axis=1)[:, ::-1][:, :10]
    idx = IVFIndex.build(embn, str(tmp_path / "ivf_al"),
                         coarse_k=8, base_k=4, metric="cosine")

    def cand_recall(**flavor):
        from quake_vector_search_spark.operators.quantization import (
            load_local_rots,
        )
        build_pq_sidecar(idx, m=m, ksub=ksub, seed=99,
                         residual=True, local=True, **flavor)
        books = load_local_books(idx.version_dir)
        rots = (load_local_rots(idx.version_dir)
                if flavor.get("rotate") else None)
        snap = load_residual_snapshot(idx.version_dir)
        enc = (spark.read.parquet(f"{idx.version_dir}/pq")
               .orderBy("vec_id").collect())
        ids = np.array([r["vec_id"] for r in enc])
        pids = np.array([r["partition_id"] for r in enc])
        codes = np.vstack([r["pq_codes"] for r in enc])
        approx = np.empty((len(ids), d))
        for p in np.unique(pids):
            msk = pids == p
            bk = books[int(p)]
            dec = np.concatenate(
                [bk[j][codes[msk, j]] for j in range(m)], axis=1)
            if rots is not None:
                rt = rots[int(p)]
                dec = dec @ rt["components"] + rt["mean"]
            approx[msk] = dec + snap[int(p)]
        got = ids[(Q @ approx.T).argsort(axis=1)[:, ::-1][:, :50]]
        return float(np.mean([len(set(a) & set(b)) / 10
                              for a, b in zip(got, true)]))

    r_plain = cand_recall()
    r_aniso = cand_recall(anisotropic=3.0)
    assert r_aniso > r_plain, (r_aniso, r_plain)
    # the FULL per-cell composition (eigalloc rotations) beats plain
    # too (measured 0.925 vs 0.802 at authoring time)
    r_rot = cand_recall(anisotropic=3.0, rotate=True)
    assert r_rot > r_plain, (r_rot, r_plain)


def test_aniso_opq_refine_reduces_to_plain_at_eta_one():
    """``aniso_opq_refine_local`` at η=1 IS iterative OPQ: the
    score-aware books trainer returns plain Lloyd's books, coordinate
    descent returns the plain per-chunk argmin, and the MM-Procrustes
    surrogate collapses to the classic SVD update (u = 0, M = ŶᵀZ) —
    so the refined rotation and books must equal
    ``opq_refine_local``'s bit for bit given the same seed."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        aniso_opq_refine_local,
        opq_refine_local,
    )

    rng = np.random.RandomState(23)
    Z = rng.randn(1500, 4)
    A = rng.randn(4, 16)
    X = Z @ A + 0.05 * rng.randn(1500, 16)

    # opq_refine_local runs ONE Procrustes update per alternation and
    # retrains with kmeans_iters=4 by default; mirror both knobs
    plain = opq_refine_local(X, m=4, ksub=32, opq_iters=4,
                             kmeans_iters=4, seed=7)
    aniso = aniso_opq_refine_local(X, None, m=4, ksub=32, eta=1.0,
                                   opq_iters=4, kmeans_iters=4,
                                   mm_steps=1, seed=7)
    # allclose, not equal: the plain path takes the SVD of ZᵀŶ and
    # transposes, this path the SVD of ŶᵀZ — same rotation up to
    # ~1e-11 float noise
    np.testing.assert_allclose(aniso["components"],
                               plain["components"], atol=1e-8)
    np.testing.assert_allclose(aniso["books"], plain["books"],
                               atol=1e-8)
    # at η=1 the anisotropic loss IS the reconstruction MSE
    np.testing.assert_allclose(aniso["best_loss"],
                               plain["best_error"], rtol=1e-7)


def test_aniso_opq_mm_procrustes_step_descends():
    """The MM rotation update must monotonically non-increase the
    anisotropic loss for FIXED codes and books — the property the
    majorize-minimize derivation guarantees and the reason the
    alternation is sound. Checked step by step from a random
    orthogonal start, η=5."""
    import numpy as np

    rng = np.random.RandomState(5)
    n, d, eta = 800, 16, 5.0
    X = rng.randn(n, d)
    Xh = X / np.linalg.norm(X, axis=1, keepdims=True)
    Z = X - X.mean(axis=0)
    Yhat = Z + 0.3 * rng.randn(n, d)      # any fixed reconstruction
    q, _ = np.linalg.qr(rng.randn(d, d))
    R = q                                  # random orthogonal start

    def loss(R_):
        E = Z - Yhat @ R_
        t = (E * Xh).sum(axis=1)
        return float(((E ** 2).sum() + (eta - 1.0) * (t ** 2).sum())
                     / n)

    prev = loss(R)
    for _ in range(6):
        E0 = Z - Yhat @ R
        U_mat = (eta - 1.0) * (
            E0 - (E0 * Xh).sum(axis=1, keepdims=True) * Xh)
        M = Yhat.T @ (eta * Z - U_mat)
        Us, _s, Vt = np.linalg.svd(M)
        R = Us @ Vt
        cur = loss(R)
        assert cur <= prev + 1e-9, (cur, prev)
        prev = cur
    np.testing.assert_allclose(R @ R.T, np.eye(d), atol=1e-8)


def test_aniso_opq_refine_beats_eigalloc_init():
    """The refined configuration can only match or beat the
    eigenvalue-allocation init — which is exactly what the
    non-iterative ``rotate=True, anisotropic=η`` flavor ships — on
    the ORIGINAL-SPACE anisotropic loss. On clustered unit vectors
    (the realistic cosine-ANN corpus, where the score-parallel
    directions have structure the weighting can exploit) the
    alternation must make a measurable cut; gains are data-dependent
    and modest by nature (like iterative OPQ's own), so the threshold
    is the measured ~1.4% at this seed, asserted at 1%.
    Deterministic for a given seed."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        aniso_opq_refine_local,
    )

    rng = np.random.RandomState(3)
    k, d, n = 8, 16, 3000
    cents = rng.randn(k, d)
    X = cents[rng.randint(0, k, n)] + 0.3 * rng.randn(n, d)
    X /= np.linalg.norm(X, axis=1, keepdims=True)   # cosine corpus

    out = aniso_opq_refine_local(X, None, m=4, ksub=32, eta=4.0,
                                 opq_iters=6, mm_steps=3, seed=7)
    R = out["components"]
    np.testing.assert_allclose(R @ R.T, np.eye(16), atol=1e-8)
    assert out["best_loss"] == min(out["losses"])
    # losses[0] is the eigalloc init's loss (the production
    # non-iterative composition); the alternation must cut it
    assert out["best_loss"] < 0.99 * out["losses"][0], out["losses"]
    # determinism
    again = aniso_opq_refine_local(X, None, m=4, ksub=32, eta=4.0,
                                   opq_iters=6, mm_steps=3, seed=7)
    np.testing.assert_array_equal(again["components"], R)
    np.testing.assert_array_equal(again["books"], out["books"])


def test_aniso_opq_refine_rejects_eta_below_one():
    """ADVICE r13 #2: the MM-Procrustes surrogate is an upper bound
    only because ηI − Wᵢ = (η−1)(I − x̂x̂ᵀ) ⪰ 0 — with η < 1 the
    inequality flips and the "descent" step can ascend, so the
    trainer refuses up front instead of silently degrading to
    whatever the best-loss tracking salvages. η = 1 (plain OPQ, the
    boundary case) stays accepted."""
    import numpy as np
    import pytest as _pytest

    from quake_vector_search_spark.operators.quantization import (
        aniso_opq_refine_local,
    )

    rng = np.random.RandomState(5)
    X = rng.randn(200, 8)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    for bad in (0.99, 0.5, 0.0):
        with _pytest.raises(ValueError, match="eta >= 1"):
            aniso_opq_refine_local(X, None, m=2, ksub=8, eta=bad,
                                   opq_iters=1, seed=3)
    out = aniso_opq_refine_local(X, None, m=2, ksub=8, eta=1.0,
                                 opq_iters=1, seed=3)
    assert out["best_loss"] == min(out["losses"])


def test_api_compress_index_aniso_flavor_names(spark, tmp_path):
    """The facade names every aniso composition (round 13: the
    round-9/10 rungs and the score-aware iterative-OPQ flavor were
    reachable only via raw kwargs): aniso_opq_ivfadc with
    opq_iters=2 builds the jointly refined rotation, records the
    knob, and serves exact self-queries at full probe."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark import api
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 500, d=16, n_clusters=6, seed=13)
    idx = api.build_index(corpus, str(tmp_path / "api_aopq"),
                          coarse_k=4, base_k=2, metric="cosine")
    api.compress_index(idx, method="aniso_opq_ivfadc", m=4, ksub=16,
                       opq_iters=2)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta["anisotropic"] == 3.0 and meta["rotate"]
    assert meta["opq_iters"] == 2
    assert os.path.exists(os.path.join(idx.version_dir,
                                       "pq_rotation.npz"))
    rows = corpus.where("vec_id < 4").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    found = api.knn_hybrid(idx, (qids, qmat), k=1, target_recall=1.0,
                           max_probe=10**9, oversample=40)
    got = {int(r["query_id"]): int(r["vec_id"])
           for r in found.collect()}
    assert got == {int(q): int(q) for q in qids}


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 10_000),
       eta=st.floats(min_value=1.0, max_value=20.0),
       d=st.sampled_from([8, 16]))
def test_aniso_mm_procrustes_descends_property(seed, eta, d):
    """Property form of the MM-Procrustes guarantee (round 13): for
    ANY data, direction set, fixed reconstruction, random orthogonal
    start and any η ≥ 1, each majorize-minimize rotation update is
    non-increasing in the anisotropic loss and stays orthogonal —
    the derivation's claim, not just one seed's instance."""
    rng = np.random.default_rng(seed)
    n = 60
    X = rng.normal(size=(n, d))
    Xh = X / np.linalg.norm(X, axis=1, keepdims=True)
    Z = X - X.mean(axis=0)
    Yhat = Z + 0.5 * rng.normal(size=(n, d))
    q, _ = np.linalg.qr(rng.normal(size=(d, d)))
    R = q

    def loss(R_):
        E = Z - Yhat @ R_
        t = (E * Xh).sum(axis=1)
        return float(((E ** 2).sum()
                      + (eta - 1.0) * (t ** 2).sum()) / n)

    prev = loss(R)
    for _ in range(4):
        E0 = Z - Yhat @ R
        U_mat = (eta - 1.0) * (
            E0 - (E0 * Xh).sum(axis=1, keepdims=True) * Xh)
        M = Yhat.T @ (eta * Z - U_mat)
        Us, _s, Vt = np.linalg.svd(M)
        R = Us @ Vt
        cur = loss(R)
        assert cur <= prev + 1e-8 * max(1.0, prev), (cur, prev)
        prev = cur
    np.testing.assert_allclose(R @ R.T, np.eye(d), atol=1e-8)


def test_aniso_opq_eta_refused_at_build_call_site(spark, tmp_path):
    """ADVICE r14 low: the eta >= 1 refusal for the anisotropic ×
    rotate × opq_iters composition fires on the DRIVER in
    build_pq_sidecar — with local=True the trainer-level guard sits
    inside per-cell grouped-map executor tasks, so without the
    driver twin the refusal surfaced as a mid-job worker
    PythonException instead of a call-site ValueError."""
    import pytest as _pytest

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 300, d=16, n_clusters=4, seed=41)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_eta_gate"),
                         coarse_k=2, base_k=2, metric="cosine")
    for local in (True, False):
        with _pytest.raises(ValueError, match="eta.*>= 1"):
            build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             local=local, rotate=True, opq_iters=1,
                             anisotropic=0.5)
    # eta = 1 (the boundary) stays accepted end-to-end
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, local=True,
                     rotate=True, opq_iters=1, anisotropic=1.0)


def test_sq4_sidecar_grid_and_payload_guard(spark, tmp_path):
    """SQ4 (round 15, VERDICT r14 #7): the scalar quantizer
    generalizes to a 16-level grid through the per-dim scale alone —
    codes clip at 15, the params persist their grid width, and
    streamed appends encode on the same grid. The ivf_sq4 facade
    flavor maps to sq8=True + sq_bits=4."""
    import numpy as np
    import pytest as _pytest

    from quake_vector_search_spark import api
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_sq8_params,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        _append_pq_codes,
    )

    corpus = make_dataset(spark, 400, d=16, n_clusters=4, seed=47)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_sq4"),
                         coarse_k=3, base_k=2)
    params = api.compress_index(idx, method="ivf_sq4")
    assert int(params["levels"]) == 16
    roundtrip = load_sq8_params(idx.version_dir)
    assert int(roundtrip["levels"]) == 16
    codes = spark.read.parquet(f"{idx.version_dir}/pq")
    import pyspark.sql.functions as F
    mx = codes.select(F.max(F.array_max("pq_codes"))).first()[0]
    mn = codes.select(F.min(F.array_min("pq_codes"))).first()[0]
    assert 0 <= mn and mx <= 15, (mn, mx)
    # streamed append encodes on the SAME 16-level grid
    rng = np.random.default_rng(49)
    new_ids = np.array([77_000, 77_001], dtype=np.int64)
    new_vecs = rng.normal(size=(2, 16))
    pids = idx.insert(new_ids, new_vecs)
    _append_pq_codes(idx, new_ids, new_vecs, pids, {})
    appended = (spark.read.parquet(f"{idx.version_dir}/pq")
                .where("vec_id >= 77000"))
    assert appended.count() == 2
    amx = appended.select(F.max(F.array_max("pq_codes"))).first()[0]
    assert amx <= 15, amx
    # sq_bits outside {4, 8} refused at the call site
    with _pytest.raises(ValueError, match="sq_bits"):
        build_pq_sidecar(idx, sq8=True, sq_bits=6)


def test_sq4_drift_retrain_keeps_its_grid(spark, tmp_path):
    """Round 15 review finding: refresh_pq_sidecar(force_retrain=
    True) rebuilds from the previous pq_meta.json — without passing
    sq_bits through, a drift-retrained SQ4 sidecar silently refit at
    256 levels (the sq_bits=8 default) and doubled its scan bytes
    forever after. The retrain must refit on ITS grid."""
    import json

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_sq8_params,
        refresh_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 300, d=16, n_clusters=4, seed=109)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_sq4_refresh"),
                         coarse_k=2, base_k=2)
    build_pq_sidecar(idx, sq8=True, sq_bits=4)
    assert int(load_sq8_params(idx.version_dir)["levels"]) == 16
    # simulate the maintenance republish: bump the version dir the
    # way maintain() does, then force the drift retrain
    import os
    import shutil

    new_dir = os.path.join(idx.workdir, f"v{idx.version + 1:04d}")
    shutil.copytree(idx.version_dir, new_dir)
    idx.version += 1
    idx.invalidate_corpus()
    assert refresh_pq_sidecar(idx, force_retrain=True)
    params = load_sq8_params(idx.version_dir)
    assert int(params["levels"]) == 16, params["levels"]
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        meta = json.load(fh)
    assert meta.get("sq_bits") == 4, meta
    import pyspark.sql.functions as F
    mx = (spark.read.parquet(f"{idx.version_dir}/pq")
          .select(F.max(F.array_max("pq_codes"))).first()[0])
    assert mx <= 15, mx


# ------------------- round-16 optimization exactness pins
# The r16 optimization round rewrote the hot driver-side kernels for
# speed under a STRICT bit-identity contract (declared query results
# must not move). These tests pin each rewrite against a
# straightforward reference implementation of the ORIGINAL expression.


def test_l2_batch_inplace_matches_reference_expression():
    # l2_batch now builds (x2+y2) − (2·xy) on two buffers in place; the
    # per-element IEEE expression must equal the original
    # x2 + y2 - 2.0*(x@y.T) clamped at 0, bitwise.
    rng = np.random.default_rng(7)
    for n, d, k in ((1000, 8, 256), (37, 64, 5), (3, 4, 2)):
        x = rng.normal(size=(n, d))
        y = rng.normal(size=(k, d))
        x2 = (x * x).sum(axis=1)[:, None]
        y2 = (y * y).sum(axis=1)[None, :]
        ref = x2 + y2 - 2.0 * (x @ y.T)
        np.maximum(ref, 0.0, out=ref)
        assert np.array_equal(l2_batch(x, y), ref)


def test_local_kmeans_grouped_means_match_masked_reference():
    # local_kmeans now computes per-cluster means via one stable
    # argsort (grouped slices) instead of k boolean masks; centroids,
    # assignment, AND the rng consumption order for empty-cluster
    # reseeds must be bit-identical to the original loop.
    from quake_vector_search_spark.operators.kmeans import local_kmeans

    def reference(vecs, k, iters, seed):
        vecs = np.asarray(vecs, dtype=np.float64)
        n = vecs.shape[0]
        rng = np.random.default_rng(seed)
        k = min(k, n)
        cents = vecs[rng.choice(n, size=k, replace=False)].copy()
        for _ in range(iters):
            assign = np.argmin(l2_batch(vecs, cents), axis=1)
            for c in range(k):
                members = vecs[assign == c]
                if len(members) > 0:
                    cents[c] = members.mean(axis=0)
                else:
                    cents[c] = vecs[rng.integers(0, n)]
        assign = np.argmin(l2_batch(vecs, cents), axis=1)
        return cents, assign

    rng = np.random.default_rng(11)
    # k > observed clusters forces the empty-cluster reseed path
    for n, d, k, iters, seed in ((2000, 8, 256, 6, 17),
                                 (400, 4, 64, 5, 123),
                                 (50, 2, 8, 4, 3)):
        vecs = np.round(rng.normal(size=(n, d)), 1)
        c0, a0 = reference(vecs, k, iters, seed)
        c1, a1 = local_kmeans(vecs, k, iters, seed)
        assert np.array_equal(c0, c1)
        assert np.array_equal(a0, a1)


def test_aniso_encode_inplace_loss_matches_reference():
    # _aniso_encode_local now assembles the coordinate-descent loss in
    # place on two [n, ksub] buffers; codes must match the original
    # temporaries-per-term form bitwise.
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
    )

    def reference(X, books, eta, passes=2, dirs=None):
        m, ksub, dsub = books.shape
        Xh = dirs if dirs is not None else (
            X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                           1e-12))
        codes = np.empty((X.shape[0], m), dtype=np.int64)
        for j in range(m):
            Xj = X[:, j * dsub:(j + 1) * dsub]
            codes[:, j] = np.argmin(l2_batch(Xj, books[j]), axis=1)
        if eta == 1.0:
            return codes
        dec = np.concatenate([books[j][codes[:, j]] for j in range(m)],
                             axis=1)
        E = X - dec
        t = (E * Xh).sum(axis=1)
        e2 = (E ** 2).sum(axis=1)
        for _ in range(passes):
            for j in range(m):
                Xj = X[:, j * dsub:(j + 1) * dsub]
                Xhj = Xh[:, j * dsub:(j + 1) * dsub]
                C = books[j]
                cur = C[codes[:, j]]
                ej = Xj - cur
                e2_other = e2 - (ej ** 2).sum(axis=1)
                t_other = t - (ej * Xhj).sum(axis=1)
                Dj = l2_batch(Xj, C)
                Sj = (Xj * Xhj).sum(axis=1)[:, None] - Xhj @ C.T
                loss = (e2_other[:, None] + Dj
                        + (eta - 1.0) * (t_other[:, None] + Sj) ** 2)
                new = loss.argmin(axis=1)
                ej_new = Xj - C[new]
                e2 = e2_other + (ej_new ** 2).sum(axis=1)
                t = t_other + (ej_new * Xhj).sum(axis=1)
                codes[:, j] = new
        return codes

    rng = np.random.default_rng(23)
    X = rng.normal(size=(500, 32))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    books = rng.normal(size=(4, 64, 8))
    for eta in (1.0, 3.0):
        assert np.array_equal(reference(X, books, eta),
                              _aniso_encode_local(X, books, eta))
    dirs = rng.normal(size=(500, 32))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    assert np.array_equal(reference(X, books, 3.0, dirs=dirs),
                          _aniso_encode_local(X, books, 3.0, dirs=dirs))


def test_l2_argmin_matches_unfused_form():
    # l2_argmin fuses the x²+y²−2xy assembly + argmin over row tiles
    # (the dgemm stays monolithic); the result must be bit-equal to
    # np.argmin(l2_batch(x, y), axis=1) — including tie resolution
    # (smallest index wins) and the odd-size final tile — serial AND
    # threaded (tiles are disjoint, ops per-element).
    from quake_vector_search_spark.functions.vector import l2_argmin

    rng = np.random.default_rng(31)
    for n, d, k in ((10000, 8, 256), (2049, 16, 300), (123, 8, 7),
                    (1, 4, 5)):
        x = rng.normal(size=(n, d))
        y = rng.normal(size=(k, d))
        ref = np.argmin(l2_batch(x, y), axis=1)
        assert np.array_equal(ref, l2_argmin(x, y))
        assert np.array_equal(ref, l2_argmin(x, y, tile=1000))
        assert np.array_equal(ref, l2_argmin(x, y, tile=1000,
                                             threads=4))
    # ties: coarsely quantized values collide exactly
    x = np.round(rng.normal(size=(5000, 4)) * 2) / 2
    y = np.round(rng.normal(size=(64, 4)) * 2) / 2
    assert np.array_equal(np.argmin(l2_batch(x, y), axis=1),
                          l2_argmin(x, y))
    # empty input
    assert l2_argmin(np.empty((0, 4)), y[:4]).shape == (0,)


def test_l2_argmin_nested_call_keeps_outer_scratch(monkeypatch):
    # a nested l2_argmin on the same thread, made while the outer call
    # holds its per-thread scratch (here: when the outer call asks for
    # its tile buffer, after its dgemm filled the xy buffer), must
    # leave the outer result intact and return its own correct argmin
    from quake_vector_search_spark.functions import vector

    rng = np.random.default_rng(41)
    x1, x2 = rng.normal(size=(2, 300, 8))
    y = rng.normal(size=(40, 8))
    want1 = vector.l2_argmin(x1, y, tile=64)
    want2 = vector.l2_argmin(x2, y, tile=64)
    assert not np.array_equal(want1, want2)
    real = vector._scratch_buf
    nested = []

    def scratch(key, shape):
        buf = real(key, shape)
        if key == "l2_argmin_t0" and not nested:
            nested.append(None)
            nested[0] = vector.l2_argmin(x2, y, tile=64)
        return buf

    monkeypatch.setattr(vector, "_scratch_buf", scratch)
    got1 = vector.l2_argmin(x1, y, tile=64)
    assert np.array_equal(nested[0], want2)
    assert np.array_equal(got1, want1)
    assert np.array_equal(got1, np.argmin(l2_batch(x1, y), axis=1))


def test_aniso_encode_threads_bit_identical():
    # the threaded tile fan-out of the coordinate-descent loss
    # assembly must be bit-identical to the serial form in any
    # interleaving (disjoint rows, per-element ops; dgemms monolithic)
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
    )

    rng = np.random.default_rng(37)
    X = rng.normal(size=(9000, 32))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    books = rng.normal(size=(4, 64, 8))
    for eta in (3.0, 5.0):
        ref = _aniso_encode_local(X, books, eta, threads=1)
        assert np.array_equal(ref, _aniso_encode_local(X, books, eta,
                                                       threads=8))


def test_train_subspace_books_parallel_equals_serial():
    # ADVICE r16 #4: the parallel==serial bit-identity claim of the
    # threaded per-chunk fits, pinned (each fit runs byte-identical
    # code on disjoint columns with disjoint seeds)
    from quake_vector_search_spark.operators.kmeans import (
        train_subspace_books,
    )

    rng = np.random.default_rng(41)
    X = rng.normal(size=(3000, 32))
    par = train_subspace_books(X, 4, 64, 5, 99, parallel=True)
    ser = train_subspace_books(X, 4, 64, 5, 99, parallel=False)
    assert np.array_equal(par, ser)


def test_group_slices_empty_labels():
    # ADVICE r16 #1: empty labels must behave like the no-op loops the
    # grouping replaced, not IndexError
    from quake_vector_search_spark.operators.kmeans import _group_slices

    idx, starts, ends, uniq = _group_slices(np.empty(0, dtype=np.int64))
    assert idx.size == starts.size == ends.size == uniq.size == 0
