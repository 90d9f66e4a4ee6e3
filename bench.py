"""Benchmark harness: headline queries + the reference's IVF workload
replay at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE SLIM JSON line (~2 KB — round 17, VERDICT r16 #3: a fat
line blinded the driver's round-over-round parse):
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>}

Every nested block ("ivf", "aniso_mips_n40k", ladders, telemetry…)
lands ONLY in the committed bench_results_*.json record. The "ivf"
block there mirrors BASELINE.md's metric set (build time, partition
count, per-query latency percentiles, avg nprobe, avg vectors scanned,
avg recall@10) so rounds are directly comparable to the reference's
captured run. Queries are executed with a no-op sink so the full plan
runs (a bare count() would let Catalyst prune the work).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q_star_join_revenue",
    "q_window_running",
    "q_topn_per_group",
    "q_set_ops",
    "q_json_extract",
    "q_stats",
    "ts_sessionization",
    "ts_sliding_1h_30m",
    "text_quality_score",
    "text_token_stats",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_exact",
    "knn_brute_l2",
    "knn_cosine",
    "knn_filtered",
    "mm_extract_features",
    "q3_shipping_priority",
    "q10_returned_items",
    "q6_forecast_revenue",
    "q8_market_share",
    "q13_customer_order_distribution",
    "q21_waiting_supplier",
    "ts_multi_rollup",
    "text_kgram_fingerprints",
    "emb_label_centroids",
    "ts_funnel",
    "q_skew_salted_agg",
    "text_tfidf",
    # round-5 additions (headline_total therefore not comparable to r4;
    # compare per-query times across rounds, per BENCH_NOTES)
    "text_repetition",
    "text_bigram_lm",
    "text_decontaminate",
    "q_bloom_prefilter_join",
    "emb_knn_graph",
    "knn_bq_rerank",
    "dedup_embedding_clusters",
    "q_training_corpus_pipeline",
    "sparse_bm25_topk",
    "hybrid_rrf_topk",
    # round-5 continuation additions
    "text_pii_redact",
    "text_dup_spans",
    "text_quality_classifier",
    "q_heavy_hitters",
    "q_shard_export",
    # round-5 third-session additions
    "text_bpe_merges",
    "text_bpe_encode",
    "emb_pca_whiten",
    "q_grouped_ols",
    "text_semantic_search",
    "ivf_search_filtered_fullprobe",
    "text_mmr_rerank",
    "text_prf_search",
    # round-7 late additions: the persisted CDC indexes' build+query
    # loops (each row builds its index fresh, so the timing covers
    # the whole tokenize/signature pass + the batch query)
    "dedup_lsh_index_incremental",
    "sparse_bm25_index_topk",
]

N_WORKLOAD_QUERIES = 200
QUERY_BATCH = 50          # the Spark-idiomatic unit: one job per batch
K = 10

def run_df(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def ivf_workload(spark, sf_dir: str) -> dict:
    """Reference run_demo replay (ipynb c2:31-98) on the testdata
    embeddings table at $SPARK_GRAFT_SF_DIR scale."""
    from quake_vector_search_spark.sources import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    return _replay(spark, emb, "/tmp/qvss_bench_ivf",
                   n_queries=N_WORKLOAD_QUERIES, batch=QUERY_BATCH,
                   n_ins=10, n_del=10, maintain_every=2, curve=True)


def ivf_workload_n40k(spark) -> dict:
    """Apples-to-apples with BASELINE.md: the reference's EXACT demo
    config — n=40,000, d=64, 60 Gaussian clusters (seed 7), 500
    Zipf(1.1) queries, k=10, target_recall=0.9, 10 ins + 10 del every
    20 queries (= 25+25 per 50-batch), maintain() every 50 queries
    (= every batch). Reference numbers: build 0.54 s, avg query
    14.20 ms, recall 0.968, 64 partitions (ipynb cell-3)."""
    from quake_vector_search_spark.operators.workload import make_dataset
    emb = make_dataset(spark, 40_000, d=64, n_clusters=60, seed=7)
    return _replay(spark, emb, "/tmp/qvss_bench_ivf40k",
                   n_queries=500, batch=QUERY_BATCH,
                   n_ins=25, n_del=25, maintain_every=1, curve=False)


def aniso_mips_n40k(spark) -> dict:
    """Anisotropic (score-aware) PQ vs plain PQ for MIPS retrieval at
    8 bytes/vector (round 8): candidate recall of the true dot-product
    top-10 inside the ADC top-(10·oversample) on a 40k clustered
    NORMALIZED corpus — the operating number the rerank stage
    actually depends on. Same books budget both rungs; the delta is
    purely the score-aware loss."""
    import numpy as np
    import pandas as pd

    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        aniso_pq_encode,
        aniso_pq_train,
        pq_train,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d, m, ksub = 40_000, 64, 8, 256
    emb = make_dataset(spark, n, d=d, n_clusters=60, seed=7)

    def normalize(batches):
        for pdf in batches:
            V = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "embedding": list(V)})

    embn = emb.mapInPandas(normalize,
                           "vec_id long, embedding array<double>")
    embn = embn.localCheckpoint()
    # Arrow-path collect (same sorted plan, same float64 values; the
    # row path pays per-row pickle for 40k×64 doubles)
    X = np.vstack(embn.orderBy("vec_id").toPandas()["embedding"]
                  .to_numpy())
    rng = np.random.default_rng(5)
    Q = X[rng.integers(0, n, 100)] + rng.normal(0, 0.05, (100, d))
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    true = (Q @ X.T).argsort(axis=1)[:, ::-1][:, :10]

    def eval_rung(books, eta):
        t0 = time.time()
        enc = aniso_pq_encode(embn, books, eta=eta).toPandas()
        enc_s = time.time() - t0
        ids = enc["vec_id"].to_numpy()
        order = np.argsort(ids)
        codes = np.vstack(enc["pq_codes"].to_numpy()[order])
        score = np.zeros((len(Q), n))
        dsub = d // m
        for j in range(m):
            lut = Q[:, j * dsub:(j + 1) * dsub] @ books[j].T
            score += lut[:, codes[:, j]]
        got = score.argsort(axis=1)[:, ::-1]
        out = {}
        for ov in (5, 10):
            out[f"cand_recall_at_{10*ov}"] = round(float(np.mean(
                [len(set(a[:10*ov]) & set(b)) / 10
                 for a, b in zip(got, true)])), 4)
        out["encode_s"] = round(enc_s, 3)
        return out

    t0 = time.time()
    books_p = pq_train(embn, m=m, ksub=ksub, seed=99)
    plain_train_s = time.time() - t0
    t0 = time.time()
    books_a = aniso_pq_train(embn, m=m, ksub=ksub, eta=3.0, seed=99)
    aniso_train_s = time.time() - t0

    # RESIDUAL composition at the same byte budget: IVFADC codes with
    # score-aware directions (normalize(r + c_p)) vs direction-less
    # residual codes, both through the real sidecar path on a cosine
    # index — the rung the engine actually serves compressed cosine
    # search with. Candidate metric: true dot top-10 inside the
    # decode-approximated top-(10·oversample), fullprobe (no APS
    # pruning noise in the measurement).
    import shutil as _sh

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_residual_snapshot,
    )

    wd = "/tmp/qvss_bench_anisores"
    _sh.rmtree(wd, ignore_errors=True)
    idx = IVFIndex.build(embn, wd, coarse_k=16, base_k=8,
                         metric="cosine")
    res_out = {}
    for label, kwargs in (("plain_residual", {"residual": True}),
                          ("aniso_residual",
                           {"anisotropic": 3.0, "residual": True}),
                          # round 11 (VERDICT r10 #4): the same rung
                          # with the DISTRIBUTED trainer — the sample
                          # never collects to the driver; quality
                          # should track aniso_residual (Jacobi vs
                          # Gauss-Seidel updates, same loss)
                          ("aniso_residual_distributed",
                           {"anisotropic": 3.0, "residual": True,
                            "distributed_train": True}),
                          # round 13: global score-aware ITERATIVE
                          # OPQ (aniso_opq_refine_local — the MM-
                          # Procrustes alternation); the delta vs
                          # aniso_residual is what the jointly
                          # refined rotation buys at the same bytes
                          ("aniso_opq_rotated",
                           {"anisotropic": 3.0, "residual": True,
                            "rotate": True, "opq_iters": 2}),
                          # round 10: the per-cell score-aware rungs
                          # — measured ladder top for cosine serving
                          ("aniso_lopq",
                           {"anisotropic": 3.0, "residual": True,
                            "local": True}),
                          ("aniso_lopq_rotated",
                           {"anisotropic": 3.0, "residual": True,
                            "local": True, "rotate": True})):
        t0 = time.time()
        books_r = build_pq_sidecar(idx, m=m, ksub=ksub, seed=99,
                                   **kwargs)
        build_s = time.time() - t0
        snap = load_residual_snapshot(idx.version_dir)
        enc = (idx.spark.read.parquet(f"{idx.version_dir}/pq")
               .orderBy("vec_id").toPandas())
        ids_r = enc["vec_id"].to_numpy()
        pids_r = enc["partition_id"].to_numpy()
        codes_r = np.vstack(enc["pq_codes"].to_numpy())
        dsub = d // m
        if isinstance(books_r, dict):
            # per-cell (LOPQ) books: decode each row against ITS
            # partition's codebooks (and back through its rotation)
            from quake_vector_search_spark.operators.quantization import (  # noqa: E501
                load_local_rots,
            )
            rots_r = (load_local_rots(idx.version_dir)
                      if kwargs.get("rotate") else None)
            dec = np.empty((len(ids_r), d))
            for p in np.unique(pids_r):
                msk = pids_r == p
                bk = books_r[int(p)]
                dp = np.concatenate(
                    [bk[j][codes_r[msk, j]] for j in range(m)],
                    axis=1)
                if rots_r is not None:
                    rt = rots_r[int(p)]
                    dp = dp @ rt["components"] + rt["mean"]
                dec[msk] = dp
        else:
            dec = np.concatenate([books_r[j][codes_r[:, j]]
                                  for j in range(m)], axis=1)
            if kwargs.get("rotate"):
                # global rotated sidecar: codes live in the rotated
                # residual space — decode back through the rotation
                # (same transport as the per-cell branch above)
                rz = np.load(f"{idx.version_dir}/pq_rotation.npz")
                dec = dec @ rz["components"] + rz["mean"]
        approx = np.stack([snap[int(p)] for p in pids_r]) + dec
        score = Q @ approx.T
        got_ids = ids_r[score.argsort(axis=1)[:, ::-1]]
        # ids_r order == vec_id order == X row order (orderBy above)
        tru = ids_r[true] if (ids_r == np.arange(n)).all() else \
            np.array([[ids_r[j] for j in row] for row in true])
        entry = {"sidecar_build_s": round(build_s, 3)}
        for ov in (5, 10):
            entry[f"cand_recall_at_{10*ov}"] = round(float(np.mean(
                [len(set(a[:10*ov]) & set(b)) / 10
                 for a, b in zip(got_ids, tru)])), 4)
        res_out[label] = entry

    # STREAMED-OOD staleness cost (round 10, VERDICT r9 #8): the
    # aniso_residual sidecar (still current in wd) receives 50
    # freshly-streamed OUT-OF-DISTRIBUTION vectors through the real
    # micro-batch path — insert + the GUARDED streamed encoder
    # (aniso_encode_streamed falls back to the plain MSE code when
    # the score-aware code retains <5% of residual energy) — then the
    # sidecar is REBUILT (re-trained including them). Metric: each
    # streamed vector queries for ITSELF; hit = own id inside the ADC
    # candidate top-50, i.e. would the exact rerank even see it. The
    # streamed−rebuilt gap is the price of serving fresh vectors from
    # stale books, now a number instead of a comment.
    from quake_vector_search_spark.streaming.ingest import (
        _append_pq_codes,
    )

    # the ladder loop leaves the aniso_lopq_rotated sidecar current
    # (round 10) — restore the GLOBAL aniso-residual flavor this
    # measurement is about before streaming into it
    build_pq_sidecar(idx, m=m, ksub=ksub, seed=99,
                     anisotropic=3.0, residual=True)
    rng_o = np.random.default_rng(44)
    n_ood = 50
    Vo = rng_o.normal(size=(n_ood, d))
    Vo = Vo / np.linalg.norm(Vo, axis=1, keepdims=True)
    ood_ids = np.arange(9_000_000, 9_000_000 + n_ood)
    pids_o = idx.insert(ood_ids, Vo)
    _append_pq_codes(idx, ood_ids, Vo, pids_o, {})

    def own_hit_rate(books_x):
        snap_x = load_residual_snapshot(idx.version_dir)
        enc_x = (idx.spark.read.parquet(f"{idx.version_dir}/pq")
                 .orderBy("vec_id").toPandas())
        ids_x = enc_x["vec_id"].to_numpy()
        pids_x = enc_x["partition_id"].to_numpy()
        codes_x = np.vstack(enc_x["pq_codes"].to_numpy())
        dec_x = np.concatenate([books_x[j][codes_x[:, j]]
                                for j in range(m)], axis=1)
        approx_x = np.stack([snap_x[int(p)] for p in pids_x]) + dec_x
        sc = Vo @ approx_x.T
        cand = ids_x[sc.argsort(axis=1)[:, ::-1][:, :50]]
        return round(float(np.mean(
            [oid in set(row) for oid, row in zip(ood_ids, cand)])), 4)

    streamed_hit = own_hit_rate(
        np.load(f"{idx.version_dir}/pq_codebooks.npy"))
    t0 = time.time()
    # the corpus now includes the streamed OOD rows — the whole
    # point is retraining ON them
    books_rb = build_pq_sidecar(idx, m=m, ksub=ksub, seed=99,
                                anisotropic=3.0, residual=True)
    rebuild_s = time.time() - t0
    rebuilt_hit = own_hit_rate(books_rb)
    res_out["streamed_ood"] = {
        "n_streamed": n_ood, "cand_k": 50,
        "own_in_cand_streamed": streamed_hit,
        "own_in_cand_rebuilt": rebuilt_hit,
        "rebuild_s": round(rebuild_s, 3),
    }
    _sh.rmtree(wd, ignore_errors=True)

    return {
        "n_corpus": n, "bytes_per_vector": m,
        "plain": {"train_s": round(plain_train_s, 3),
                  **eval_rung(books_p, 1.0)},
        "anisotropic_eta3": {"train_s": round(aniso_train_s, 3),
                             **eval_rung(books_a, 3.0)},
        **res_out,
    }


def ivf_calibrated_n40k(spark) -> dict:
    """Calibrated APS on the reference's n40k clustered corpus (round
    6, VERDICT r5 #3): a finer 128-partition index + the fitted
    temperature/cutoff policy. The reference policy's flat softmax
    scans ~90% at target 0.9 (its own captured run probed 62.7/64
    partitions); the calibrated policy reaches recall ≥ 0.9 scanning
    under half the corpus. 50 held-out noisy queries, exact ground
    truth."""
    import shutil

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d = 40_000, 64
    emb = make_dataset(spark, n, d=d, n_clusters=60, seed=7).cache()
    emb.count()
    wd = "/tmp/qvss_bench_cal"
    shutil.rmtree(wd, ignore_errors=True)
    t0 = time.time()
    idx = IVFIndex.build(emb, wd, coarse_k=16, base_k=8)
    build_s = time.time() - t0
    t0 = time.time()
    cal = idx.calibrate(n_queries=128)
    calibrate_s = time.time() - t0

    rng = np.random.default_rng(3)
    rows = emb.where("vec_id < 2000").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pick = rng.integers(0, len(vecs), 50)
    qmat = vecs[pick] + rng.normal(0.0, 0.1, size=(50, d))
    qids = np.arange(50)
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat), k=K)
    exact = exact.localCheckpoint()

    pts = []
    for policy, targets in (("reference", (0.9,)),
                            ("calibrated", (0.5, 0.9, 0.95, 0.99))):
        for tr in targets:
            t0 = time.time()
            f, m = idx.search((qids, qmat), k=K, target_recall=tr,
                              policy=policy,
                              max_probe=len(idx.part_ids))
            f = f.cache()
            f.count()
            batch_s = time.time() - t0
            pts.append({
                "policy": policy, "target_recall": tr,
                "avg_nprobe": round(m["avg_nprobe"], 2),
                "scanned_frac": round(m["avg_scanned"] / n, 4),
                "recall_at_10": round(avg_recall(f, exact, K), 4),
                "batch50_ms": round(1000 * batch_s, 1),
            })
    emb.unpersist()
    return {
        "n_partitions": int(len(idx.part_ids)),
        "build_s": round(build_s, 3),
        "calibrate_s": round(calibrate_s, 3),
        "temperature": cal["temperature"],
        "points": pts,
    }


def sq_d256_probe(spark) -> dict:
    """SQ4-vs-SQ8 recall@bytes at d=256 (round 16, VERDICT r15 #7):
    the round-15 measurement found SQ4 matching SQ8's recall@10
    (0.992) at HALF the scan bytes on the 400k d=64 corpus — but the
    promotion question (make SQ4 the serving default) only matters
    where scan bytes dominate, i.e. wide vectors. This block asks the
    same question at d=256 (the common embedding width for retrieval
    models): 100k×256 clustered corpus, ~128-partition index, both
    scalar rungs searched at target 0.9 with exact rerank — recording
    recall@10, bytes/vector scanned (SQ8 256 B, SQ4 128 B) and batch
    latency. n is 100k (not 400k) to bound the block's wall-clock:
    the bytes-per-vector ratio is n-independent and the recall
    question is about GRID fidelity at width, not corpus size."""
    import shutil

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    n, d = 100_000, 256
    emb = make_dataset(spark, n, d=d, n_clusters=60, seed=7).cache()
    emb.count()
    wd = "/tmp/qvss_bench_sqd256"
    shutil.rmtree(wd, ignore_errors=True)
    t0 = time.time()
    idx = IVFIndex.build(emb, wd, coarse_k=16, base_k=8)
    build_s = time.time() - t0

    rng = np.random.default_rng(3)
    rows = emb.where("vec_id < 2000").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pick = rng.integers(0, len(vecs), 50)
    qmat = vecs[pick] + rng.normal(0.0, 0.1, size=(50, d))
    qids = np.arange(50)
    t0 = time.time()
    exact = knn_bruteforce(idx.read_corpus(), (qids, qmat),
                           k=K).localCheckpoint()
    truth_s = time.time() - t0

    out = {"n": n, "d": d, "build_s": round(build_s, 2),
           "truth_s": round(truth_s, 2)}
    for bits in (8, 4):
        t1 = time.time()
        build_pq_sidecar(idx, sq8=True, sq_bits=bits)
        sq_build_s = time.time() - t1
        t1 = time.time()
        fsq, _ = knn_ivf_pq(idx, (qids, qmat), k=K,
                            target_recall=0.9, oversample=32)
        fsq = fsq.cache()
        fsq.count()
        sq_search_s = time.time() - t1
        out[f"sq{bits}"] = {
            "sidecar_build_s": round(sq_build_s, 3),
            "batch50_ms": round(1000 * sq_search_s, 1),
            "recall_at_10": round(avg_recall(fsq, exact, K), 4),
            "bytes_per_vector_scanned": d if bits == 8 else d // 2,
        }
        fsq.unpersist()
    emb.unpersist()
    shutil.rmtree(wd, ignore_errors=True)
    return out


def ivf_scale_n400k(spark) -> dict:
    """Calibrated pruning + ADC ladder at 10× the reference's corpus
    (round 7, VERDICT r6 #3): the sf0.1 testdata embeddings are
    near-isotropic and the 40k block is small enough that LUT overhead
    dominates ADC, so neither shows the at-scale story. This block
    does: a 400k×64 clustered corpus (150 Gaussian blobs), a
    ~256-partition index, the fitted calibrated policy's
    recall-vs-scanned curve, and plain-vs-residual PQ recall at the
    same 8-byte budget — the regime where scan bandwidth, not setup,
    is the cost."""
    import shutil

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    # the reference's exact cluster geometry (60 blobs, seed 7) at 10×
    # the points — same overlap structure, so pruning numbers compare
    # directly to the n40k block; 256 partitions need a larger, wider-
    # margin calibration sample or the fit overfits (measured: 128
    # queries / margin .02 hit recall 0.85 held-out at target 0.9)
    n, d = 400_000, 64
    emb = make_dataset(spark, n, d=d, n_clusters=60, seed=7).cache()
    emb.count()
    wd = "/tmp/qvss_bench_400k"
    shutil.rmtree(wd, ignore_errors=True)
    t0 = time.time()
    idx = IVFIndex.build(emb, wd, coarse_k=32, base_k=8)
    build_s = time.time() - t0
    t0 = time.time()
    cal = idx.calibrate(n_queries=256, margin=0.05)
    calibrate_s = time.time() - t0

    # the PQ ladder keeps the EXACT r7 query set (same rng consumption
    # order: pick 50, then the noise block) so its recall numbers stay
    # longitudinally comparable; the POLICY points evaluate on 200
    # queries — per-query recall at low targets is bimodal (std ~0.45),
    # so a 50-query estimate has SE ~0.064 and r7's reported 0.352 at
    # target 0.5 was a -2.4σ draw on a population-correct policy
    # (measured: 500 fresh queries give 0.508; VERDICT r7 #3)
    rng = np.random.default_rng(3)
    rows = emb.where("vec_id < 4000").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    pick = rng.integers(0, len(vecs), 50)
    qmat = vecs[pick] + rng.normal(0.0, 0.1, size=(50, d))
    qids = np.arange(50)
    pick_xl = rng.integers(0, len(vecs), 150)
    qmat_xl = np.vstack([
        qmat, vecs[pick_xl] + rng.normal(0.0, 0.1, size=(150, d))])
    qids_xl = np.arange(200)
    t0 = time.time()
    exact_xl = knn_bruteforce(idx.read_corpus(), (qids_xl, qmat_xl),
                              k=K).localCheckpoint()
    exact = exact_xl.where("query_id < 50").localCheckpoint()
    truth_s = time.time() - t0

    t0 = time.time()
    pts = []
    for policy, targets in (("reference", (0.9,)),
                            ("calibrated", (0.5, 0.9, 0.99))):
        for tr in targets:
            t1 = time.time()
            f, m = idx.search((qids_xl, qmat_xl), k=K, target_recall=tr,
                              policy=policy,
                              max_probe=len(idx.part_ids))
            f = f.cache()
            f.count()
            batch_s = time.time() - t1
            pts.append({
                "policy": policy, "target_recall": tr,
                "n_eval_queries": 200,
                "avg_nprobe": round(m["avg_nprobe"], 2),
                "scanned_frac": round(m["avg_scanned"] / n, 4),
                "recall_at_10": round(avg_recall(f, exact_xl, K), 4),
                "batch200_ms": round(1000 * batch_s, 1),
            })
    policy_eval_s = time.time() - t0

    # ROUTED operating point (round 8, NOTES r7 #4): two-level APS at
    # the scale block — coarse routing to 8 of 32 cells bounds the
    # per-query score matrix at partition counts where even the full
    # centroid scan is a cost, and the calibration is refit UNDER the
    # restriction (the routed softmax renormalizes; full-fit cutoffs
    # do not transfer). Same 200 eval queries, target 0.9.
    t0 = time.time()
    cal_routed = idx.calibrate(n_queries=256, margin=0.05,
                               route_cells=8)
    f, m2 = idx.search((qids_xl, qmat_xl), k=K, target_recall=0.9,
                       policy="calibrated", route_cells=8,
                       max_probe=len(idx.part_ids))
    f = f.cache()
    f.count()
    routed = {
        "route_cells": 8, "n_coarse_cells": 32,
        "target_recall": 0.9, "n_eval_queries": 200,
        "avg_nprobe": round(m2["avg_nprobe"], 2),
        "scanned_frac": round(m2["avg_scanned"] / n, 4),
        "recall_at_10": round(avg_recall(f, exact_xl, K), 4),
    }
    routed_eval_s = time.time() - t0
    # restore the FULL fit so later blocks (PQ ladder searches) see
    # the unrestricted calibration the r7 artifact was recorded under.
    # calibrate() is deterministic given the (unchanged) index state,
    # so reinstalling the dict the first fit returned IS the refit —
    # minus its brute-force pass (round 16 optimization; equality of
    # refit vs snapshot is pinned in tests/test_ivf.py)
    idx.restore_calibration(cal)

    # PQ ladder at the same 8-byte budget. Plain-sidecar values are
    # computed BEFORE the residual build overwrites the codes files
    # (round-6 measurement bug: a cached DataFrame is a hint, not a
    # snapshot).
    t1 = time.time()
    books = build_pq_sidecar(idx, m=8, ksub=256, seed=99)
    pq_build_s = time.time() - t1
    t1 = time.time()
    fpq, _ = knn_ivf_pq(idx, (qids, qmat), k=K, target_recall=0.9,
                        oversample=32, books=books)
    fpq = fpq.cache()
    fpq.count()
    pq_search_s = time.time() - t1
    plain_recall = round(avg_recall(fpq, exact, K), 4)
    t1 = time.time()
    books_res = build_pq_sidecar(idx, m=8, ksub=256, seed=99,
                                 residual=True)
    res_build_s = time.time() - t1
    t1 = time.time()
    fres, _ = knn_ivf_pq(idx, (qids, qmat), k=K, target_recall=0.9,
                         oversample=32, books=books_res)
    fres = fres.cache()
    fres.count()
    res_search_s = time.time() - t1
    res_recall = round(avg_recall(fres, exact, K), 4)
    # Scalar rungs (round 15, VERDICT r14 #7): SQ8 (d=64
    # bytes/vector) and the new 4-bit SQ4 (32 bytes) — the
    # recall@bytes points that answer whether the narrower grid's
    # fidelity loss is worth halving the scan bytes. Placed BEFORE
    # the LOPQ rung so the serving stack below still reads the LOPQ
    # codes the ladder leaves current on disk (each rung overwrites
    # the version's codes files).
    sq_rungs = {}
    for bits in (8, 4):
        t1 = time.time()
        build_pq_sidecar(idx, sq8=True, sq_bits=bits)
        sq_build_s = time.time() - t1
        t1 = time.time()
        fsq, _ = knn_ivf_pq(idx, (qids, qmat), k=K,
                            target_recall=0.9, oversample=32)
        fsq = fsq.cache()
        fsq.count()
        sq_search_s = time.time() - t1
        sq_rungs[f"sq{bits}_variant"] = {
            "sidecar_build_s": round(sq_build_s, 3),
            "batch50_ms": round(1000 * sq_search_s, 1),
            "recall_at_10": round(avg_recall(fsq, exact, K), 4),
            "bytes_per_vector_scanned": 64 if bits == 8 else 32,
        }
        fsq.unpersist()
    sq_ladder_s = sum(v["sidecar_build_s"]
                      + v["batch50_ms"] / 1000.0
                      for v in sq_rungs.values())
    # Full LOPQ (per-cell rotations + books) as the ladder's top rung.
    # Measured r7: recall 0.972 vs the global residual book's 0.900 at
    # the same 8 bytes — even on these ISOTROPIC blobs, because each
    # cell's residual support differs near blob boundaries and the
    # per-cell ksub budget models exactly one cell's cloud — AND the
    # sidecar builds ~4× faster (14.9 s vs 58.0 s): per-cell training
    # parallelizes across cells with small per-cell samples, while the
    # global path funnels one big driver-side sample. The locally-
    # ORIENTED case (the paper's motivation) is pinned separately in
    # tests/test_vector_kernels.py::test_local_books_beat_global_
    # residual_adc (0.714 vs 0.642 ADC-only).
    t1 = time.time()
    books_lopq = build_pq_sidecar(idx, m=8, ksub=256, seed=99,
                                  residual=True, local=True,
                                  rotate=True)
    lopq_build_s = time.time() - t1
    t1 = time.time()
    flop, _ = knn_ivf_pq(idx, (qids, qmat), k=K, target_recall=0.9,
                         oversample=32, books=books_lopq)
    flop = flop.cache()
    flop.count()
    lopq_search_s = time.time() - t1
    lopq_recall = round(avg_recall(flop, exact, K), 4)

    # SERVING STACK (round 10, VERDICT r9 #5): the actual 100 TB
    # serving configuration — all three pruning axes AT ONCE: routed
    # two-level APS (8 of 32 cells scored), calibrated adaptive nprobe
    # (target 0.9, refit UNDER the routed restriction), and the
    # LOPQ-rotated 8-byte sidecar just built, with exact rerank. Same
    # 200 eval queries as the policy points. The registry pin of the
    # composition (fullprobe ≡ brute force, restriction honored,
    # mismatch refused) is ivf_serving_stack_routed.
    t0 = time.time()
    # identical args + unchanged index state ⇒ the routed fit computed
    # for routed_point above is THE fit; reinstall it instead of paying
    # the deterministic brute-force refit again (round 16). The fit's
    # real cost is reported once as routed_eval_s; calibrate_fit_s now
    # records the (near-zero) reinstall — see OPTIMIZATION_r16.md.
    idx.restore_calibration(cal_routed)
    stack_fit_s = time.time() - t0
    t1 = time.time()
    fstk, m_stk = knn_ivf_pq(idx, (qids_xl, qmat_xl), k=K,
                             target_recall=0.9, policy="calibrated",
                             route_cells=8,
                             max_probe=len(idx.part_ids),
                             oversample=32, books=books_lopq)
    fstk = fstk.cache()
    fstk.count()
    stack_batch_s = time.time() - t1
    serving_stack = {
        "route_cells": 8, "n_coarse_cells": 32,
        "target_recall": 0.9, "n_eval_queries": 200,
        "bytes_per_vector_scanned": 8,
        "avg_nprobe": round(m_stk["avg_nprobe"], 2),
        "scanned_frac": round(m_stk["avg_scanned"] / n, 4),
        "recall_at_10": round(avg_recall(fstk, exact_xl, K), 4),
        # fit and batch timed separately like every other point —
        # batch200_ms is the 200-query SERVING cost only. Renamed from
        # calibrate_fit_s (round 17, VERDICT r16 #7): since r16 this
        # records the near-zero snapshot REINSTALL, not a fit — the
        # routed fit's real cost is measured once inside routed_eval_s
        # — so the old name misread as a 233× fit win longitudinally.
        "calibrate_reinstall_s": round(stack_fit_s, 3),
        "batch200_ms": round(1000 * stack_batch_s, 1),
    }
    serving_stack_s = time.time() - t0
    emb.unpersist()
    out = {
        "n_corpus": n,
        "n_partitions": int(len(idx.part_ids)),
        "build_s": round(build_s, 3),
        "calibrate_s": round(calibrate_s, 3),
        # per-phase seconds, surfaced as ivf_scale_n400k.<phase> keys
        # in the top-level "queries" dict so tools/bench_compare.py
        # diffs evaluation-block growth per phase instead of flagging
        # the block total (VERDICT r7 #8)
        "phases": {
            "build": round(build_s, 3),
            "calibrate": round(calibrate_s, 3),
            "truth": round(truth_s, 3),
            "policy_eval": round(policy_eval_s, 3),
            "routed_eval": round(routed_eval_s, 3),
            "pq_ladder": round(pq_build_s + pq_search_s + res_build_s
                               + res_search_s + lopq_build_s
                               + lopq_search_s + sq_ladder_s, 3),
            "serving_stack": round(serving_stack_s, 3),
        },
        "temperature": cal["temperature"],
        "calibration_deficits": cal.get("deficits"),
        "points": pts,
        "routed_point": routed,
        "serving_stack_point": serving_stack,
        "ivf_pq": {
            "sidecar_build_s": round(pq_build_s, 3),
            "batch50_ms": round(1000 * pq_search_s, 1),
            "recall_at_10": plain_recall,
            "residual_variant": {
                "sidecar_build_s": round(res_build_s, 3),
                "batch50_ms": round(1000 * res_search_s, 1),
                "recall_at_10": res_recall,
            },
            "lopq_rotated_variant": {
                "sidecar_build_s": round(lopq_build_s, 3),
                "batch50_ms": round(1000 * lopq_search_s, 1),
                "recall_at_10": lopq_recall,
            },
            **sq_rungs,
            "bytes_per_vector_scanned": 8,
        },
    }
    shutil.rmtree(wd, ignore_errors=True)
    return out


def _replay(spark, emb, workdir: str, n_queries: int, batch: int,
            n_ins: int, n_del: int, maintain_every: int,
            curve: bool) -> dict:
    import shutil

    from pyspark.sql import functions as F

    from quake_vector_search_spark.operators.evaluation import avg_recall
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.knn import knn_bruteforce
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.workload import (
        zipf_queries_distributed,
    )

    shutil.rmtree(workdir, ignore_errors=True)

    # dataset materialization is not build work (the reference times
    # build over an in-memory ndarray, ipynb c3): pin it outside the
    # timing. The untimed micro-build warms the build plan shapes
    # (CollectLimit probe, Arrow upload, partitioned write) exactly like
    # the search warm-up below warms the search path — one-time codegen
    # /worker spin-up costs a steady-state cluster amortizes away.
    emb = emb.cache()
    emb.count()
    shutil.rmtree(workdir + "_wu", ignore_errors=True)
    IVFIndex.build(emb.limit(500), workdir + "_wu", coarse_k=4, base_k=2)
    shutil.rmtree(workdir + "_wu", ignore_errors=True)

    t0 = time.time()
    idx = IVFIndex.build(emb, workdir, coarse_k=16, base_k=4)
    build_s = time.time() - t0

    # query workload skewed over the *actual* partition layout — fully
    # distributed: the driver only ever receives the n_queries picked
    # vectors (never the corpus), so the bench itself runs at any scale
    part_sizes = {int(p): int(s) for p, s in zip(idx.part_ids, idx.sizes)}
    qmat = zipf_queries_distributed(
        idx.read_corpus(), part_sizes, n_queries,
        id_col=idx.id_col, vec_col=idx.vec_col)
    d = int(idx.centroids.shape[1])

    # delete-id pool: deterministic-hash order, partial top-k per
    # partition (TakeOrdered) — collects exactly the ids the DML cadence
    # will consume; each id deleted at most once across the run
    n_batches = -(-n_queries // batch)
    del_pool = [int(r[0]) for r in
                idx.read_corpus().select(idx.id_col)
                .orderBy(F.md5(F.concat_ws(
                    ":", F.lit("del7"),
                    F.col(idx.id_col).cast("string"))))
                .limit(n_del * n_batches).collect()]

    # untimed warm-up: first search exercises the Python-worker spin-up,
    # Arrow serializer init, and codegen for the search plan shape —
    # one-time costs the reference's in-process loop never pays and the
    # steady-state cluster amortizes away. 1 query keeps hit-stat drift
    # negligible.
    wu, _ = idx.search((np.array([-1]), qmat[:1]), k=K, target_recall=0.9)
    wu.count()

    rng = np.random.default_rng(7)
    batch_times, nprobes, scanned = [], [], []
    # per-phase wall-clock (round-5 VERDICT #4: make the workload total
    # attributable — search vs insert vs delete vs maintain)
    phase = {"insert_s": 0.0, "delete_s": 0.0, "maintain_s": 0.0}
    next_id = 1_000_000
    all_found = None
    for b in range(0, n_queries, batch):
        qids = np.arange(b, b + batch)
        t1 = time.time()
        found, meta = idx.search((qids, qmat[b:b + batch]), k=K,
                                 target_recall=0.9)
        found = found.cache()
        found.count()
        batch_times.append(time.time() - t1)
        nprobes.extend(meta["nprobe"])
        scanned.append(meta["avg_scanned"])
        all_found = found if all_found is None else all_found.unionAll(found)
        # DML cadence (reference: 10+10 per 20 queries; scaled per
        # batch). Deletes run FIRST (round 6): the delete pool is
        # pre-existing ids and the insert ids are fresh, so the two
        # commute — but delete's row lookup can then reuse the
        # already-listed corpus relation instead of re-listing the
        # post-append file set, and on maintenance batches the
        # insert's eager refresh is skipped entirely (maintain
        # republishes and re-lists anyway).
        bi = b // batch
        will_maintain = bi % maintain_every == maintain_every - 1
        t1 = time.time()
        idx.delete(del_pool[bi * n_del:(bi + 1) * n_del])
        phase["delete_s"] += time.time() - t1
        t1 = time.time()
        idx.insert(list(range(next_id, next_id + n_ins)),
                   rng.normal(size=(n_ins, d)),
                   refresh=not will_maintain)
        phase["insert_s"] += time.time() - t1
        next_id += n_ins
        if will_maintain:
            t1 = time.time()
            maintain(idx)
            phase["maintain_s"] += time.time() - t1

    # recall vs brute force on the final corpus
    t1 = time.time()
    live = idx.read_corpus()
    exact = knn_bruteforce(live, (np.arange(n_queries), qmat), k=K)
    recall = avg_recall(all_found, exact, K)
    phase["recall_eval_s"] = time.time() - t1

    # recall-vs-scanned curve (SURVEY.md §6): sweep target_recall to
    # show APS prunes genuinely — unlike the reference's captured run,
    # which probed 62.7/64 partitions at target 0.9 (~89% of brute
    # force). 50 fixed queries per point, same exact ground truth.
    curve_pts = []
    if curve:
        t1 = time.time()
        curve_q = (np.arange(50), qmat[:50])
        exact50 = exact.where(exact.query_id < 50)
        n_corpus = live.count()
        for tr in (0.5, 0.7, 0.9, 0.99):
            f, m = idx.search(curve_q, k=K, target_recall=tr)
            curve_pts.append({
                "target_recall": tr,
                "avg_nprobe": round(m["avg_nprobe"], 2),
                "scanned_frac": round(m["avg_scanned"] / max(n_corpus, 1), 4),
                "recall_at_10": round(avg_recall(f, exact50, K), 4),
            })
        # same sweep under policy="calibrated" (round 6). NOTE: the
        # testdata embeddings are near-isotropic (PCA eigvals ~1/64),
        # so partition pruning is information-theoretically limited
        # here — see ivf_calibrated_n40k for the clustered-data case
        # the policy is built for.
        idx.calibrate()
        for tr in (0.5, 0.9):
            f, m = idx.search(curve_q, k=K, target_recall=tr,
                              policy="calibrated")
            curve_pts.append({
                "target_recall": tr,
                "policy": "calibrated",
                "avg_nprobe": round(m["avg_nprobe"], 2),
                "scanned_frac": round(m["avg_scanned"] / max(n_corpus, 1), 4),
                "recall_at_10": round(avg_recall(f, exact50, K), 4),
            })
        phase["curve_s"] = time.time() - t1

    # IVF+PQ hybrid on the final index: sidecar build (one encode pass)
    # + the same 50 fixed queries — shows the byte-pruning axis next to
    # the row-pruning curve above
    pq_block = None
    if curve:
        t_pq = time.time()
        from quake_vector_search_spark.operators.quantization import (
            build_pq_sidecar,
            knn_ivf_pq,
        )
        t2 = time.time()
        books = build_pq_sidecar(idx, m=8, ksub=256, seed=99)
        pq_build_s = time.time() - t2
        t2 = time.time()
        fpq, mpq = knn_ivf_pq(idx, (np.arange(50), qmat[:50]), k=K,
                              target_recall=0.9, oversample=8,
                              books=books)
        fpq = fpq.cache()
        fpq.count()
        pq_search_s = time.time() - t2
        # second point at target 0.5: row pruning × byte pruning —
        # scanned fraction × (8/256) bytes is the multiplicative win
        fpq5, mpq5 = knn_ivf_pq(idx, (np.arange(50), qmat[:50]), k=K,
                                target_recall=0.5, oversample=8,
                                books=books)
        n_corpus_pq = idx.read_corpus().count()
        # plain-sidecar RESULT VALUES must all be computed BEFORE the
        # residual build below overwrites the codes files: a cache
        # eviction would silently re-scan the replaced sidecar (a
        # cached DataFrame is a hint, not a snapshot) — observed as a
        # bit-deterministic recall changing between runs.
        plain_recall = round(
            avg_recall(fpq, exact.where(exact.query_id < 50), K), 4)
        plain5_recall = round(
            avg_recall(fpq5, exact.where(exact.query_id < 50), K), 4)
        # residual (IVFADC) variant on the same index: same 8-byte
        # budget, codes quantize x − c_p (round 6)
        t2 = time.time()
        books_res = build_pq_sidecar(idx, m=8, ksub=256, seed=99,
                                     residual=True)
        res_build_s = time.time() - t2
        t2 = time.time()
        fres, _ = knn_ivf_pq(idx, (np.arange(50), qmat[:50]), k=K,
                             target_recall=0.9, oversample=8,
                             books=books_res)
        fres = fres.cache()
        fres.count()
        res_search_s = time.time() - t2
        res_recall = round(
            avg_recall(fres, exact.where(exact.query_id < 50), K), 4)
        pq_block = {
            "sidecar_build_s": round(pq_build_s, 3),
            "batch50_ms": round(1000 * pq_search_s, 1),
            "avg_query_ms": round(1000 * pq_search_s / 50, 2),
            "recall_at_10": plain_recall,
            "residual_variant": {
                "sidecar_build_s": round(res_build_s, 3),
                "batch50_ms": round(1000 * res_search_s, 1),
                "recall_at_10": res_recall,
            },
            "bytes_per_vector_scanned": 8,   # m=8 codes vs 256 (4·d=64)
            "at_target_0.5": {
                "scanned_frac": round(
                    mpq5["avg_scanned"] / max(n_corpus_pq, 1), 4),
                "recall_at_10": plain5_recall,
                "effective_bytes_frac": round(
                    (mpq5["avg_scanned"] / max(n_corpus_pq, 1))
                    * 8 / 256, 4),
            },
        }
        phase["pq_s"] = time.time() - t_pq

    per_query = [bt / batch for bt in batch_times]
    phase["search_s"] = float(sum(batch_times))
    return {
        "build_s": round(build_s, 3),
        "phases": {k: round(v, 3) for k, v in sorted(phase.items())},
        "n_partitions": int(len(idx.part_ids)),
        "avg_query_ms": round(1000 * float(np.mean(per_query)), 2),
        "p50_batch_ms": round(1000 * float(np.percentile(batch_times, 50)), 1),
        "p95_batch_ms": round(1000 * float(np.percentile(batch_times, 95)), 1),
        "query_batch": batch,
        "n_queries": n_queries,
        "avg_nprobe": round(float(np.mean(nprobes)), 2),
        "avg_scanned": round(float(np.mean(scanned)), 1),
        "avg_recall_at_10": round(float(recall), 4),
        **({"recall_vs_scanned": curve_pts} if curve else {}),
        **({"ivf_pq": pq_block} if pq_block else {}),
    }


def _box_probe() -> dict:
    """Whole-box state snapshot (round 15, VERDICT r14 #8): 1-min
    loadavg plus the aggregate /proc/stat cpu jiffies. Deltas between
    two probes give the box's user/sys/idle split over a bench block
    — the adjudication evidence for run-to-run inflation at
    bit-identical decision metrics (the r12 and r14 inflations both
    needed paired reruns to attribute to box state; now every run
    carries its own telemetry)."""
    out: dict = {"loadavg1m": round(os.getloadavg()[0], 2)}
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        # cpu  user nice system idle iowait irq softirq steal ...
        vals = [int(x) for x in parts[1:8]]
        out["cpu_jiffies"] = {
            "user": vals[0] + vals[1], "sys": vals[2] + vals[5]
            + vals[6], "idle": vals[3] + vals[4]}
    except (OSError, ValueError, IndexError):   # non-Linux fallback
        pass
    return out


def _box_delta(before: dict, after: dict) -> dict:
    d = {"loadavg1m_start": before["loadavg1m"],
         "loadavg1m_end": after["loadavg1m"]}
    b, a = before.get("cpu_jiffies"), after.get("cpu_jiffies")
    if b and a:
        tot = max(1, sum(a[k] - b[k] for k in a))
        d["box_cpu_pct"] = {k: round(100.0 * (a[k] - b[k]) / tot, 1)
                            for k in a}
    return d


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from quake_vector_search_spark.queries import (
        REGISTRY,
        load_all_query_modules,
    )
    from quake_vector_search_spark.session import get_spark

    load_all_query_modules()
    spark = get_spark("bench")
    spark.range(1).count()    # JVM warm-up outside the timings

    times: dict[str, float] = {}
    telemetry: dict[str, dict] = {}
    probe = _box_probe()
    run_start = probe
    for name in HEADLINE:
        t0 = time.time()
        run_df(REGISTRY[name].fn(spark, sf_dir))
        times[name] = round(time.time() - t0, 3)
    probe2 = _box_probe()
    telemetry["headline_queries"] = _box_delta(probe, probe2)
    probe = probe2

    t0 = time.time()
    ivf = ivf_workload(spark, sf_dir)
    times["ivf_workload"] = round(time.time() - t0, 3)

    t0 = time.time()
    ivf40k = ivf_workload_n40k(spark)
    times["ivf_workload_n40k"] = round(time.time() - t0, 3)
    probe2 = _box_probe()
    telemetry["ivf_blocks_sf_and_n40k"] = _box_delta(probe, probe2)
    probe = probe2

    t0 = time.time()
    cal40k = ivf_calibrated_n40k(spark)
    times["ivf_calibrated_n40k"] = round(time.time() - t0, 3)

    t0 = time.time()
    aniso40k = aniso_mips_n40k(spark)
    times["aniso_mips_n40k"] = round(time.time() - t0, 3)
    probe2 = _box_probe()
    telemetry["calibrated_and_aniso_n40k"] = _box_delta(probe, probe2)
    probe = probe2

    t0 = time.time()
    scale400k = ivf_scale_n400k(spark)
    times["ivf_scale_n400k"] = round(time.time() - t0, 3)
    probe2 = _box_probe()
    telemetry["ivf_scale_n400k"] = _box_delta(probe, probe2)
    probe = probe2

    t0 = time.time()
    sqd256 = sq_d256_probe(spark)
    times["sq_d256_probe"] = round(time.time() - t0, 3)
    probe2 = _box_probe()
    telemetry["sq_d256_probe"] = _box_delta(probe, probe2)
    telemetry["whole_run"] = _box_delta(run_start, probe2)
    # per-phase keys for bench_compare (evaluation-block growth shows
    # up in its own phase, not as a spurious block-total regression)
    for ph, sec in scale400k.get("phases", {}).items():
        times[f"ivf_scale_n400k.{ph}"] = sec

    # dotted keys are sub-phase breakdowns already counted inside
    # their block's total — exclude them from the headline sum
    total = round(sum(v for k, v in times.items() if "." not in k), 3)
    payload = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "ivf": ivf,
        "ivf_n40k_reference_config": ivf40k,
        "ivf_calibrated_n40k": cal40k,
        "aniso_mips_n40k": aniso40k,
        "ivf_scale_n400k": scale400k,
        "sq_d256": sqd256,
        # box-state evidence per block (round 15, VERDICT r14 #8):
        # adjudicate run-to-run inflation without paired reruns —
        # high box_cpu_pct.sys or a hot loadavg with bit-identical
        # decision metrics reads as box noise, not a code regression
        "telemetry": telemetry,
    }
    # The CONTRACT line stays SLIM (round 17, VERDICT r16 #3): the
    # driver failed to parse r15's ~12 KB line with every nested
    # ladder/telemetry blob inlined, blinding round-over-round PERF.
    # The line carries exactly the driver contract — metric, value,
    # unit, the FLAT per-query seconds, sf — ~2 KB; every nested
    # block still lands, unchanged, in the committed
    # bench_results_*.json record below.
    contract_keys = ("metric", "value", "unit", "queries", "sf")
    print(json.dumps({k: payload[k] for k in contract_keys}))
    # committed machine-readable copy (VERDICT r6 #4): the driver's
    # BENCH_r{N}.json keeps only a truncated output tail, so the
    # per-query longitudinal record must survive somewhere
    # tools/bench_compare.py can read both sides of. Round number =
    # next after the newest recorded driver artifact, overridable.
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out_path is None:
        import re as _re

        here = os.path.dirname(os.path.abspath(__file__))
        rounds = [int(m.group(1)) for f in os.listdir(here)
                  if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", f))]
        out_path = os.path.join(
            here, f"bench_results_r{(max(rounds, default=0) + 1):02d}.json")
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
