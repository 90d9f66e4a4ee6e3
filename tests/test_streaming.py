"""Streaming-vs-batch differential tests (SURVEY.md §5 / E11): the
batch operators are the oracle for the streaming mirrors, replayed
file-by-file with processAllAvailable."""

import shutil

import pytest
from pyspark.sql import functions as F

from quake_vector_search_spark.operators import timeseries as TS
from quake_vector_search_spark.sources import load_table
from quake_vector_search_spark.streaming import windows as SW

# Fast-lane exclusion (round 10, VERDICT r9 #7): this module is
# end-to-end heavy; `pytest -m "not slow"` skips it.
pytestmark = pytest.mark.slow

SF = "/root/testdata/sf0.001"
STREAM_DIR = "/tmp/qvss_stream_events"


@pytest.fixture(scope="module")
def events_dir(spark):
    """Re-write the events table as 4 raw-nanos-preserving files so the
    stream gets multiple triggers."""
    shutil.rmtree(STREAM_DIR, ignore_errors=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{SF}/events.parquet")  # ts stays long ns
    # time-ordered files: part-i covers the i-th time range, so the
    # stream's watermark advances monotonically and nothing is late
    raw.repartitionByRange(4, F.col("ts")).write.mode("overwrite") \
       .parquet(STREAM_DIR)
    # FileStreamSource consumes in modification-time order; parallel
    # writes get racy mtimes → pin mtime to each file's time range
    import os

    import pyarrow.parquet as pq
    parts = []
    for f in os.listdir(STREAM_DIR):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            p = os.path.join(STREAM_DIR, f)
            ts_min = pq.read_table(p, columns=["ts"]).column("ts")
            parts.append((min(ts_min.to_pylist()), p))
    base = 1_700_000_000
    for i, (_, p) in enumerate(sorted(parts)):
        os.utime(p, (base + 100 * i, base + 100 * i))
    return STREAM_DIR


def _canon(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_streaming_tumbling_matches_batch(spark, events_dir):
    stream = SW.read_events_stream(spark, events_dir)
    out = SW.run_to_completion(SW.tumbling_stream(stream, "1 hour"),
                               "t_tumble")
    batch = TS.tumbling_agg(load_table(spark, SF, "events"), "1 hour")
    got = _canon(out, ["window_start", "event_type", "n"])
    want = _canon(batch, ["window_start", "event_type", "n"])
    # append mode: windows at the stream tail may be held open past the
    # final watermark — every emitted window must match batch, and at
    # least the watermark-closed prefix must have been emitted
    assert set(got) <= set(want)
    assert len(got) >= 0.8 * len(want)


def test_streaming_emits_on_real_driver_schema(spark):
    """Regression (round-3 root cause): stream DIRECTLY off the
    driver-generated events.parquet — whatever ts encoding the current
    testdata generation uses — and require non-empty windowed output.
    A schema-handling bug here doesn't error; it nulls event times, the
    watermark never advances, and append mode emits nothing."""
    import os

    # FileStreamSource needs a directory — stream the driver file
    # byte-for-byte from a scratch dir (no rewrite, real encoding)
    raw_dir = "/tmp/qvss_stream_real_schema"
    shutil.rmtree(raw_dir, ignore_errors=True)
    os.makedirs(raw_dir)
    shutil.copy(f"{SF}/events.parquet",
                os.path.join(raw_dir, "events.parquet"))
    stream = SW.read_events_stream(spark, raw_dir,
                                   max_files_per_trigger=10)
    out = SW.run_to_completion(SW.tumbling_stream(stream, "1 hour"),
                               "t_real_schema")
    n = out.count()
    assert n > 0, "streaming on the real events schema emitted nothing"
    batch = TS.tumbling_agg(load_table(spark, SF, "events"), "1 hour")
    got = _canon(out, ["window_start", "event_type", "n"])
    want = _canon(batch, ["window_start", "event_type", "n"])
    assert set(got) <= set(want)


def test_streaming_sessions_match_batch(spark, events_dir):
    stream = SW.read_events_stream(spark, events_dir)
    out = SW.run_to_completion(SW.session_stream(stream, "30 minutes"),
                               "t_sess")
    batch = TS.sessionize(load_table(spark, SF, "events"), 30)
    got = _canon(out, ["user_id", "session_start", "session_end", "n_events"])
    # session_window's end = last event + gap; the batch operator
    # reports the last event itself — shift for comparison
    batch = batch.withColumn(
        "session_end",
        F.col("session_end") + F.expr("INTERVAL 30 MINUTES"))
    want = _canon(batch, ["user_id", "session_start", "session_end",
                          "n_events"])
    assert set(got) <= set(want)
    assert len(got) >= 0.8 * len(want)


def test_streaming_ingest_foreachbatch(spark):
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, SF, "embeddings")
    shutil.rmtree("/tmp/qvss_stream_ivf", ignore_errors=True)
    idx = IVFIndex.build(emb, "/tmp/qvss_stream_ivf", coarse_k=4, base_k=2)
    n0 = int(idx.sizes.sum())

    # stream of 20 new vectors, 2 files → 2 micro-batches
    rng = np.random.default_rng(3)
    rows = [(int(10_000 + i), rng.normal(size=64).astype(float).tolist())
            for i in range(20)]
    vec_dir = "/tmp/qvss_stream_vecs"
    shutil.rmtree(vec_dir, ignore_errors=True)
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vec_dir))

    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vec_dir))
    q = ingest_stream(idx, vstream, "/tmp/qvss_stream_ckpt")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert int(idx.sizes.sum()) == n0 + 20
    found, _ = idx.search(([1], [rows[5][1]]), k=1, target_recall=1.0,
                          max_probe=10**9)
    assert found.collect()[0]["vec_id"] == rows[5][0]


def test_streaming_ingest_keeps_pq_sidecar_current(spark):
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, SF, "embeddings")
    shutil.rmtree("/tmp/qvss_stream_ivf_pq", ignore_errors=True)
    idx = IVFIndex.build(emb, "/tmp/qvss_stream_ivf_pq",
                         coarse_k=4, base_k=2)
    books = build_pq_sidecar(idx, m=8, ksub=16, seed=99)
    n_codes0 = spark.read.parquet(f"{idx.version_dir}/pq").count()

    rng = np.random.default_rng(11)
    rows = [(int(20_000 + i), rng.normal(size=64).astype(float).tolist())
            for i in range(12)]
    vec_dir = "/tmp/qvss_stream_vecs_pq"
    shutil.rmtree(vec_dir, ignore_errors=True)
    shutil.rmtree("/tmp/qvss_stream_ckpt_pq", ignore_errors=True)
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vec_dir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vec_dir))
    q = ingest_stream(idx, vstream, "/tmp/qvss_stream_ckpt_pq")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # one code row per streamed vector, partition-aligned
    assert (spark.read.parquet(f"{idx.version_dir}/pq").count()
            == n_codes0 + len(rows))
    # hybrid search finds a streamed vector without any sidecar rebuild
    found, _ = knn_ivf_pq(idx, ([1], np.array([rows[7][1]])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          books=books)
    assert found.collect()[0]["vec_id"] == rows[7][0]


def test_stateful_running_totals_match_batch(spark, events_dir):
    """applyInPandasWithState custom operator: the last emission per
    user must equal the batch lifetime aggregate."""
    from quake_vector_search_spark.streaming.stateful import (
        user_running_totals,
    )

    stream = SW.read_events_stream(spark, events_dir)
    out = user_running_totals(stream)
    q = (out.writeStream.outputMode("update")
         .format("memory").queryName("running_totals").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.sql("SELECT * FROM running_totals").collect()
    # keep the final (= max n_events) emission per user
    got = {}
    for r in emitted:
        if (r["user_id"] not in got
                or r["n_events"] > got[r["user_id"]]["n_events"]):
            got[r["user_id"]] = r

    batch = (load_table(spark, SF, "events")
             .groupBy("user_id")
             .agg(F.count("*").alias("n_events"),
                  F.sum("value").alias("sum_value"),
                  F.max("value").alias("max_value"),
                  F.max("ts").alias("last_ts")))
    exp = {r["user_id"]: r for r in batch.collect()}
    assert set(got) == set(exp)
    for uid, e in exp.items():
        g = got[uid]
        assert g["n_events"] == e["n_events"], uid
        assert abs(g["sum_value"] - e["sum_value"]) < 1e-6, uid
        assert abs(g["max_value"] - e["max_value"]) < 1e-12, uid
        assert g["last_ts"] == e["last_ts"], uid


def test_streaming_kmv_matches_batch(spark, events_dir):
    """Sharded stateful KMV: drain, merge the shards' minima, and the
    result must equal the batch kmv_distinct sketch EXACTLY (same
    portable hash, disjoint shard hash ranges ⇒ union of per-shard
    minima ⊇ global k smallest). k=8 < n_distinct exercises the
    kth-min estimation path, not the exact-count fallback
    (sf0.001 events has 15 distinct users)."""
    from quake_vector_search_spark.operators.sketch import kmv_distinct
    from quake_vector_search_spark.streaming.stateful import (
        kmv_merge_rows,
        kmv_stream,
    )

    stream = SW.read_events_stream(spark, events_dir)
    out = kmv_stream(stream, "user_id", k=8, n_shards=4)
    q = (out.writeStream.outputMode("update")
         .format("memory").queryName("kmv_sink").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    drained = spark.sql("SELECT * FROM kmv_sink")
    merged = kmv_merge_rows(drained, k=8).head()
    batch = kmv_distinct(load_table(spark, SF, "events")
                         .select("user_id"), "user_id", k=8).head()
    assert merged == batch
    assert merged["n_kept"] == 8           # estimation path, not exact
    # state boundedness: no shard ever emitted more than k minima
    assert drained.select(F.size("mins").alias("s")) \
        .agg(F.max("s")).head()[0] <= 8


def test_streaming_dedup_matches_batch(spark, events_dir):
    """dropDuplicates on the stream keeps exactly one row per key —
    same distinct-key set as batch."""
    stream = SW.read_events_stream(spark, events_dir)
    deduped = SW.dedup_stream(stream.select("user_id", "event_type", "ts"),
                              ["user_id", "event_type"])
    got = SW.run_to_completion(deduped, "dedup_stream_t")
    batch = (load_table(spark, SF, "events")
             .select("user_id", "event_type").distinct())
    assert sorted(map(tuple, got.select("user_id", "event_type").collect())) \
        == sorted(map(tuple, batch.collect()))


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    """Stateless stream-static join: every event enriched with customer
    attributes; exact equality with the batch join (no watermark, so no
    held-back tail)."""
    cust = load_table(spark, SF, "customer") \
        .select("c_custkey", "c_mktsegment")
    stream = SW.read_events_stream(spark, events_dir)
    out = SW.run_to_completion(
        SW.enrich_stream(stream, cust), "t_enrich")
    batch = (load_table(spark, SF, "events")
             .join(cust.withColumnRenamed("c_custkey", "user_id"),
                   "user_id", "left"))
    got = _canon(out, ["event_id", "user_id", "c_mktsegment"])
    want = _canon(batch, ["event_id", "user_id", "c_mktsegment"])
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Watermarked stream-stream interval join: inner joins emit on
    match, so with bounded input the emitted pairs equal the batch
    interval join exactly."""
    from quake_vector_search_spark.operators.timeseries import (
        interval_join,
    )

    def split(df):
        c = (df.where(F.col("event_type") == "click")
             .select(F.col("event_id").alias("click_id"),
                     "user_id", F.col("ts").alias("click_ts")))
        p = (df.where(F.col("event_type") == "purchase")
             .select(F.col("event_id").alias("purchase_id"),
                     F.col("user_id").alias("p_user"),
                     F.col("ts").alias("purchase_ts")))
        return c, p

    stream = SW.read_events_stream(spark, events_dir)
    sc, sp = split(stream)
    joined = SW.interval_join_stream(
        sc, sp.withColumnRenamed("p_user", "user_id"),
        key="user_id", left_ts="click_ts", right_ts="purchase_ts",
        upper_s=3600)
    out = SW.run_to_completion(joined, "t_ssjoin")

    from quake_vector_search_spark.sources.catalog import (
        normalize_events_ts,
    )

    bc, bp = split(normalize_events_ts(spark.read.parquet(events_dir)))
    want_df = (bc.join(bp, (F.col("user_id") == F.col("p_user"))
                       & (F.col("purchase_ts") >= F.col("click_ts"))
                       & (F.col("purchase_ts") <= F.col("click_ts")
                          + F.expr("INTERVAL 3600 SECONDS"))))
    got = _canon(out, ["click_id", "purchase_id"])
    want = _canon(want_df, ["click_id", "purchase_id"])
    assert got == want


def test_streaming_search_matches_batch(spark):
    """Online query serving: results streamed through search_stream
    must equal the batch search answer for the same queries against
    the same index version (APS is hit-counter-independent)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.streaming.serving import search_stream

    emb = load_table(spark, SF, "embeddings")
    shutil.rmtree("/tmp/qvss_serve_ivf", ignore_errors=True)
    idx = IVFIndex.build(emb, "/tmp/qvss_serve_ivf", coarse_k=4, base_k=2)

    rng = np.random.default_rng(11)
    qrows = [(int(i), rng.normal(size=64).astype(float).tolist())
             for i in range(12)]
    q_dir = "/tmp/qvss_serve_queries"
    res_dir = "/tmp/qvss_serve_results"
    ckpt = "/tmp/qvss_serve_ckpt"
    for d in (q_dir, res_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    (spark.createDataFrame(qrows, "query_id long, embedding array<float>")
     .repartition(3).write.mode("overwrite").parquet(q_dir))

    qstream = (spark.readStream
               .schema("query_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(q_dir))
    q = search_stream(idx, qstream, res_dir, ckpt, k=5,
                      target_recall=0.9)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    streamed = {(r["query_id"], r["rank"]): r["vec_id"]
                for r in spark.read.parquet(res_dir).collect()}
    batch_df, _ = idx.search(
        spark.createDataFrame(qrows,
                              "query_id long, embedding array<float>"),
        k=5, target_recall=0.9)
    batch = {(r["query_id"], r["rank"]): r["vec_id"]
             for r in batch_df.collect()}
    assert streamed == batch
    assert len(streamed) == 12 * 5
    # multiple epochs actually ran (3 files → 3 micro-batches)
    epochs = {r["epoch_id"]
              for r in spark.read.parquet(res_dir).collect()}
    assert len(epochs) >= 2


def test_streaming_cms_matches_batch(spark, events_dir):
    """A drained streaming CMS equals the batch sketch over the same
    rows — the sketch is pure incremental aggregation state."""
    import os

    from quake_vector_search_spark.operators.sketch import cms_sketch
    from quake_vector_search_spark.streaming.windows import cms_stream

    stream = SW.read_events_stream(spark, events_dir)
    sketch_stream = cms_stream(stream, "event_type")
    ckpt = "/tmp/qvss_cms_ckpt_" + str(os.getpid())
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (sketch_stream.writeStream.format("memory")
         .queryName("cms_mem").outputMode("complete")
         .option("checkpointLocation", ckpt)
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["j"], r["bucket"]): r["c"]
           for r in spark.sql("SELECT * FROM cms_mem").collect()}
    batch = load_table(spark, SF, "events")
    want = {(r["j"], r["bucket"]): r["c"]
            for r in cms_sketch(batch.select("event_type"),
                                "event_type").collect()}
    assert got == want and got


def test_streaming_ingest_into_rotated_sidecar(spark):
    """ADVICE r6 (medium): vectors streamed into an OPQ-rotated
    sidecar must be encoded IN THE ROTATED SPACE — the codebooks live
    there and knn_ivf_pq rotates queries, so unrotated appends would
    produce garbage codes that silently mis-rank in the ADC stage.
    Checked bit-exactly against the local encoder, then behaviorally
    with oversample=1 (pure-ADC candidate selection, no rerank mask)."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        pq_encode_local,
    )
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, SF, "embeddings")
    wd = "/tmp/qvss_stream_ivf_opq"
    shutil.rmtree(wd, ignore_errors=True)
    idx = IVFIndex.build(emb, wd, coarse_k=4, base_k=2)
    books = build_pq_sidecar(idx, m=8, ksub=16, seed=99, rotate=True)
    rz = np.load(os.path.join(idx.version_dir, "pq_rotation.npz"))

    rng = np.random.default_rng(23)
    rows = [(int(30_000 + i), rng.normal(size=64).astype(float).tolist())
            for i in range(10)]
    vec_dir = "/tmp/qvss_stream_vecs_opq"
    shutil.rmtree(vec_dir, ignore_errors=True)
    shutil.rmtree("/tmp/qvss_stream_ckpt_opq", ignore_errors=True)
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vec_dir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vec_dir))
    q = ingest_stream(idx, vstream, "/tmp/qvss_stream_ckpt_opq")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # bit-exact: the appended code equals the local rotated-space encode
    probe_id, probe_vec = rows[3]
    got_code = (spark.read.parquet(f"{idx.version_dir}/pq")
                .where(f"vec_id = {probe_id}")
                .collect())
    assert len(got_code) == 1
    v = np.asarray(probe_vec, dtype=np.float64)
    # the corpus stores float32: the streamed vector was encoded from
    # the float32-rounded values the batch collect returned
    v32 = v.astype(np.float32).astype(np.float64)
    want = pq_encode_local(
        ((v32 - rz["mean"]) @ rz["components"].T)[None, :], books)[0]
    assert list(got_code[0]["pq_codes"]) == [int(c) for c in want]
    # behavioral: ADC alone (oversample=1) ranks the streamed vector
    # first for its own query
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1, books=books)
    assert found.collect()[0]["vec_id"] == probe_id


def test_append_pq_codes_snapshot_follows_version(spark, tmp_path):
    """Regression (round 7): the ingest books_cache must drop its
    residual-centroid snapshot when maintenance bumps the version —
    a stale cached snapshot would be extended and SAVED over the new
    version's freshly-written one, silently reverting most partitions
    to pre-maintenance centroids."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=3)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_snapver"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=32, residual=True)
    cache: dict = {}
    rng = np.random.default_rng(5)
    v1 = rng.normal(size=(1, 16))
    ids1 = np.array([50_001], dtype=np.int64)
    pids1 = idx.insert(ids1, v1)
    assert _append_pq_codes(idx, ids1, v1, pids1, cache)
    # force splits so the new version has NEW partition ids
    summary = maintain(idx, split_size=32, merge_size=0)
    assert summary["splits"]
    v2 = rng.normal(size=(1, 16))
    ids2 = np.array([50_002], dtype=np.int64)
    pids2 = idx.insert(ids2, v2)
    assert _append_pq_codes(idx, ids2, v2, pids2, cache)
    # the persisted snapshot must cover the NEW layout (refresh wrote
    # it; the append may only EXTEND it) — a stale cache would have
    # overwritten it with the pre-maintenance partition set
    snap = load_residual_snapshot(idx.version_dir)
    live = {int(p) for p in idx.part_ids}
    assert live <= set(snap)


def test_streaming_ingest_into_local_sidecar(spark):
    """Vectors streamed into a LOPQ (per-cell-books) sidecar encode
    against THEIR partition's codebooks — checked bit-exactly against
    the local encoder on the routed partition's books + snapshot
    centroid, then behaviorally with oversample=1 (pure-ADC candidate
    selection)."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
        load_residual_snapshot,
        pq_encode_local,
    )
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, SF, "embeddings")
    wd = "/tmp/qvss_stream_ivf_lopq"
    shutil.rmtree(wd, ignore_errors=True)
    idx = IVFIndex.build(emb, wd, coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=8, ksub=16, seed=99, residual=True,
                     local=True)

    rng = np.random.default_rng(29)
    rows = [(int(40_000 + i), rng.normal(size=64).astype(float).tolist())
            for i in range(10)]
    vec_dir = "/tmp/qvss_stream_vecs_lopq"
    shutil.rmtree(vec_dir, ignore_errors=True)
    shutil.rmtree("/tmp/qvss_stream_ckpt_lopq", ignore_errors=True)
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vec_dir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vec_dir))
    q = ingest_stream(idx, vstream, "/tmp/qvss_stream_ckpt_lopq")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    probe_id, probe_vec = rows[3]
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where(f"vec_id = {probe_id}")
           .select("pq_codes", "partition_id").collect())
    assert len(got) == 1
    pid = int(got[0]["partition_id"])
    books = load_local_books(idx.version_dir)
    snap = load_residual_snapshot(idx.version_dir)
    v32 = (np.asarray(probe_vec, dtype=np.float64)
           .astype(np.float32).astype(np.float64))
    want = pq_encode_local((v32 - snap[pid])[None, :], books[pid])[0]
    assert list(got[0]["pq_codes"]) == [int(c) for c in want]
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1)
    assert found.collect()[0]["vec_id"] == probe_id


def test_append_pq_codes_trains_books_for_unseen_partition(spark, tmp_path):
    """A local (LOPQ) sidecar built before a partition EXISTED must
    not drop or mis-encode streamed rows routed there: the append
    trains books for the born cell from the batch's own residuals and
    EXTENDS the persisted store, so query-side LUTs stay consistent
    with the codes. The born-cell scenario is a partition created by
    inserts AFTER the build (grafted empty coarse cell) — NOT
    "drop an existing coded cell's books": a coded cell retrained
    from a small batch gets fewer codewords than its old codes index,
    an inconsistency no supported flow can produce (round-11
    lesson)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=3)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_lopq_unseen"),
                         coarse_k=4, base_k=2)
    far = np.full(16, 40.0)
    idx.coarse_centroids = np.vstack([idx.coarse_centroids, far])
    build_pq_sidecar(idx, m=4, ksub=16, residual=True, local=True)
    books_before = set(load_local_books(idx.version_dir))
    # route a batch at the empty coarse cell: inserts birth a new
    # partition the sidecar has never seen
    rng = np.random.default_rng(7)
    vecs = far + 0.01 * rng.normal(size=(8, 16))
    ids = np.arange(60_000, 60_008, dtype=np.int64)
    pids = idx.insert(ids, vecs)
    born = {int(p) for p in pids} - books_before
    assert born, "batch should have birthed a new partition"
    cache: dict = {}
    assert _append_pq_codes(idx, ids, vecs, pids, cache)
    books2 = load_local_books(idx.version_dir)
    assert born <= set(books2)                   # store extended
    # and the streamed rows are ADC-searchable with consistent books
    found, _ = knn_ivf_pq(idx, ([1], vecs[:1]), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1)
    assert found.collect()[0]["vec_id"] == int(ids[0])


def test_append_pq_codes_reloads_rebuilt_sidecar(spark, tmp_path):
    """ADVICE r7: the ingest books cache used to key only on the
    sidecar file PATH, so a same-flavor sidecar rebuild into the same
    version dir (bench does plain→residual→LOPQ in one dir) served a
    live stream stale books — codes inconsistent with the on-disk
    codebooks, a silent candidate-ranking corruption. The cache now
    keys on (path, sidecar mtime, meta mtime), mirroring the query
    side's _load_local_sidecar_cached."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        pq_encode_local,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=5)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_rebuild_cache"),
                         coarse_k=4, base_k=2)
    books1 = build_pq_sidecar(idx, m=4, ksub=16, seed=1)
    rng = np.random.default_rng(9)
    v1 = rng.normal(size=(2, 16))
    ids1 = np.arange(70_000, 70_002, dtype=np.int64)
    pids1 = idx.insert(ids1, v1)
    cache: dict = {}
    assert _append_pq_codes(idx, ids1, v1, pids1, cache)

    # REBUILD the same-flavor sidecar into the SAME version dir with
    # different books while the "stream" (the cache dict) stays live
    books2 = build_pq_sidecar(idx, m=4, ksub=16, seed=2)
    assert not np.array_equal(np.asarray(books1), np.asarray(books2))
    v2 = rng.normal(size=(2, 16))
    ids2 = np.arange(70_002, 70_004, dtype=np.int64)
    pids2 = idx.insert(ids2, v2)
    assert _append_pq_codes(idx, ids2, v2, pids2, cache)

    got = {r["vec_id"]: list(r["pq_codes"]) for r in
           spark.read.parquet(f"{idx.version_dir}/pq")
           .where("vec_id >= 70002").collect()}
    want = pq_encode_local(v2, books2)
    for i, vid in enumerate(ids2):
        assert got[int(vid)] == [int(c) for c in want[i]], \
            "appended codes came from the STALE pre-rebuild books"


def test_append_pq_codes_into_rotated_local_sidecar(spark, tmp_path):
    """Full-LOPQ sidecar (per-cell rotations + per-cell books) under
    streaming appends. Existing partitions: streamed codes must be
    encoded through THAT cell's rotation (bit-identical to re-encoding
    the residual through the persisted rotation+books by hand — an
    unrotated append would silently mis-rank in the ADC stage, the
    same failure mode ADVICE r6 flagged for the global rotated
    sidecar). A partition born after the build gets its OWN rotation
    fitted from the batch and persisted atomically with its books."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
        load_local_rots,
        load_residual_snapshot,
        pq_encode_local,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=3)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_lopqr_stream"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, residual=True, local=True,
                     rotate=True, opq_iters=2)
    rots = load_local_rots(idx.version_dir)
    books = load_local_books(idx.version_dir)
    assert rots is not None and set(rots) == set(books)

    # --- existing partitions: append rows near two live centroids
    pos = {int(p): i for i, p in enumerate(idx.part_ids)}
    rng = np.random.default_rng(17)
    targets = sorted(books)[:2]
    vecs = np.vstack([idx.centroids[pos[t]] + 0.05 * rng.normal(size=(3, 16))
                      for t in targets])
    ids = np.arange(80_000, 80_006, dtype=np.int64)
    pids = idx.insert(ids, vecs)
    cache: dict = {}
    assert _append_pq_codes(idx, ids, vecs, pids, cache)
    # bit-exact: streamed codes == hand-encoded rotated residuals
    snap = load_residual_snapshot(idx.version_dir)
    streamed = (spark.read.parquet(f"{idx.version_dir}/pq")
                .where(F.col(idx.id_col) >= 80_000).collect())
    assert len(streamed) == len(ids)
    for r in streamed:
        p = int(r["partition_id"])
        x = vecs[list(ids).index(r[idx.id_col])]
        res = (x - snap[p] - rots[p]["mean"]) @ rots[p]["components"].T
        want = pq_encode_local(res[None, :], books[p])[0]
        assert list(r["pq_codes"]) == [int(c) for c in want]

    # --- unseen partition: a cell BORN after the build (grafted
    # empty coarse cell — the production never-seen scenario; round
    # 12 replaced the dropped-books setup, which the appender now
    # refuses): its rotation AND books are fitted from the batch and
    # persisted
    far = np.full(16, 40.0)
    idx.coarse_centroids = np.vstack([idx.coarse_centroids, far])
    vecs2 = far + 0.01 * rng.normal(size=(8, 16))
    ids2 = np.arange(81_000, 81_008, dtype=np.int64)
    pids2 = idx.insert(ids2, vecs2)
    born = {int(p) for p in pids2} - set(books)
    assert born, "batch should have birthed a new partition"
    victim = next(iter(born))
    assert _append_pq_codes(idx, ids2, vecs2, pids2, {})
    assert victim in load_local_books(idx.version_dir)
    assert victim in load_local_rots(idx.version_dir)
    found, _ = knn_ivf_pq(idx, ([1], vecs2[:1]), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1)
    assert found.collect()[0]["vec_id"] == int(ids2[0])


def test_streaming_ingest_invalidates_routed_calibration(spark, tmp_path):
    """Streaming ingest is DML: a routed calibration fit (fitted
    against routed APS scoring on a specific layout) must be
    invalidated by the micro-batch inserts — serving with
    policy=\"calibrated\" afterwards must not silently reuse the
    stale fit (it auto-refits WITH the recorded route restriction,
    warning loudly), and maintain(recalibrate=True, route_cells=...)
    restores an eager routed fit."""
    import warnings

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=3)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_routed_stream"),
                         coarse_k=4, base_k=2)
    cal = idx.calibrate(n_queries=32, route_cells=3)
    assert cal["route_cells"] == 3 and idx._calibration is not None

    rng = np.random.default_rng(31)
    rows = [(int(70_000 + i),
             rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vec_dir = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vec_dir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vec_dir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the micro-batch inserts invalidated the routed fit
    assert idx._calibration is None

    # eager refit at maintenance time restores a routed fit; serving
    # afterwards must NOT warn (no implicit auto-fit)
    maintain(idx, recalibrate={"n_queries": 32, "route_cells": 3})
    assert idx._calibration is not None
    assert idx._calibration["route_cells"] == 3
    # Differential vs the reference policy under the SAME route
    # restriction at fullprobe (routing may legitimately exclude the
    # cell holding a random out-of-distribution insert — out-of-route
    # neighbors are unreachable by design, so absolute ground truth is
    # the wrong oracle here). warnings→error pins that serving never
    # pays an implicit auto-fit after the eager maintenance refit.
    qmat = np.array([rows[0][1]], dtype=np.float64)
    ref, _ = idx.search(([1], qmat), k=1, route_cells=3,
                        target_recall=1.0, max_probe=len(idx.part_ids))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        found, _ = idx.search(([1], qmat), k=1, policy="calibrated",
                              route_cells=3, target_recall=1.0,
                              max_probe=len(idx.part_ids))
    assert found.collect()[0]["vec_id"] == ref.collect()[0]["vec_id"]


def test_knn_ivf_pq_routed(spark, tmp_path):
    """Routed (two-level APS) probing on the COMPRESSED path (round
    7): knn_ivf_pq(route_cells=N) restricts scoring and probing to
    each query's nearest coarse cells — the same restriction
    search() has, so compressed serving works at partition counts
    where even the full centroid scan is a cost. Pins: (1) routed
    hybrid ≡ routed UNCOMPRESSED search top-1 for self-queries at
    full within-route probe (identical restriction on both sides);
    (2) a routed calibration fit composes with the routed hybrid and
    a mismatched restriction refuses with the shared message."""
    import numpy as np
    import pytest as _pytest

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 800, d=16, n_clusters=8, seed=21)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_pq_routed"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=32, seed=99, residual=True)
    rows = corpus.where("vec_id < 8").collect()
    qmat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in rows], dtype=np.int64)

    ref, m_ref = idx.search((qids, qmat), k=1, route_cells=2,
                            target_recall=1.0,
                            max_probe=len(idx.part_ids))
    got, m_got = knn_ivf_pq(idx, (qids, qmat), k=1, route_cells=2,
                            target_recall=1.0,
                            max_probe=len(idx.part_ids),
                            oversample=400)
    want = {(int(r["query_id"]), int(r["vec_id"]))
            for r in ref.collect()}
    have = {(int(r["query_id"]), int(r["vec_id"]))
            for r in got.collect()}
    assert have == want
    # routing restricted the hybrid's scan like the uncompressed path
    assert m_got["avg_scanned"] <= m_ref["avg_scanned"] + 1e-9

    # routed fit composes; mismatched restriction refuses
    idx.calibrate(n_queries=32, route_cells=2)
    f2, _ = knn_ivf_pq(idx, (qids, qmat), k=1, policy="calibrated",
                       route_cells=2, target_recall=1.0,
                       max_probe=len(idx.part_ids), oversample=400)
    assert {(int(r["query_id"]), int(r["vec_id"]))
            for r in f2.collect()} == want
    with _pytest.raises(ValueError, match="route_cells"):
        knn_ivf_pq(idx, (qids, qmat), k=1, policy="calibrated")


def test_streaming_ingest_into_aniso_cosine_sidecar(spark, tmp_path):
    """Streamed appends into an ANISOTROPIC cosine sidecar (round 8):
    the streamed code must come from the same score-aware
    coordinate-descent assignment the batch encoder used, computed on
    the UNIT-NORMALIZED vector (the corpus stores unit vectors —
    plain-argmin or unnormalized codes would silently disagree with
    the on-disk encoding). Pinned bit-exactly, then behaviorally:
    pure-ADC candidate selection (oversample=1) ranks the streamed
    vector first for its own query."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        aniso_encode_streamed,
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=6)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_aniso_stream"),
                         coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             anisotropic=3.0)

    rng = np.random.default_rng(41)
    rows = [(int(80_000 + i), rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    probe_id, probe_vec = rows[2]
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where(f"vec_id = {probe_id}").collect())
    assert len(got) == 1
    # the stream collected float32-rounded values, then normalized
    v = np.asarray(probe_vec, dtype=np.float32).astype(np.float64)
    v = v / (np.linalg.norm(v) + 1e-12)
    want = aniso_encode_streamed(v[None, :], books, 3.0)[0]
    assert list(got[0]["pq_codes"]) == [int(c) for c in want]
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1, books=books)
    assert found.collect()[0]["vec_id"] == probe_id


def test_streaming_ingest_into_aniso_residual_sidecar(spark, tmp_path):
    """Streamed appends into the RESIDUAL anisotropic sidecar: the
    streamed code must encode r = x − c_p(snapshot) under the
    score-aware assignment whose direction is the NORMALIZED ORIGINAL
    vector — pinned bit-exactly against the local encoder, then
    behaviorally (pure-ADC top-1 on the streamed vector's own
    query)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        aniso_encode_streamed,
        build_pq_sidecar,
        knn_ivf_pq,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=8)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_anires_stream"),
                         coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             anisotropic=3.0, residual=True)

    rng = np.random.default_rng(43)
    rows = [(int(85_000 + i), rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    probe_id, probe_vec = rows[4]
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where(f"vec_id = {probe_id}").collect())
    assert len(got) == 1
    pid = int(got[0]["partition_id"]) if "partition_id" in \
        got[0].asDict() else None
    # replicate the streaming pipeline: float32 read → normalize →
    # residual vs the SNAPSHOT centroid → score-aware encode with the
    # normalized original as direction
    v = np.asarray(probe_vec, dtype=np.float32).astype(np.float64)
    v = v / (np.linalg.norm(v) + 1e-12)
    snap = load_residual_snapshot(idx.version_dir)
    if pid is None:
        pid = int(spark.read.parquet(f"{idx.version_dir}/pq")
                  .where(f"vec_id = {probe_id}")
                  .select("partition_id").head()[0])
    r = v - snap[pid]
    want = aniso_encode_streamed(r[None, :], books, 3.0,
                                 dirs=v[None, :])[0]
    assert list(got[0]["pq_codes"]) == [int(c) for c in want]
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=1, books=books)
    assert found.collect()[0]["vec_id"] == probe_id


def test_streaming_ingest_into_aniso_rotated_sidecar(spark, tmp_path):
    """Streamed appends into the ROTATED × RESIDUAL anisotropic
    sidecar (round 9): the streamed code must encode
    ((x − c_p) − mean) @ Rᵀ under the GUARDED streamed assignment
    (round 10 contract — aniso_encode_streamed) whose direction rides
    the same transport, x̂ @ Rᵀ — NOT a normalization of the rotated
    (mean-shifted) encode vector. This test's streamed vectors are
    out-of-distribution: the pure score-aware code retains ~3% of the
    residual energy (own-code ADC 0.942 vs 0.659 for the best corpus
    code), so the guard falls back to the plain MSE-optimal code
    (err ratio 0.70), keeping the vector ADC-reachable. Pinned
    bit-exactly against the guarded local encoder, then behaviorally
    (exact rerank top-1 on the streamed vector's own query)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        aniso_encode_streamed,
        build_pq_sidecar,
        knn_ivf_pq,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=12)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_anirot_stream"),
                         coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             anisotropic=3.0, residual=True,
                             rotate=True)
    import os
    rz = np.load(os.path.join(idx.version_dir, "pq_rotation.npz"))
    mean0, R0 = rz["mean"], rz["components"]

    rng = np.random.default_rng(44)
    rows = [(int(87_000 + i), rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    probe_id, probe_vec = rows[3]
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where(f"vec_id = {probe_id}")
           .select("pq_codes", "partition_id").collect())
    assert len(got) == 1
    pid = int(got[0]["partition_id"])
    # replicate the streaming pipeline: float32 read → normalize →
    # residual vs the SNAPSHOT centroid → mean-shift + rotate →
    # score-aware encode with the ROTATED original direction
    v = np.asarray(probe_vec, dtype=np.float32).astype(np.float64)
    v = v / (np.linalg.norm(v) + 1e-12)
    snap = load_residual_snapshot(idx.version_dir)
    enc = (v - snap[pid] - mean0) @ R0.T
    d = v @ R0.T                      # v is already unit
    want = aniso_encode_streamed(enc[None, :], books, 3.0,
                                 dirs=d[None, :])[0]
    assert list(got[0]["pq_codes"]) == [int(c) for c in want]
    # behavioral: the exact rerank puts the streamed vector first for
    # its own query. The guard's plain fallback code has err ratio
    # 0.70 (vs 0.97 score-aware) — near the best corpus code's 0.66 —
    # so a modest oversample surfaces it as an ADC candidate and the
    # exact rerank does the rest
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=64, books=books)
    assert found.collect()[0]["vec_id"] == probe_id


def test_streaming_ingest_distributed_path_sidecar(spark, tmp_path):
    """Backfill-scale ingest (round 10, VERDICT r9 #4): with
    ``distributed_threshold`` reached, the batch routes through
    insert_distributed (mapInPandas, no driver collect of the data)
    and the sidecar codes come from the distributed appender. The
    per-row kernel is shared with the driver path, so the codes must
    be bit-identical to the driver replication — checked on the
    hardest flavor, the rotated × residual anisotropic sidecar — and
    the streamed vectors must be visible to compressed search."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        aniso_encode_streamed,
        build_pq_sidecar,
        knn_ivf_pq,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=12)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_dist_stream"),
                         coarse_k=4, base_k=2, metric="cosine")
    books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                             anisotropic=3.0, residual=True,
                             rotate=True)
    rz = np.load(os.path.join(idx.version_dir, "pq_rotation.npz"))
    mean0, R0 = rz["mean"], rz["components"]

    rng = np.random.default_rng(44)
    rows = [(int(87_000 + i), rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, distributed_threshold=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    snap = load_residual_snapshot(idx.version_dir)
    pq = (spark.read.parquet(f"{idx.version_dir}/pq")
          .where("vec_id >= 87000").collect())
    assert len(pq) == len(rows)
    by_id = {int(r["vec_id"]): r for r in pq}
    for vid, vraw in rows:
        v = np.asarray(vraw, dtype=np.float32).astype(np.float64)
        v = v / (np.linalg.norm(v) + 1e-12)
        pid = int(by_id[vid]["partition_id"])
        enc = (v - snap[pid] - mean0) @ R0.T
        d = v @ R0.T
        want = aniso_encode_streamed(enc[None, :], books, 3.0,
                                     dirs=d[None, :])[0]
        assert list(by_id[vid]["pq_codes"]) == [int(c) for c in want]
    # behavioral: compressed search surfaces a streamed vector
    probe_id, probe_vec = rows[3]
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=64, books=books)
    assert found.collect()[0]["vec_id"] == probe_id


def test_streaming_ingest_into_aniso_lopq_sidecar(spark, tmp_path):
    """Streamed appends into the ANISO × LOPQ sidecar (round 10): the
    streamed code must encode r = x − c_p(snapshot) against ITS
    partition's score-aware books under the GUARDED streamed
    assignment, with the direction rebuilt as normalize(r + c_p) —
    the same per-cell rule the builder used. Pinned bit-exactly
    against the guarded local encoder, then behaviorally (exact
    rerank top-1 on the streamed vector's own query)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        aniso_encode_streamed,
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=13)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_anisolopq"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                     anisotropic=3.0, residual=True, local=True)

    rng = np.random.default_rng(45)
    rows = [(int(88_000 + i), rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    books = load_local_books(idx.version_dir)
    snap = load_residual_snapshot(idx.version_dir)
    probe_id, probe_vec = rows[2]
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where(f"vec_id = {probe_id}")
           .select("pq_codes", "partition_id").collect())
    assert len(got) == 1
    pid = int(got[0]["partition_id"])
    v = np.asarray(probe_vec, dtype=np.float32).astype(np.float64)
    v = v / (np.linalg.norm(v) + 1e-12)
    r = v - snap[pid]
    want = aniso_encode_streamed(r[None, :], books[pid], 3.0,
                                 dirs=v[None, :])[0]
    assert list(got[0]["pq_codes"]) == [int(c) for c in want]
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=64)
    assert found.collect()[0]["vec_id"] == probe_id


def test_aniso_lopq_gate():
    """The aniso × LOPQ gate (round 10): per-cell training requires
    the centroid snapshot (the direction rule needs c_p); sq8 stays
    an explicit refusal, and opq_iters without a rotation stays one
    (round 13 made opq_iters compose with BOTH rotated aniso flavors
    — global and per-cell — so only the rotation-less form, where
    the parameter would be silently ignored, refuses)."""
    import pytest as _pytest

    from quake_vector_search_spark.operators.quantization import (
        train_local_books,
    )

    with _pytest.raises(ValueError, match="cents"):
        train_local_books(None, m=4, ksub=16, seed=1,
                          cell_sample_n=100, id_col="vec_id",
                          vec_col="embedding", anisotropic=3.0)

    class _FakeIdx:
        metric = "cosine"

        def read_corpus(self):
            return None

    with _pytest.raises(ValueError, match="rotate"):
        from quake_vector_search_spark.operators.quantization import (
            build_pq_sidecar,
        )
        build_pq_sidecar(_FakeIdx(), m=4, ksub=16,
                         anisotropic=3.0, residual=True, local=True,
                         rotate=False, opq_iters=2)


def test_streaming_ingest_into_aniso_lopq_rotated_sidecar(spark,
                                                          tmp_path):
    """Streamed appends into the FULL per-cell composition (late
    round 10 — aniso × LOPQ × per-cell eigalloc rotations): the
    streamed code must encode ((r) − mean_p) @ R_pᵀ against ITS
    cell's score-aware books under the GUARDED assignment, with the
    direction transported through the SAME cell rotation,
    normalize(r + c_p) @ R_pᵀ. Pinned bit-exactly, then behaviorally
    (exact rerank top-1 on the streamed vector's own query)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        aniso_encode_streamed,
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
        load_local_rots,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=14)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_anisolopqr"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                     anisotropic=3.0, residual=True, local=True,
                     rotate=True)

    rng = np.random.default_rng(46)
    rows = [(int(89_000 + i), rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    books = load_local_books(idx.version_dir)
    rots = load_local_rots(idx.version_dir)
    snap = load_residual_snapshot(idx.version_dir)
    probe_id, probe_vec = rows[4]
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where(f"vec_id = {probe_id}")
           .select("pq_codes", "partition_id").collect())
    assert len(got) == 1
    pid = int(got[0]["partition_id"])
    v = np.asarray(probe_vec, dtype=np.float32).astype(np.float64)
    v = v / (np.linalg.norm(v) + 1e-12)
    r = v - snap[pid]
    rt = rots[pid]
    enc = (r - rt["mean"]) @ rt["components"].T
    d = v @ rt["components"].T
    want = aniso_encode_streamed(enc[None, :], books[pid], 3.0,
                                 dirs=d[None, :])[0]
    assert list(got[0]["pq_codes"]) == [int(c) for c in want]
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=64)
    assert found.collect()[0]["vec_id"] == probe_id


def test_streaming_ingest_distributed_lopq_fallback(spark, tmp_path):
    """The distributed ingest path over a LOCAL (per-cell) sidecar
    (round 11 — no more driver fallback, VERDICT r10 #2): the batch
    routes and writes through insert_distributed and the sidecar
    append runs the DISTRIBUTED per-cell encoder. Codes must match
    the persisted books exactly and the streamed vector be searchable
    through compressed search."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
        load_residual_snapshot,
        pq_encode_local,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=15)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_dlopq"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                     residual=True, local=True)

    rng = np.random.default_rng(47)
    rows = [(int(90_000 + i), rng.normal(size=16).astype(float).tolist())
            for i in range(6)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, distributed_threshold=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    books = load_local_books(idx.version_dir)
    snap = load_residual_snapshot(idx.version_dir)
    probe_id, probe_vec = rows[1]
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where(f"vec_id = {probe_id}")
           .select("pq_codes", "partition_id").collect())
    assert len(got) == 1
    pid = int(got[0]["partition_id"])
    v = np.asarray(probe_vec, dtype=np.float32).astype(np.float64)
    r = v - snap[pid]
    want = pq_encode_local(r[None, :], books[pid])[0]
    assert list(got[0]["pq_codes"]) == [int(c) for c in want]
    found, _ = knn_ivf_pq(idx, ([1], np.array([probe_vec])), k=1,
                          target_recall=1.0, max_probe=10**9,
                          oversample=64)
    assert found.collect()[0]["vec_id"] == probe_id


def test_books_table_format_matches_npz(spark, tmp_path):
    """The parquet books TABLE (round 11 — the ≥10⁵-cell write path
    SCALING.md committed to): a table-format LOPQ sidecar must be
    bit-identical to the npz twin in books, rotations, codes and
    search results — storage only, never semantics. Meta records the
    format so maintenance rebuilds keep it."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
        load_local_rots,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 500, d=16, n_clusters=5, seed=25)
    idxs = {}
    for fmt in ("npz", "table"):
        idx = IVFIndex.build(corpus, str(tmp_path / f"tf_{fmt}"),
                             coarse_k=3, base_k=2, metric="cosine")
        build_pq_sidecar(idx, m=4, ksub=16, seed=7, anisotropic=3.0,
                         residual=True, local=True, rotate=True,
                         books_format=fmt)
        idxs[fmt] = idx
    a, b = idxs["npz"], idxs["table"]
    assert os.path.exists(os.path.join(a.version_dir,
                                       "pq_local_books.npz"))
    assert not os.path.exists(os.path.join(b.version_dir,
                                           "pq_local_books.npz"))
    assert os.path.isdir(os.path.join(b.version_dir,
                                      "pq_local_books_tbl"))
    with open(os.path.join(b.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["books_format"] == "table"
    ba, bb = (load_local_books(a.version_dir),
              load_local_books(b.version_dir))
    assert set(ba) == set(bb)
    for p in ba:
        assert np.array_equal(ba[p], bb[p])
    ra, rb = (load_local_rots(a.version_dir),
              load_local_rots(b.version_dir))
    for p in ra:
        assert np.array_equal(ra[p]["mean"], rb[p]["mean"])
        assert np.array_equal(ra[p]["components"],
                              rb[p]["components"])
    # pid-restricted load pushes the filter (subset only)
    some = sorted(bb)[:2]
    part = load_local_books(b.version_dir, pids=some)
    assert set(part) == set(some)
    # identical codes on disk and identical search results
    rows_a = {int(r["vec_id"]): tuple(r["pq_codes"]) for r in
              spark.read.parquet(f"{a.version_dir}/pq").collect()}
    rows_b = {int(r["vec_id"]): tuple(r["pq_codes"]) for r in
              spark.read.parquet(f"{b.version_dir}/pq").collect()}
    assert rows_a == rows_b
    rng = np.random.default_rng(3)
    q = rng.normal(size=(3, 16))
    fa, _ = knn_ivf_pq(a, (np.arange(3), q), k=5, target_recall=1.0,
                       max_probe=10**9, oversample=100)
    fb, _ = knn_ivf_pq(b, (np.arange(3), q), k=5, target_recall=1.0,
                       max_probe=10**9, oversample=100)
    got_a = {(int(r["query_id"]), int(r["rank"])): int(r["vec_id"])
             for r in fa.collect()}
    got_b = {(int(r["query_id"]), int(r["rank"])): int(r["vec_id"])
             for r in fb.collect()}
    assert got_a == got_b


def test_books_table_append_is_append_only(spark, tmp_path):
    """The table format's reason to exist: a streamed append of a
    never-seen cell's books ADDS one parquet file — every existing
    file stays byte-identical (name + size + mtime) — while the npz
    format rewrites its whole archive. Appended books must match the
    npz twin bit-for-bit (shared _train_local_cell kernel), stay
    loadable, and keep the streamed rows searchable; a maintenance
    rebuild preserves the format."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        _books_table_files,
        build_pq_sidecar,
        knn_ivf_pq,
        load_local_books,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 500, d=16, n_clusters=5, seed=26)
    far = np.full(16, 40.0)
    twins = {}
    for fmt in ("npz", "table"):
        idx = IVFIndex.build(corpus, str(tmp_path / f"ap_{fmt}"),
                             coarse_k=3, base_k=2)
        # graft an EMPTY coarse cell: the batch below births a new
        # partition AFTER the sidecar build — the PRODUCTION
        # never-seen-cell scenario (no pre-existing codes)
        idx.coarse_centroids = np.vstack([idx.coarse_centroids, far])
        build_pq_sidecar(idx, m=4, ksub=16, seed=7, residual=True,
                         local=True, books_format=fmt)
        twins[fmt] = idx
    a, b = twins["npz"], twins["table"]
    books_before = set(load_local_books(b.version_dir))

    files_before = {(os.path.basename(f), os.path.getsize(f),
                     os.path.getmtime(f))
                    for f in _books_table_files(b.version_dir)}
    rng = np.random.default_rng(27)
    vecs = far + 0.02 * rng.normal(size=(6, 16))
    ids = np.arange(77_000, 77_006, dtype=np.int64)
    new_pid = {}
    for tag, idx in (("a", a), ("b", b)):
        pids = idx.insert(ids, vecs)
        born = set(int(p) for p in pids) - books_before
        assert born, "batch should have birthed a new partition"
        new_pid[tag] = born
        assert _append_pq_codes(idx, ids, vecs, pids, {})
    assert new_pid["a"] == new_pid["b"]
    victim = next(iter(new_pid["b"]))
    files_after = {(os.path.basename(f), os.path.getsize(f),
                    os.path.getmtime(f))
                   for f in _books_table_files(b.version_dir)}
    assert files_before < files_after            # strictly grew
    assert len(files_after) == len(files_before) + 1
    # trained books identical across formats (shared kernel)
    ba = load_local_books(a.version_dir)
    bb = load_local_books(b.version_dir)
    assert victim in bb
    assert np.array_equal(ba[victim], bb[victim])
    # streamed rows searchable through the table-format sidecar
    found, _ = knn_ivf_pq(b, ([1], vecs[:1]), k=1, target_recall=1.0,
                          max_probe=10**9, oversample=64)
    assert found.collect()[0]["vec_id"] == int(ids[0])
    # maintenance rebuild keeps the format
    maintain(b)
    assert _books_table_files(b.version_dir)
    assert not os.path.exists(os.path.join(b.version_dir,
                                           "pq_local_books.npz"))
    found2, _ = knn_ivf_pq(b, ([1], vecs[:1]), k=1, target_recall=1.0,
                           max_probe=10**9, oversample=64)
    assert found2.collect()[0]["vec_id"] == int(ids[0])


def test_books_table_distributed_append_parity(spark, tmp_path):
    """Format × path orthogonality: a TABLE-format sidecar appended
    through the DISTRIBUTED appender must produce books and codes
    bit-identical to an npz twin appended on the driver path — the
    storage format and the execution path are independent axes, and
    the distributed table append is still append-only (one new
    file)."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        _books_table_files,
        build_pq_sidecar,
        load_local_books,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        _append_pq_codes,
        _append_pq_codes_distributed,
    )

    corpus = make_dataset(spark, 500, d=16, n_clusters=5, seed=28)
    far = np.full(16, 40.0)
    twins = {}
    for tag, fmt in (("a", "npz"), ("b", "table")):
        idx = IVFIndex.build(corpus, str(tmp_path / f"dp_{tag}"),
                             coarse_k=3, base_k=2)
        idx.coarse_centroids = np.vstack([idx.coarse_centroids, far])
        build_pq_sidecar(idx, m=4, ksub=16, seed=7, residual=True,
                         local=True, books_format=fmt)
        twins[tag] = idx
    a, b = twins["a"], twins["b"]

    rng = np.random.default_rng(29)
    vecs = np.vstack([far + 0.02 * rng.normal(size=(6, 16)),
                      rng.normal(size=(4, 16))])
    ids = np.arange(78_000, 78_010, dtype=np.int64)

    pids_a = a.insert(ids, vecs)
    assert _append_pq_codes(a, ids, vecs, pids_a, {})

    files_before = {os.path.basename(f)
                    for f in _books_table_files(b.version_dir)}
    bdf = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
        "vec_id long, embedding array<double>")
    routed = b.insert_distributed(bdf, unpersist=False)
    try:
        res = _append_pq_codes_distributed(b, routed, {})
    finally:
        routed.routing_cache.unpersist()
    assert res == "done"
    files_after = {os.path.basename(f)
                   for f in _books_table_files(b.version_dir)}
    assert files_before < files_after
    assert len(files_after) == len(files_before) + 1

    ba, bb = (load_local_books(a.version_dir),
              load_local_books(b.version_dir))
    assert set(ba) == set(bb)
    # cross-TWIN book values agree only to ulps here: build-time books
    # depend on grouped-map task arrival order, and the BORN cell's
    # snapshot centroid comes from insert-time means, which agree
    # across insert paths only up to float summation order. The exact
    # driver-vs-distributed pin (same snapshot, same row set) is
    # test_distributed_lopq_append_parity_with_driver; this test pins
    # the FORMAT axis: table storage changes nothing semantically.
    for p in bb:
        assert np.allclose(ba[p], bb[p]), p
    built_pids = {int(r["partition_id"]) for r in
                  spark.read.parquet(f"{b.version_dir}/pq")
                  .where("vec_id < 78000")
                  .select("partition_id").distinct().collect()}
    born = set(bb) - built_pids
    assert born, "no partition was born after the build"
    # every batch row coded exactly once, pids matching the driver twin
    rows_a = {int(r["vec_id"]): int(r["partition_id"])
              for r in spark.read.parquet(f"{a.version_dir}/pq")
              .where("vec_id >= 78000").collect()}
    rows_b = {int(r["vec_id"]): int(r["partition_id"])
              for r in spark.read.parquet(f"{b.version_dir}/pq")
              .where("vec_id >= 78000").collect()}
    assert len(rows_b) == len(ids)
    assert rows_a == rows_b
    # within-twin consistency: codes searchable through the appended
    # table (covers the born cell's books + rows end-to-end)
    from quake_vector_search_spark.operators.quantization import (
        knn_ivf_pq,
    )
    found, _ = knn_ivf_pq(b, ([1], vecs[:1]), k=1, target_recall=1.0,
                          max_probe=10**9, oversample=64)
    assert found.collect()[0]["vec_id"] == int(ids[0])


def test_ood_rate_triggered_sidecar_rebuild(spark, tmp_path):
    """The OOD-drift maintenance trigger (round 11, VERDICT r10 #3):
    a long-running stream of out-of-distribution vectors (1) bumps
    the persisted per-sidecar fallback counter past the knob rate,
    (2) makes the next ``maintain()`` RETRAIN the books on the
    drifted corpus instead of carrying them forward, after which
    (3) every streamed vector surfaces as its own pure-ADC top-1
    candidate (the bench's streamed_ood endpoint, restored to 1.0)
    and (4) the drift window resets. The knob rides pq_meta.json
    (build-time), with a maintain() override."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_ood_stats,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=33)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_oodr"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, anisotropic=3.0,
                     residual=True, rotate=True,
                     # strict guard (fall back under 50% retained
                     # energy) so the drifted stream reliably counts
                     # as OOD; the rate knob is what's under test
                     ood_min_explained=0.5,
                     ood_rebuild_rate=0.3)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["ood_rebuild_rate"] == 0.3
    assert load_ood_stats(idx.version_dir) == {"n": 0, "ood": 0}

    # stream OOD vectors: unclustered random directions are far from
    # every codeword of books trained on the 6-cluster corpus (the
    # rotated composition measured ~3% retained energy in r10)
    rng = np.random.default_rng(53)
    rows = [(int(95_000 + i),
             rng.normal(size=16).astype(float).tolist())
            for i in range(8)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    stats = load_ood_stats(idx.version_dir)
    assert stats["n"] == 8
    assert stats["ood"] / stats["n"] > 0.3, stats

    def own_candidate_rate():
        hits = 0
        for vid, vec in rows:
            found, _ = knn_ivf_pq(idx, ([1], np.array([vec])), k=1,
                                  target_recall=1.0, max_probe=10**9,
                                  oversample=1)
            hits += int(found.collect()[0]["vec_id"] == vid)
        return hits / len(rows)

    pre = own_candidate_rate()

    summary = maintain(idx, ood_rebuild_min_n=5)
    assert summary["ood_rate"] == stats["ood"] / stats["n"]
    assert summary["pq_retrained"] is True
    assert summary["pq_refreshed"] is True

    post = own_candidate_rate()
    assert post == 1.0, (pre, post)
    assert post >= pre
    # drift window reset with the rebuild
    assert load_ood_stats(idx.version_dir) == {"n": 0, "ood": 0}
    # the retrained meta carries the knob forward
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["ood_rebuild_rate"] == 0.3
    # and a second maintain with a clean counter does NOT retrain
    summary2 = maintain(idx)
    assert summary2["pq_retrained"] is False
    assert summary2["ood_rate"] is None


def test_distributed_lopq_append_parity_with_driver(spark, tmp_path):
    """The distributed LOPQ appender (round 11, VERDICT r10 #2) must
    be BIT-IDENTICAL to the driver appender on the same batch — codes
    AND the books/rotations it trains for a never-seen cell — on the
    full per-cell composition (aniso × LOPQ × per-cell rotations),
    and it must return "done" (the round-10 "local" fallback seam is
    gone). The never-seen cell is the PRODUCTION scenario (round 12,
    VERDICT r11 #1): a partition BORN after the sidecar build
    (grafted empty coarse cell), not a coded cell with dropped books
    — that state is unreachable by any supported flow and now fails
    loudly at append time. Both twins mutate through the DRIVER
    insert so centroid state (hence the born cell's snapshot) is
    bit-identical — the test isolates the APPEND execution path;
    insert-path pid parity is pinned separately
    (ivf_dml_distributed_roundtrip)."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_local_books,
        load_local_rots,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        _append_pq_codes,
        _append_pq_codes_distributed,
    )

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=21)
    # aniso sidecars require a cosine index (quantization.py:1494) —
    # the grafted coarse centroid must therefore be a UNIT vector or
    # the normalized batch can never route to it
    far = np.full(16, 40.0)
    far_dir = far / np.linalg.norm(far)
    twins = []
    for tag in ("a", "b"):
        idx = IVFIndex.build(corpus, str(tmp_path / f"tw_{tag}"),
                             coarse_k=4, base_k=2, metric="cosine")
        # graft an EMPTY coarse cell: the batch below births a new
        # partition AFTER the sidecar build
        idx.coarse_centroids = np.vstack([idx.coarse_centroids,
                                          far_dir])
        build_pq_sidecar(idx, m=4, ksub=16, seed=7, anisotropic=3.0,
                         residual=True, local=True, rotate=True)
        twins.append(idx)
    a, b = twins
    books_before = set(load_local_books(a.version_dir))

    # batch aimed at the empty coarse cell plus covered cells
    rng = np.random.default_rng(23)
    vecs = np.vstack([far + 0.05 * rng.normal(size=(8, 16)),
                      rng.normal(size=(4, 16))])
    ids = np.arange(70_000, 70_012, dtype=np.int64)

    # driver insert on BOTH twins (bit-identical centroid state)
    pids_a = a.insert(ids, vecs)
    pids_b = b.insert(ids, vecs)
    born = sorted({int(p) for p in pids_a} - books_before)
    assert born, "batch should have birthed a new partition"
    assert pids_a.tolist() == pids_b.tolist()

    # cosine corpus rows are UNIT vectors — both appenders must encode
    # the identical normalized float64 values (ingest_stream does this
    # before the driver append; insert_distributed's routed frame
    # carries them already normalized)
    nvecs = vecs / (np.linalg.norm(vecs, axis=1, keepdims=True)
                    + 1e-12)

    # driver APPEND on twin A
    assert _append_pq_codes(a, ids, nvecs, pids_a, {})

    # distributed APPEND on twin B: the routed frame the distributed
    # DML path would hand over (id, normalized float64 vec,
    # partition_id)
    routed = spark.createDataFrame(
        [(int(i), v.tolist(), int(p))
         for i, v, p in zip(ids, nvecs, pids_b)],
        "vec_id long, embedding array<double>, partition_id long")
    res = _append_pq_codes_distributed(b, routed, {})
    assert res == "done"

    # identical trained books + rotations for the born cell(s)
    books_a = load_local_books(a.version_dir)
    books_b = load_local_books(b.version_dir)
    rots_a = load_local_rots(a.version_dir)
    rots_b = load_local_rots(b.version_dir)
    for p in born:
        assert p in books_b
        assert np.array_equal(books_a[p], books_b[p])
        assert np.array_equal(rots_a[p]["mean"], rots_b[p]["mean"])
        assert np.array_equal(rots_a[p]["components"],
                              rots_b[p]["components"])
    # identical codes row-by-row
    rows_a = {int(r["vec_id"]): (list(r["pq_codes"]),
                                 int(r["partition_id"]))
              for r in spark.read.parquet(f"{a.version_dir}/pq")
              .where("vec_id >= 70000").collect()}
    rows_b = {int(r["vec_id"]): (list(r["pq_codes"]),
                                 int(r["partition_id"]))
              for r in spark.read.parquet(f"{b.version_dir}/pq")
              .where("vec_id >= 70000").collect()}
    assert rows_a == rows_b
    assert set(rows_a) == set(int(i) for i in ids)


def test_ood_drift_window_survives_carry_books_maintenance(
        spark, tmp_path):
    """The streamed-OOD drift window survives NON-retrain maintenance
    (round 13, ADVICE r11 #1): a carry-books refresh re-encodes
    against the SAME books the drift was measured against, so
    ``refresh_pq_sidecar`` must carry ``ood_stats.json`` into the new
    version dir instead of resetting it — otherwise sub-threshold
    drift leaks out of the window at every split/merge and the
    ``ood_rebuild_rate`` trigger can never accumulate. Here drift
    below the min-n floor accumulates ACROSS two maintenance cycles
    and still triggers the rate rebuild on the second; only the
    actual retrain resets the window."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_ood_stats,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=33)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_oodc"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, anisotropic=3.0,
                     residual=True, rotate=True,
                     ood_min_explained=0.5, ood_rebuild_rate=0.3)

    rng = np.random.default_rng(53)
    books_cache: dict = {}

    def stream_ood(ids):
        vecs = rng.normal(size=(len(ids), 16))
        pids = idx.insert(np.asarray(ids, dtype=np.int64), vecs)
        nv = vecs / (np.linalg.norm(vecs, axis=1, keepdims=True)
                     + 1e-12)
        _append_pq_codes(idx, np.asarray(ids, dtype=np.int64), nv,
                         pids, books_cache)

    # cycle 1: drift below the min-n floor, then carry-books maintain
    stream_ood(range(95_000, 95_004))
    pre = load_ood_stats(idx.version_dir)
    assert pre["n"] == 4 and pre["ood"] > 0, pre
    summary1 = maintain(idx, ood_rebuild_min_n=9)
    assert summary1["pq_refreshed"] is True
    assert summary1["pq_retrained"] is False
    # the window CARRIED into the new version — not reset
    assert load_ood_stats(idx.version_dir) == pre

    # cycle 2: more sub-threshold drift tops the accumulated window
    # over the floor; the rate trigger fires on the CUMULATIVE counts
    books_cache.clear()  # version changed — drop the stale cache
    stream_ood(range(95_004, 95_010))
    acc = load_ood_stats(idx.version_dir)
    assert acc["n"] == 10 and acc["ood"] >= pre["ood"], acc
    summary2 = maintain(idx, ood_rebuild_min_n=9)
    assert summary2["ood_rate"] == acc["ood"] / acc["n"]
    assert summary2["pq_retrained"] is True
    # only the actual retrain starts a clean window
    assert load_ood_stats(idx.version_dir) == {"n": 0, "ood": 0}


def test_streaming_auto_maintenance_cadence(spark, tmp_path):
    """``ingest_stream(maintain_every_n_batches=…)`` (round 13,
    VERDICT r12 missing #2 — the Spark twin of the reference driver's
    every-50-queries ``maintain()``, QUAKE_working_demo.ipynb
    c2:80-81): drifted ingest ALONE — no manual maintenance call —
    restores the streamed rows' own-candidate rate to 1.0. The first
    scheduled maintain sees drift below the min-n floor and carries
    books AND the drift window forward; the second sees the
    accumulated rate over the floor and retrains — so this also pins
    the cadence × carry-forward composition end-to-end."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_ood_stats,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=33)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_cad"),
                         coarse_k=4, base_k=2, metric="cosine")
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, anisotropic=3.0,
                     residual=True, rotate=True,
                     ood_min_explained=0.5, ood_rebuild_rate=0.3)
    v0 = idx.version

    rng = np.random.default_rng(53)
    rows = [(int(95_000 + i),
             rng.normal(size=16).astype(float).tolist())
            for i in range(8)]
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)
    for r in rows:       # one file per row → exactly 8 micro-batches
        (spark.createDataFrame([r], "vec_id long, "
                                    "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt,
                      maintain_every_n_batches=4,
                      maintain_kwargs={"ood_rebuild_min_n": 5})
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # two scheduled maintenance cycles ran (batch 4 and batch 8)
    assert idx.version >= v0 + 2
    # the second retrained: clean window, and every streamed vector
    # is its own pure-ADC top-1 candidate — with no manual maintain
    assert load_ood_stats(idx.version_dir) == {"n": 0, "ood": 0}
    hits = 0
    for vid, vec in rows:
        found, _ = knn_ivf_pq(idx, ([1], np.array([vec])), k=1,
                              target_recall=1.0, max_probe=10**9,
                              oversample=1)
        hits += int(found.collect()[0]["vec_id"] == vid)
    assert hits == len(rows), hits


def test_maintenance_cadence_persists_across_restart(spark, tmp_path):
    """The cadence is a PERSISTED index knob (round 13 continuity #5):
    an explicit ``maintain_every_n_batches`` rides stats.json — WITH
    its ``maintain_kwargs`` (a resumed cadence without its
    ood_rebuild_min_n would silently maintain with defaults) — a
    RESTARTED stream — ``IVFIndex.load`` + ``ingest_stream`` with the
    args left None — resumes both without the caller re-passing them,
    and ``set_maintenance_cadence(idx, None)`` is the explicit off
    (clearing the kwargs too)."""
    import os

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        ingest_stream,
        set_maintenance_cadence,
    )

    corpus = make_dataset(spark, 200, d=8, n_clusters=4, seed=11)
    workdir = str(tmp_path / "ivf_cadp")
    idx = IVFIndex.build(corpus, workdir, coarse_k=2, base_k=2)

    rng = np.random.default_rng(17)

    def feed(tag: str, ids: range) -> "DataFrame":
        vdir = str(tmp_path / f"vecs_{tag}")
        os.makedirs(vdir, exist_ok=True)
        for i in ids:    # one file per row → one micro-batch per row
            row = (int(i), rng.normal(size=8).astype(float).tolist())
            (spark.createDataFrame([row], "vec_id long, "
                                         "embedding array<float>")
             .coalesce(1).write.mode("append").parquet(vdir))
        return (spark.readStream
                .schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", 1).parquet(vdir))

    # stream 1: explicit cadence=2 + kwargs over 2 batches → 1 cycle
    v0 = idx.version
    q = ingest_stream(idx, feed("a", range(70_000, 70_002)),
                      str(tmp_path / "ckpt_a"), encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_kwargs={"ood_rebuild_min_n": 7})
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert idx.version == v0 + 1

    # restart: a fresh handle from disk carries BOTH knobs...
    idx2 = IVFIndex.load(spark, workdir)
    assert idx2.maintain_every_n_batches == 2
    assert idx2.maintain_kwargs == {"ood_rebuild_min_n": 7}
    # ...and a re-attached stream with the args left None resumes
    # them — the resumed maintain() must receive the recorded kwargs
    seen_kwargs = []
    real_maintain = maint_mod.maintain

    def recording_maintain(index_, **kw):
        seen_kwargs.append(kw)
        return real_maintain(index_, **kw)

    maint_mod.maintain = recording_maintain
    try:
        v1 = idx2.version
        q = ingest_stream(idx2, feed("b", range(70_002, 70_004)),
                          str(tmp_path / "ckpt_b"), encode_pq=False)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        maint_mod.maintain = real_maintain
    assert idx2.version == v1 + 1
    assert seen_kwargs == [{"ood_rebuild_min_n": 7}]

    # explicit off: clears the persisted knobs; a third stream with
    # the args left None schedules nothing
    set_maintenance_cadence(idx2, None)
    reloaded = IVFIndex.load(spark, workdir)
    assert reloaded.maintain_every_n_batches is None
    assert reloaded.maintain_kwargs is None
    v2 = idx2.version
    q = ingest_stream(idx2, feed("c", range(70_004, 70_006)),
                      str(tmp_path / "ckpt_c"), encode_pq=False)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert idx2.version == v2

    with pytest.raises(ValueError, match="positive"):
        set_maintenance_cadence(idx2, 0)


def test_maintain_cadence_rejects_non_positive():
    """``maintain_every_n_batches`` must fail at the CALL SITE, not
    as a ZeroDivisionError inside foreachBatch on the first non-empty
    batch (round 13 review)."""
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    for bad in (0, -3):
        with pytest.raises(ValueError, match="positive"):
            ingest_stream(None, None, "ckpt",
                          maintain_every_n_batches=bad)


def test_default_ingest_auto_routes_large_batches(spark, tmp_path,
                                                  monkeypatch):
    """The LAST scale default (round 14, VERDICT r13 missing #1 /
    what's-wrong #1): ``ingest_stream`` with the DEFAULT signature —
    ``distributed_threshold`` left None — must route a micro-batch
    at/above ``AUTO_INGEST_DISTRIBUTED_ROWS`` through
    ``insert_distributed`` + the distributed sidecar appender, and
    while that batch is handled NO DataFrame carrying the embedding
    column may be collected to the driver (the collect spy). A
    sub-threshold batch on the same stream keeps the historical
    driver path (``IVFIndex.insert`` runs), so bit-pinned streamed
    artifacts stay valid. The boundary is monkeypatched — the test
    pins the RESOLUTION rule, not the production constant — and the
    one-line advisory fires exactly once.

    Round 15 (VERDICT r14 #6): routing now runs on ONE bounded
    materialization — ``limit(threshold).collect()`` — that doubles
    as the small path's data read, so the contract this spy pins
    changed from "no embedding-bearing collect at all" to "exactly
    one embedding-bearing collect per batch, never exceeding the
    boundary" (a sub-threshold batch was always allowed to collect
    up to threshold-1 rows; the probe moves no more). The spy also
    moved to ``pyspark.sql.classic.dataframe.DataFrame`` — the
    runtime class that OWNS ``collect`` under pyspark 4; the round-14
    spy patched the abstract facade and never fired, making its
    no-leak assertion vacuous."""
    import warnings as warnings_mod

    import numpy as np
    from pyspark.sql.classic.dataframe import (
        DataFrame as SparkDataFrame,
    )

    import quake_vector_search_spark.streaming.ingest as ingest_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 400, d=16, n_clusters=4, seed=21)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_auto_route"),
                         coarse_k=3, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7)

    monkeypatch.setattr(ingest_mod, "AUTO_INGEST_DISTRIBUTED_ROWS", 4)

    # spies: record every driver-path insert and, during the big
    # batch, the column set of every DataFrame.collect
    inserted_batches = []
    real_insert = IVFIndex.insert

    def spy_insert(self, ids, vecs, **kw):
        inserted_batches.append(len(ids))
        return real_insert(self, ids, vecs, **kw)

    monkeypatch.setattr(IVFIndex, "insert", spy_insert)
    collected: list[tuple[tuple[str, ...], int]] = []
    real_collect = SparkDataFrame.collect

    def spy_collect(self):
        rows_ = real_collect(self)
        collected.append((tuple(self.columns), len(rows_)))
        return rows_

    advisories = []
    real_warn = warnings_mod.warn

    def spy_warn(msg, *a, **kw):
        if "AUTO_INGEST_DISTRIBUTED_ROWS" in str(msg):
            advisories.append(str(msg))
        return real_warn(msg, *a, **kw)

    rng = np.random.default_rng(31)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")

    def write_file(ids):
        rows = [(int(i), rng.normal(size=16).astype(float).tolist())
                for i in ids]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))

    write_file(range(91_000, 91_008))        # 8 rows ≥ boundary 4
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    # spies install BEFORE the stream starts — the first micro-batch
    # begins processing asynchronously the moment start() returns
    monkeypatch.setattr(SparkDataFrame, "collect", spy_collect)
    monkeypatch.setattr(warnings_mod, "warn", spy_warn)
    q = ingest_stream(idx, vstream, ckpt)    # DEFAULT signature
    try:
        q.processAllAvailable()
        # big batch: distributed route — driver insert never ran,
        # and the ONLY embedding-bearing collect is the bounded
        # routing probe (exactly boundary rows); insert_distributed,
        # the journal and the sidecar appender never collect vectors
        assert inserted_batches == []
        emb = [(c, n) for c, n in collected if "embedding" in c]
        assert emb == [(("vec_id", "embedding"), 4)], emb
        assert len(advisories) == 1, advisories
        # sub-threshold batch on the SAME stream: historical driver
        # path fed by the SAME single bounded read (round 15 — no
        # second collect per small micro-batch), and the advisory
        # does not re-fire
        collected.clear()
        write_file(range(91_008, 91_010))    # 2 rows < boundary
        q.processAllAvailable()
        emb = [(c, n) for c, n in collected if "embedding" in c]
        assert emb == [(("vec_id", "embedding"), 2)], emb
    finally:
        q.stop()
    assert inserted_batches == [2]
    assert len(advisories) == 1
    # both paths landed: corpus rows and sidecar codes for all 10
    got = (spark.read.parquet(f"{idx.version_dir}/pq")
           .where("vec_id >= 91000").count())
    assert got == 10
    assert idx.read_corpus().where("vec_id >= 91000").count() == 10


def test_async_maintenance_does_not_stall_ingest(spark, tmp_path,
                                                 monkeypatch):
    """Round 14 (VERDICT r13 #3): with ``maintain_async=True`` a
    cadence-triggered maintain() runs OFF the batch thread — batches
    keep ingesting into the current version while the rebuild runs
    (the stream provably does NOT stall: processAllAvailable returns
    with the monkeypatch-gated maintain still blocked), and at the
    first batch boundary after the publish the live handle adopts the
    new version and reconciles the journal. Every window row lands in
    the pre- or post-maintenance version EXACTLY once — corpus rows,
    PQ codes and size/centroid bookkeeping all consistent."""
    import os
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=41)
    workdir = str(tmp_path / "ivf_async")
    idx = IVFIndex.build(corpus, workdir, coarse_k=2, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7)
    v0 = idx.version

    release = threading.Event()
    started = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        started.set()
        assert release.wait(timeout=120), "test never released gate"
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)

    rng = np.random.default_rng(47)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)
    all_ids = []

    def write_batch(ids):
        rows = [(int(i), rng.normal(size=8).astype(float).tolist())
                for i in ids]
        all_ids.extend(int(i) for i in ids)
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))

    for k in range(4):   # batches 1..4; cadence 2 triggers at batch 2
        write_batch(range(95_000 + 2 * k, 95_000 + 2 * k + 2))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
        # the stream drained ALL FOUR batches while maintain is still
        # gated — the synchronous path would be blocked inside batch 2
        assert started.is_set()
        st = idx._async_maint
        assert st is not None and st["thread"].is_alive()
        assert idx.version == v0
        assert (idx.read_corpus()
                .where("vec_id >= 95000").count() == 8)
        release.set()
        st["thread"].join(timeout=120)
        assert not st["thread"].is_alive()
        # next batch boundary adopts the published version, replays
        # the journal, and routes batch 5 on the fresh layout
        write_batch(range(95_008, 95_010))
        q.processAllAvailable()
    finally:
        release.set()
        q.stop()
    assert idx.version == v0 + 1
    assert idx._async_maint is None
    from quake_vector_search_spark.windowing import _journal_dir
    assert not os.path.isdir(_journal_dir(idx))
    # exactly-once: every streamed id appears once in the corpus and
    # once in the adopted version's sidecar
    got = (idx.read_corpus().where("vec_id >= 95000")
           .groupBy("vec_id").count().collect())
    assert {int(r["vec_id"]) for r in got} == set(all_ids)
    assert all(r["count"] == 1 for r in got)
    codes = (spark.read.parquet(f"{idx.version_dir}/pq")
             .where("vec_id >= 95000").groupBy("vec_id").count()
             .collect())
    assert {int(r["vec_id"]) for r in codes} == set(all_ids)
    assert all(r["count"] == 1 for r in codes)
    # bookkeeping: sizes match physical partition counts exactly and
    # centroids are the partition means (float32 storage tolerance)
    phys = {int(r["partition_id"]): r["count"] for r in
            idx.read_corpus().groupBy("partition_id").count()
            .collect()}
    for pos, pid in enumerate(idx.part_ids):
        assert int(idx.sizes[pos]) == phys.get(int(pid), 0), pid
    rows = idx.read_corpus().collect()
    by_pid: dict = {}
    for r in rows:
        by_pid.setdefault(int(r["partition_id"]), []).append(
            np.asarray(r["embedding"], dtype=np.float64))
    pos_of = {int(p): i for i, p in enumerate(idx.part_ids)}
    for pid, vecs in by_pid.items():
        mean = np.mean(vecs, axis=0)
        np.testing.assert_allclose(idx.centroids[pos_of[pid]], mean,
                                   atol=1e-3)


def test_async_maintenance_failure_surfaces_and_journal_clears(
        spark, tmp_path, monkeypatch):
    """A background maintain() failure must not vanish: it re-raises
    at the next batch boundary (the same failure surface the
    synchronous cadence has — the stream errors), the pending-cycle
    state clears, and the journal is dropped — its rows are safe in
    the still-current version, which never swapped."""
    import os

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
        ingest_stream,
    )
    from quake_vector_search_spark.windowing import _journal_dir

    corpus = make_dataset(spark, 200, d=8, n_clusters=4, seed=45)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_async_err"),
                         coarse_k=2, base_k=2)
    v0 = idx.version

    def broken_maintain(index_, **kw):
        raise RuntimeError("maintenance exploded")

    monkeypatch.setattr(maint_mod, "maintain", broken_maintain)

    rng = np.random.default_rng(49)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)
    for k in range(3):
        rows = [(int(96_000 + k), rng.normal(size=8).astype(
            float).tolist())]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    # batch 2 triggers the doomed cycle; batch 3's boundary re-raises
    # inside foreachBatch → the streaming query itself errors out
    failed = False
    try:
        q.processAllAvailable()
    except Exception:
        failed = True
    finally:
        try:
            q.stop()
        except Exception:
            pass
    if not failed:
        # all three batches may have drained before the thread died;
        # the pending error must then surface on the direct finish
        with pytest.raises(RuntimeError, match="maintenance exploded"):
            finish_async_maintenance(idx)
    assert idx._async_maint is None
    assert not os.path.isdir(_journal_dir(idx))
    assert idx.version == v0
    # rows are safe in the never-swapped version
    n = idx.read_corpus().where("vec_id >= 96000").count()
    assert n >= 2   # batches 1-2 certainly landed before the error


def test_async_window_journals_distributed_batches(spark, tmp_path,
                                                   monkeypatch):
    """The distributed journal arm (round 14): a batch at/above the
    ingest boundary arriving DURING an async window journals its
    (id, pid) pairs via one Spark append — no collect — and the swap
    reconciles a journal mixed from driver and distributed batches.
    Exactly-once across the swap for all window rows."""
    import os
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    import quake_vector_search_spark.streaming.ingest as ingest_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.windowing import _journal_dir

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=51)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_async_dist"),
                         coarse_k=2, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7)
    v0 = idx.version
    monkeypatch.setattr(ingest_mod, "AUTO_INGEST_DISTRIBUTED_ROWS", 6)

    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)

    rng = np.random.default_rng(57)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)
    all_ids: list = []

    def write_batch(ids):
        rows = [(int(i), rng.normal(size=8).astype(float).tolist())
                for i in ids]
        all_ids.extend(int(i) for i in ids)
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))

    write_batch(range(98_000, 98_002))   # driver batch 1
    write_batch(range(98_002, 98_004))   # driver batch 2 → trigger
    write_batch(range(98_010, 98_020))   # 10 rows ≥ 6 → distributed,
    write_batch(range(98_004, 98_006))   # driver batch 4 (window)
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
        st = idx._async_maint
        assert st is not None and st["thread"].is_alive()
        # the distributed batch journaled without collecting: journal
        # holds both arms' rows
        jdf = spark.read.parquet(_journal_dir(idx))
        jids = {int(r[0]) for r in jdf.select("vec_id").collect()}
        assert set(range(98_010, 98_020)) <= jids
        release.set()
        st["thread"].join(timeout=120)
        write_batch(range(98_006, 98_008))   # boundary → swap+replay
        q.processAllAvailable()
    finally:
        release.set()
        q.stop()
    assert idx.version == v0 + 1
    assert not os.path.isdir(_journal_dir(idx))
    got = (idx.read_corpus().where("vec_id >= 98000")
           .groupBy("vec_id").count().collect())
    assert {int(r["vec_id"]) for r in got} == set(all_ids)
    assert all(r["count"] == 1 for r in got)
    codes = (spark.read.parquet(f"{idx.version_dir}/pq")
             .where("vec_id >= 98000").groupBy("vec_id").count()
             .collect())
    assert {int(r["vec_id"]) for r in codes} == set(all_ids)
    assert all(r["count"] == 1 for r in codes)


def test_delete_during_async_window_survives_swap(spark, tmp_path,
                                                  monkeypatch):
    """Round 14 follow-through: a same-handle ``delete`` during an
    async maintenance window is journaled by delete() itself and
    re-applied after the swap — both a PRE-EXISTING row (the clone's
    publish still carries it) and a WINDOW-INSERTED row (replayed,
    then deleted) end up gone, every other window row lands
    exactly-once, and the size bookkeeping matches the physical
    live counts."""
    import os
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.windowing import _delete_journal_dir

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=73)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_async_del"),
                         coarse_k=2, base_k=2)
    v0 = idx.version
    victim_old = int(idx.read_corpus().select("vec_id")
                     .orderBy("vec_id").first()[0])

    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)

    rng = np.random.default_rng(79)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)

    def write_batch(ids):
        rows = [(int(i), rng.normal(size=8).astype(float).tolist())
                for i in ids]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))

    for k in range(4):
        write_batch(range(92_000 + 2 * k, 92_000 + 2 * k + 2))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
        st = idx._async_maint
        assert st is not None and st["thread"].is_alive()
        # out-of-band deletes THROUGH THE SAME HANDLE mid-window:
        # one pre-existing row, one row this window inserted
        idx.delete([victim_old, 92_001])
        assert os.path.isdir(_delete_journal_dir(idx))
        release.set()
        st["thread"].join(timeout=120)
        write_batch(range(92_008, 92_010))   # boundary → swap+replay
        q.processAllAvailable()
    finally:
        release.set()
        q.stop()
    assert idx.version == v0 + 1
    assert not os.path.isdir(_delete_journal_dir(idx))
    live = idx.read_corpus()
    assert live.where(f"vec_id = {victim_old}").count() == 0
    assert live.where("vec_id = 92001").count() == 0
    survivors = (set(range(92_000, 92_010)) - {92_001})
    got = (live.where("vec_id >= 92000")
           .groupBy("vec_id").count().collect())
    assert {int(r["vec_id"]) for r in got} == survivors
    assert all(r["count"] == 1 for r in got)
    phys = {int(r["partition_id"]): r["count"] for r in
            live.groupBy("partition_id").count().collect()}
    for pos, pid in enumerate(idx.part_ids):
        assert int(idx.sizes[pos]) == phys.get(int(pid), 0), pid

    # crash arm: a delete journaled mid-window, applied in MEMORY
    # only (never persisted — the true crash state), process dies;
    # a fresh handle loads the pre-delete meta and the next attach
    # applies the journal before any batch, with the downdate
    # happening exactly once. (save_meta first: plain inserts never
    # persist bookkeeping — the base engine's documented crash
    # contract — and this arm pins the DELETE journal's exactness,
    # not insert durability)
    idx.save_meta()
    idx._async_maint = {"thread": None}
    idx.delete([92_003])
    idx._async_maint = None
    fresh = IVFIndex.load(spark, idx.workdir)
    assert 92_003 not in fresh.tombstones
    assert fresh.read_corpus().where("vec_id = 92003").count() == 1
    vdir2 = str(tmp_path / "vecs2")
    (spark.createDataFrame(
        [(92_100, rng.normal(size=8).astype(float).tolist())],
        "vec_id long, embedding array<float>")
     .coalesce(1).write.mode("overwrite").parquet(vdir2))
    vstream2 = (spark.readStream
                .schema("vec_id long, embedding array<float>")
                .parquet(vdir2))
    q2 = ingest_stream(fresh, vstream2, str(tmp_path / "ckpt2"),
                       encode_pq=False)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert not os.path.isdir(_delete_journal_dir(fresh))
    assert fresh.read_corpus().where("vec_id = 92003").count() == 0
    assert fresh.read_corpus().where("vec_id = 92100").count() == 1
    phys2 = {int(r["partition_id"]): r["count"] for r in
             fresh.read_corpus().groupBy("partition_id").count()
             .collect()}
    for pos, pid in enumerate(fresh.part_ids):
        assert int(fresh.sizes[pos]) == phys2.get(int(pid), 0), pid


def test_attach_replays_leftover_journal(spark, tmp_path):
    """Crash-recovery at the ATTACH seam (round 14): a journal left
    behind by a window that never swapped (process died between the
    publish and the next batch boundary) must be reconciled by the
    next ``ingest_stream`` attach BEFORE any new batch lands — the
    journaled rows that missed the published version are restored,
    codes included, and the journal is cleared. Driven through the
    real attach path: the crash state is constructed exactly (clone
    publish + stale-handle inserts + journal), then a fresh handle is
    loaded from disk — which picks up the published version — and
    ingest_stream is attached with the default signature."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.windowing import (
        _journal_batch,
        _journal_dir,
    )

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=69)
    workdir = str(tmp_path / "ivf_attach_replay")
    idx = IVFIndex.build(corpus, workdir, coarse_k=2, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7)
    v0 = idx.version

    # crash window: a clone published v0+1 while rows kept landing in
    # v0 (journaled); the process died before the swap
    idx.save_meta()
    clone = IVFIndex.load(spark, workdir, version=v0)
    maintain(clone)
    rng = np.random.default_rng(71)
    ids = np.arange(94_000, 94_004)
    pids = idx.insert(ids, rng.normal(size=(len(ids), 8)))
    _journal_batch(idx, ids, pids, v0)

    # restart: a fresh handle loads the PUBLISHED version (the
    # journaled rows are invisible there), then re-attaches the
    # stream — the attach must replay before the new batch
    fresh = IVFIndex.load(spark, workdir)
    assert fresh.version == v0 + 1
    assert (fresh.read_corpus().where("vec_id >= 94000").count()
            == 0)
    vdir = str(tmp_path / "vecs")
    (spark.createDataFrame(
        [(94_100, rng.normal(size=8).astype(float).tolist())],
        "vec_id long, embedding array<float>")
     .coalesce(1).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .parquet(vdir))
    q = ingest_stream(fresh, vstream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.isdir(_journal_dir(fresh))
    got = (fresh.read_corpus().where("vec_id >= 94000")
           .groupBy("vec_id").count().collect())
    assert ({int(r["vec_id"]) for r in got}
            == set(int(i) for i in ids) | {94_100})
    assert all(r["count"] == 1 for r in got)
    codes = (spark.read.parquet(f"{fresh.version_dir}/pq")
             .where("vec_id >= 94000").groupBy("vec_id").count()
             .collect())
    assert ({int(r["vec_id"]) for r in codes}
            == set(int(i) for i in ids) | {94_100})
    assert all(r["count"] == 1 for r in codes)


def test_maintain_async_persists_with_cadence(spark, tmp_path,
                                              monkeypatch):
    """``maintain_async`` rides stats.json with the cadence (round
    14): a restarted stream that resumes the cadence must also resume
    the execution mode — silently reverting to synchronous would
    re-acquire the ingest stall the deployment opted out of. Explicit
    off (``set_maintenance_cadence(idx, None)``) clears it with the
    other knobs, and async without an effective cadence does not
    persist (the kwargs gating rule)."""
    import os
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        ingest_stream,
        set_maintenance_cadence,
    )

    corpus = make_dataset(spark, 200, d=8, n_clusters=4, seed=63)
    workdir = str(tmp_path / "ivf_async_persist")
    idx = IVFIndex.build(corpus, workdir, coarse_k=2, base_k=2)
    set_maintenance_cadence(idx, 2, {"ood_rebuild_min_n": 5},
                            maintain_async=True)
    re1 = IVFIndex.load(spark, workdir)
    assert re1.maintain_every_n_batches == 2
    assert re1.maintain_async is True

    # a re-attached stream with ALL maintenance args left None runs
    # the resumed cadence in ASYNC mode: the gated maintain leaves a
    # pending background cycle instead of blocking the drain
    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)
    rng = np.random.default_rng(67)
    vdir = str(tmp_path / "vecs")
    os.makedirs(vdir, exist_ok=True)
    for k in range(2):
        (spark.createDataFrame(
            [(int(99_000 + k),
              rng.normal(size=8).astype(float).tolist())],
            "vec_id long, embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    v0 = re1.version
    q = ingest_stream(re1, vstream, str(tmp_path / "ckpt"),
                      encode_pq=False)
    try:
        q.processAllAvailable()
        st = re1._async_maint
        assert st is not None and st["thread"].is_alive()
        release.set()
        st["thread"].join(timeout=120)
    finally:
        release.set()
        q.stop()
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
    )
    finish_async_maintenance(re1)
    assert re1.version == v0 + 1

    # explicit off clears the mode with the cadence
    set_maintenance_cadence(re1, None)
    re2 = IVFIndex.load(spark, workdir)
    assert re2.maintain_async is False
    assert re2.maintain_every_n_batches is None

    # async without an effective cadence never persists
    vstream2 = (spark.readStream
                .schema("vec_id long, embedding array<float>")
                .parquet(vdir))
    q2 = ingest_stream(re2, vstream2, str(tmp_path / "ckpt2"),
                       encode_pq=False, maintain_async=True)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert IVFIndex.load(spark, workdir).maintain_async is False


def test_replay_recovers_rows_missed_by_the_publish(spark, tmp_path):
    """The journal reconciliation's MISSING arm (round 14): rows
    appended to the source version AFTER maintain's link/rewrite
    passes read it never make the published version — the replay must
    re-read them from the source corpus (partition-pruned) and
    re-insert them, codes included. Driven deterministically at the
    unit level: maintain a clone synchronously, THEN insert+journal
    into the stale live handle, then adopt+replay. Also covers the
    crash-recovery path (summary=None) on a fresh journal."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        _adopt_index_state,
        _replay_ingest_journal,
    )
    from quake_vector_search_spark.windowing import (
        _journal_batch,
        _journal_dir,
    )

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=43)
    workdir = str(tmp_path / "ivf_replay")
    idx = IVFIndex.build(corpus, workdir, coarse_k=2, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7)
    v0 = idx.version

    idx.save_meta()
    clone = IVFIndex.load(spark, workdir, version=v0)
    summary = maintain(clone)
    assert clone.version == v0 + 1

    # "window" rows: inserted into v0 only — the publish never saw
    # them (this is exactly the post-link append race)
    rng = np.random.default_rng(53)
    ids = np.arange(97_000, 97_006)
    vecs = rng.normal(size=(len(ids), 8))
    pids = idx.insert(ids, vecs)
    _journal_batch(idx, ids, pids, v0)

    _adopt_index_state(idx, clone)
    assert idx.version == v0 + 1
    assert idx.read_corpus().where("vec_id >= 97000").count() == 0

    out = _replay_ingest_journal(idx, {}, True, summary=summary)
    assert out == {"present": 0, "replayed": 6}
    assert not os.path.isdir(_journal_dir(idx))
    got = (idx.read_corpus().where("vec_id >= 97000")
           .groupBy("vec_id").count().collect())
    assert {int(r["vec_id"]) for r in got} == set(int(i) for i in ids)
    assert all(r["count"] == 1 for r in got)
    codes = (spark.read.parquet(f"{idx.version_dir}/pq")
             .where("vec_id >= 97000").count())
    assert codes == 6
    phys = {int(r["partition_id"]): r["count"] for r in
            idx.read_corpus().groupBy("partition_id").count()
            .collect()}
    for pos, pid in enumerate(idx.part_ids):
        assert int(idx.sizes[pos]) == phys.get(int(pid), 0), pid

    # crash-recovery arm (summary=None): journal again with rows that
    # ARE present — replay must find them and re-insert nothing
    ids2 = np.arange(97_100, 97_103)
    pids2 = idx.insert(ids2, rng.normal(size=(len(ids2), 8)))
    _journal_batch(idx, ids2, pids2, idx.version)
    out2 = _replay_ingest_journal(idx, {}, True, summary=None)
    assert out2 == {"present": 3, "replayed": 0}
    assert (idx.read_corpus().where("vec_id >= 97100")
            .groupBy("vec_id").count().where("count > 1").count()
            == 0)


def test_orphan_maintain_kwargs_do_not_persist(spark, tmp_path):
    """ADVICE r13 #3: ``maintain_kwargs`` without an effective cadence
    (no ``maintain_every_n_batches`` arg, none recorded on the index)
    is inert — ``maybe_maintain`` never fires — so it must NOT
    persist to stats.json: ``set_maintenance_cadence``'s invariant is
    kwargs-only-alongside-a-cadence, and an orphaned record would
    silently resurface if a cadence were later enabled without its
    own kwargs. A warning tells the caller the kwargs are unused."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    corpus = make_dataset(spark, 200, d=8, n_clusters=4, seed=23)
    workdir = str(tmp_path / "ivf_orphan_kwargs")
    idx = IVFIndex.build(corpus, workdir, coarse_k=2, base_k=2)
    assert idx.maintain_every_n_batches is None

    rng = np.random.default_rng(29)
    rows = [(int(93_000 + i),
             rng.normal(size=8).astype(float).tolist())
            for i in range(2)]
    vdir = str(tmp_path / "vecs")
    (spark.createDataFrame(rows, "vec_id long, embedding array<float>")
     .coalesce(1).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .parquet(vdir))
    with pytest.warns(UserWarning, match="without a.*cadence"):
        q = ingest_stream(idx, vstream, str(tmp_path / "ckpt"),
                          encode_pq=False,
                          maintain_kwargs={"ood_rebuild_min_n": 9})
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # nothing persisted, nothing ran — and a reload sees no orphan
    assert idx.maintain_kwargs is None
    reloaded = IVFIndex.load(spark, workdir)
    assert reloaded.maintain_every_n_batches is None
    assert reloaded.maintain_kwargs is None


def test_ood_min_explained_knob_persists_and_binds(spark, tmp_path):
    """The OOD-guard threshold is a PERSISTED product knob (late round
    10): ood_min_explained rides pq_meta.json and the streamed append
    honors it. At 0.0 the guard never fires (streamed codes are the
    pure score-aware assignment, even for the OOD vector that
    motivated the guard); at 1.0 streamed codes are always the
    MSE-optimal plain assignment. Same index, same streamed vector,
    two sidecars — the code difference IS the knob."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        _aniso_encode_local,
        build_pq_sidecar,
        load_residual_snapshot,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=12)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_knob"),
                         coarse_k=4, base_k=2, metric="cosine")
    rng = np.random.default_rng(44)
    raw = rng.normal(size=16)
    v = raw.astype(np.float32).astype(np.float64)
    v = v / (np.linalg.norm(v) + 1e-12)

    def streamed_codes(thresh, vid):
        books = build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                                 anisotropic=3.0, residual=True,
                                 rotate=True,
                                 ood_min_explained=thresh)
        with open(os.path.join(idx.version_dir,
                               "pq_meta.json")) as fh:
            assert json.load(fh)["ood_min_explained"] == thresh
        pids = idx.insert([vid], raw[None, :])
        _append_pq_codes(idx, np.array([vid]), v[None, :],
                         pids, {})
        row = (spark.read.parquet(f"{idx.version_dir}/pq")
               .where(f"vec_id = {vid}").head())
        snap = load_residual_snapshot(idx.version_dir)
        rz = np.load(os.path.join(idx.version_dir,
                                  "pq_rotation.npz"))
        enc = (v - snap[int(row["partition_id"])]
               - rz["mean"]) @ rz["components"].T
        d = v @ rz["components"].T
        return (list(row["pq_codes"]), enc, d, books)

    codes0, enc0, d0, books0 = streamed_codes(0.0, 95_000)
    # threshold 0: pure score-aware, even though this vector's
    # score-aware code retains ~3% of energy (the r9 failure case)
    want0 = _aniso_encode_local(enc0[None, :], books0, 3.0,
                                dirs=d0[None, :])[0]
    assert codes0 == [int(c) for c in want0]

    codes1, enc1, _d1, books1 = streamed_codes(1.0, 95_001)
    # threshold 1: always the plain MSE assignment
    want1 = _aniso_encode_local(enc1[None, :], books1, 1.0)[0]
    assert codes1 == [int(c) for c in want1]


def test_books_table_append_rejects_duplicate_pid(tmp_path):
    """ADVICE r11: ``_save_books_table(append=True)`` must refuse pids
    the table already holds. ``_load_books_table`` folds files in
    uuid-sorted filename order with dict overwrite, so a duplicate pid
    would shadow nondeterministically at read time — the 'appends
    carry only never-seen pids' contract has to fail LOUDLY at write
    time instead."""
    import numpy as np

    from quake_vector_search_spark.operators.quantization import (
        _load_books_table,
        _save_books_table,
    )

    d = str(tmp_path)
    _save_books_table(d, {1: np.zeros((2, 4, 3)),
                          2: np.ones((2, 4, 3))}, None)
    _save_books_table(d, {3: np.full((2, 4, 3), 2.0)}, None,
                      append=True)
    with pytest.raises(ValueError, match="never-seen"):
        _save_books_table(d, {2: np.zeros((2, 4, 3)),
                              4: np.zeros((2, 4, 3))}, None,
                          append=True)
    books, _ = _load_books_table(d)
    assert set(books) == {1, 2, 3}          # rejected append wrote nothing
    assert np.array_equal(books[2], np.ones((2, 4, 3)))


def test_books_table_append_guard_reads_no_parquet(tmp_path,
                                                   monkeypatch):
    """The append-time duplicate-pid guard must be O(new cells) data
    (round 13, VERDICT r12 perf #2, then continuity #4): every table
    file carries a sibling pid manifest (raw sorted int64 .npy), so
    the guard makes ZERO parquet accesses of existing files — no
    footers, no pid columns — however many there are, on BOTH the
    healthy monotone-pid append stream and the duplicate error path.
    Files written before manifests fall back to the previous
    footer-stats check (a pid-column read only on genuine range
    overlap)."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from quake_vector_search_spark.operators.quantization import (
        _books_table_files,
        _load_books_table,
        _pids_manifest_path,
        _save_books_table,
    )

    d = str(tmp_path)
    _save_books_table(d, {0: np.zeros((2, 4, 3)),
                          1: np.ones((2, 4, 3))}, None)
    for p in range(2, 12):                  # 10 more files, pids 2..11
        _save_books_table(d, {p: np.full((2, 4, 3), float(p))},
                          None, append=True)

    reads, footers = [], []
    real_read_table, real_parquet_file = pq.read_table, pq.ParquetFile

    def counting_read_table(*a, **kw):
        reads.append(a)
        return real_read_table(*a, **kw)

    def counting_parquet_file(*a, **kw):
        footers.append(a)
        return real_parquet_file(*a, **kw)

    monkeypatch.setattr(pq, "read_table", counting_read_table)
    monkeypatch.setattr(pq, "ParquetFile", counting_parquet_file)

    # manifests present: zero parquet access, monotone AND duplicate
    _save_books_table(d, {12: np.full((2, 4, 3), 12.0)}, None,
                      append=True)
    with pytest.raises(ValueError, match="never-seen"):
        _save_books_table(d, {5: np.zeros((2, 4, 3))}, None,
                          append=True)
    assert reads == [] and footers == [], (
        "guard touched parquet despite pid manifests: "
        f"{len(footers)} footers, {len(reads)} reads")

    # legacy table (pre-manifest files): footer stats on the monotone
    # append, a pid-column read only to confirm the duplicate
    for f in _books_table_files(d):
        os.unlink(_pids_manifest_path(f))
    _save_books_table(d, {13: np.full((2, 4, 3), 13.0)}, None,
                      append=True)
    assert reads == [], (
        f"guard read pid columns of {len(reads)} legacy files on a "
        "non-overlapping append — must be footer-stats only")
    with pytest.raises(ValueError, match="never-seen"):
        _save_books_table(d, {5: np.zeros((2, 4, 3))}, None,
                          append=True)
    assert reads, "legacy duplicate must be confirmed by a data read"

    monkeypatch.undo()
    books, _ = _load_books_table(d)
    assert set(books) == set(range(14))
    assert np.array_equal(books[12], np.full((2, 4, 3), 12.0))


def test_books_table_pid_set_uses_manifests(tmp_path, monkeypatch):
    """``load_local_book_pids`` on the table format answers from the
    per-file pid manifests — zero parquet reads (what keeps a
    stream's attach-time pid-set load at 8 raw bytes/cell at the
    ≥10⁷-cell target) — and still answers exactly, via the pid-column
    fallback, for legacy files without manifests."""
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from quake_vector_search_spark.operators.quantization import (
        _books_table_files,
        _pids_manifest_path,
        _save_books_table,
        load_local_book_pids,
    )

    d = str(tmp_path)
    _save_books_table(d, {1: np.zeros((2, 4, 3)),
                          7: np.ones((2, 4, 3))}, None)
    _save_books_table(d, {9: np.full((2, 4, 3), 2.0)}, None,
                      append=True)

    reads = []
    real_read_table = pq.read_table

    def counting_read_table(*a, **kw):
        reads.append(a)
        return real_read_table(*a, **kw)

    monkeypatch.setattr(pq, "read_table", counting_read_table)
    assert load_local_book_pids(d) == {1, 7, 9}
    assert reads == [], "pid-set load read parquet despite manifests"

    # mixed table: one legacy file (manifest dropped) falls back to
    # its pid column; the other still answers from its manifest
    files = _books_table_files(d)
    os.unlink(_pids_manifest_path(files[0]))
    assert load_local_book_pids(d) == {1, 7, 9}
    assert len(reads) == 1, reads


def test_scale_defaults_auto_select_boundary():
    """Scale-default auto-select (round 13, VERDICT r12 missing #1):
    ``build_pq_sidecar(distributed_train=None, books_format=None)``
    resolves to the historical defaults BELOW the documented
    boundaries (so every bit-pinned artifact stays valid) and to the
    scale path AT them; explicit values are never overridden. The
    boundary is pinned on the pure resolver so the test doesn't need
    threshold-sized indexes."""
    import warnings

    from quake_vector_search_spark.operators.quantization import (
        AUTO_BOOKS_TABLE_CELLS,
        AUTO_DISTRIBUTED_TRAIN_ROWS,
        _resolve_scale_defaults,
    )

    # sub-threshold auto == the historical defaults, no advisory
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _resolve_scale_defaults(
            AUTO_DISTRIBUTED_TRAIN_ROWS - 1, AUTO_BOOKS_TABLE_CELLS - 1,
            True, None, None) == (False, "npz")
        assert _resolve_scale_defaults(0, 0, False, None, None) == (
            False, "npz")

    # at the boundary the scale path engages, with a one-line advisory
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _resolve_scale_defaults(
            AUTO_DISTRIBUTED_TRAIN_ROWS, AUTO_BOOKS_TABLE_CELLS,
            True, None, None) == (True, "table")
        assert len(w) == 2
        assert "distributed_train=True" in str(w[0].message)
        assert "books_format='table'" in str(w[1].message)

    # the table format is LOCAL-only: a global sidecar over many
    # cells keeps npz (one broadcast-scale codebook file)
    assert _resolve_scale_defaults(
        0, AUTO_BOOKS_TABLE_CELLS, False, None, None) == (
        False, "npz")

    # flavors that never read the flag (local/sq8/pretrained) don't
    # auto-select the distributed trainer — no advisory about a
    # trainer that doesn't run
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert _resolve_scale_defaults(
            AUTO_DISTRIBUTED_TRAIN_ROWS * 10, AUTO_BOOKS_TABLE_CELLS,
            True, None, None, trains_global_books=False) == (
            False, "table")
        assert len(w) == 1
        assert "books_format='table'" in str(w[0].message)

    # explicit values always win, silently — above the boundary too
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _resolve_scale_defaults(
            AUTO_DISTRIBUTED_TRAIN_ROWS * 10,
            AUTO_BOOKS_TABLE_CELLS * 10,
            True, False, "npz") == (False, "npz")
        assert _resolve_scale_defaults(
            0, 0, True, True, "table") == (True, "table")


def test_scale_defaults_engage_end_to_end(spark, tmp_path,
                                          monkeypatch):
    """The auto-selected scale paths are WIRED, not just resolved
    (round 13): with the boundaries lowered to toy scale, a default
    build_pq_sidecar call (no flags) persists the books TABLE (not
    npz) and routes training through the distributed trainer — and
    the resulting sidecar searches correctly."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators import quantization as qz
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 400, d=16, n_clusters=4, seed=11)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_auto"),
                         coarse_k=4, base_k=2, metric="cosine")

    monkeypatch.setattr(qz, "AUTO_BOOKS_TABLE_CELLS", 2)
    monkeypatch.setattr(qz, "AUTO_DISTRIBUTED_TRAIN_ROWS", 100)
    calls = []
    real = qz.aniso_pq_train_distributed

    def spying(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(qz, "aniso_pq_train_distributed", spying)

    # a LOCAL sidecar with defaults → table format engages
    import pytest as _pytest

    with _pytest.warns(UserWarning, match="books_format='table'"):
        qz.build_pq_sidecar(idx, m=4, ksub=16, seed=7,
                            anisotropic=3.0, residual=True,
                            local=True, rotate=True)
    assert qz._books_table_files(idx.version_dir), (
        "auto-selected table format must persist table files")
    assert not os.path.exists(os.path.join(idx.version_dir,
                                           "pq_local_books.npz"))
    found, _ = qz.knn_ivf_pq(
        idx, ([1], np.array([idx.centroids[0]])), k=1,
        target_recall=1.0, max_probe=10**9, oversample=4)
    assert len(found.collect()) == 1

    # a GLOBAL aniso sidecar with defaults → distributed trainer
    idx2 = IVFIndex.build(corpus, str(tmp_path / "ivf_auto2"),
                          coarse_k=4, base_k=2, metric="cosine")
    with _pytest.warns(UserWarning, match="distributed_train=True"):
        qz.build_pq_sidecar(idx2, m=4, ksub=16, seed=7,
                            anisotropic=3.0, residual=True)
    assert calls, "auto-selected distributed trainer was not invoked"


def test_scale_intent_carries_through_maintenance_retrains(
        spark, tmp_path, monkeypatch):
    """The scale knobs' INTENT — explicit choice vs auto — survives
    maintenance (round 13 review): an EXPLICIT distributed_train=True
    rides pq_meta through carry-books refreshes and binds at the
    OOD-triggered retrain; an AUTO books_format re-resolves against
    the index as it is at retrain time, so a local sidecar that GREW
    past the cell boundary after an npz-era build retrains into the
    table format instead of pinning npz forever."""
    import json
    import os

    import numpy as np

    from quake_vector_search_spark.operators import quantization as qz
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=33)

    # --- explicit distributed_train=True on a toy-scale aniso global
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_int"),
                         coarse_k=4, base_k=2, metric="cosine")
    calls = []
    real = qz.aniso_pq_train_distributed

    def spying(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(qz, "aniso_pq_train_distributed", spying)
    qz.build_pq_sidecar(idx, m=4, ksub=16, seed=7, anisotropic=3.0,
                        residual=True, rotate=True,
                        distributed_train=True,
                        ood_min_explained=0.5, ood_rebuild_rate=0.3)
    assert calls == [1]
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["distributed_train"] is True

    # carry-books maintenance keeps the explicit intent in meta
    summary = maintain(idx)
    assert summary["pq_refreshed"] and not summary["pq_retrained"]
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh)["distributed_train"] is True

    # drifted stream trips the knob → the RETRAIN uses the explicit
    # distributed trainer (toy scale — auto would pick the driver)
    rng = np.random.default_rng(53)
    ids = np.arange(96_000, 96_008, dtype=np.int64)
    vecs = rng.normal(size=(8, 16))
    pids = idx.insert(ids, vecs)
    nv = vecs / (np.linalg.norm(vecs, axis=1, keepdims=True) + 1e-12)
    _append_pq_codes(idx, ids, nv, pids, {})
    summary2 = maintain(idx, ood_rebuild_min_n=5)
    assert summary2["pq_retrained"] is True
    assert calls == [1, 1], "explicit distributed_train must bind "
    "at the OOD retrain"

    # --- auto books_format re-resolves on the GROWN index
    idx2 = IVFIndex.build(corpus, str(tmp_path / "ivf_grow"),
                          coarse_k=4, base_k=2, metric="cosine")
    qz.build_pq_sidecar(idx2, m=4, ksub=16, seed=7, anisotropic=3.0,
                        residual=True, local=True, rotate=True)
    with open(os.path.join(idx2.version_dir, "pq_meta.json")) as fh:
        m2 = json.load(fh)
    assert m2["books_format"] == "npz" and m2["books_format_auto"]
    assert not qz._books_table_files(idx2.version_dir)
    # the index "grew" past the boundary: retrain picks the table
    monkeypatch.setattr(qz, "AUTO_BOOKS_TABLE_CELLS", 1)
    summary3 = maintain(idx2)
    assert summary3["pq_refreshed"]
    assert qz._books_table_files(idx2.version_dir), (
        "auto books_format must re-resolve to 'table' on the grown "
        "index at the maintenance retrain")


def test_append_refuses_coded_cell_without_books(spark, tmp_path):
    """Product-side books/codes invariant (VERDICT r11 #2): a cell
    that already holds persisted PQ codes but is missing from the
    books pid-set is a CORRUPTED sidecar store — no supported flow
    produces it (build and append both write books and codes
    together). The appender must refuse to "helpfully" train fresh
    books from the batch: the new ksub is capped by the batch size,
    the old codes index codewords beyond it, and the ADC gather would
    IndexError at query time instead of here."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_local_books,
        save_local_books,
    )
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _append_pq_codes

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=11)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_coded_noboooks"),
                         coarse_k=4, base_k=2)
    build_pq_sidecar(idx, m=4, ksub=16, residual=True, local=True)
    books = load_local_books(idx.version_dir)
    # corrupt the store the way the retired round-10 test did: drop a
    # CODED cell's books (its codes stay on disk)
    victim_pos = 0
    victim = int(idx.part_ids[victim_pos])
    del books[victim]
    save_local_books(idx.version_dir, books)
    # route a batch into the victim cell
    vecs = idx.centroids[victim_pos] + 0.01 * np.random.default_rng(
        13).normal(size=(4, 16))
    ids = np.arange(80_000, 80_004, dtype=np.int64)
    pids = idx.insert(ids, vecs)
    assert victim in {int(p) for p in pids}
    with pytest.raises(ValueError, match="persisted PQ codes but no "
                                         "books"):
        _append_pq_codes(idx, ids, vecs, pids, {})


def test_delete_then_reinsert_in_window_survives_swap(spark, tmp_path,
                                                      monkeypatch):
    """Round 15, VERDICT r14 #1 + ADVICE r14 high: ``delete(x)``
    followed by a window batch RE-INSERTING x must converge to the
    live pre-swap state — x present, exactly once, with the NEW
    vector. Two mechanisms cooperate: the tombstoned-id re-insert
    gate closes the window BEFORE staging its purge (otherwise the
    staged v{N+1} races the background maintain building the same
    version dir), and the sequence-stamped journals resolve the
    delete as outranked by the later insert. Driven through the real
    stream: the reused id arrives as an ordinary micro-batch row."""
    import os
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.windowing import (
        _delete_journal_dir,
        _journal_dir,
        _window_marker_path,
    )

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=51)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_del_reins"),
                         coarse_k=2, base_k=2)
    v0 = idx.version
    victim = int(idx.read_corpus().select("vec_id")
                 .orderBy("vec_id").first()[0])

    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)

    rng = np.random.default_rng(53)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)
    new_vec = rng.normal(size=8).astype(float)

    def write_batch(rows):
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))

    for k in range(4):
        write_batch([(int(93_000 + 2 * k + j),
                      rng.normal(size=8).astype(float).tolist())
                     for j in range(2)])
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
        st = idx._async_maint
        assert st is not None and st["thread"].is_alive()
        assert os.path.exists(_window_marker_path(idx.workdir))
        # delete(x) FIRST (journaled with its sequence stamp) ...
        idx.delete([victim])
        assert victim in idx.tombstones
        # ... release the gated maintain so the re-insert's window
        # close can join it, then RE-INSERT x through the stream
        release.set()
        write_batch([(victim, new_vec.tolist()),
                     (93_100, rng.normal(size=8).astype(float)
                      .tolist())])
        q.processAllAvailable()
    finally:
        release.set()
        q.stop()
        from quake_vector_search_spark.streaming.ingest import (
            finish_async_maintenance,
        )

        finish_async_maintenance(idx)
    # the re-insert closed the window (gate) and then staged its
    # purge against the post-swap version — no concurrent writer
    assert idx._async_maint is None
    assert not os.path.exists(_window_marker_path(idx.workdir))
    assert not os.path.isdir(_journal_dir(idx))
    assert not os.path.isdir(_delete_journal_dir(idx))
    assert idx.version >= v0 + 2   # maintain publish + staged purge
    live = idx.read_corpus()
    got = live.where(f"vec_id = {victim}").collect()
    assert len(got) == 1, got                 # x SURVIVES, exactly once
    assert np.allclose(np.asarray(got[0]["embedding"],
                                  dtype=np.float64),
                       new_vec, atol=1e-6)    # ... with the NEW vector
    assert victim not in idx.tombstones
    # every other window row landed exactly once; bookkeeping exact
    counts = {int(r["vec_id"]): r["count"] for r in
              live.where("vec_id >= 93000").groupBy("vec_id")
              .count().collect()}
    assert counts == {i: 1 for i in list(range(93_000, 93_008))
                      + [93_100]}
    phys = {int(r["partition_id"]): r["count"] for r in
            live.groupBy("partition_id").count().collect()}
    for pos, pid in enumerate(idx.part_ids):
        assert int(idx.sizes[pos]) == phys.get(int(pid), 0), pid


def test_cross_handle_delete_refused_during_window(spark, tmp_path,
                                                   monkeypatch):
    """Round 15, VERDICT r14 #4: a delete through a handle that did
    NOT open the async window is refused at the on-disk marker — it
    would neither be journaled with the window's sequence stamps nor
    survive the wholesale state adopt (silent resurrection). After
    the swap the marker is gone and the second handle deletes
    normally."""
    import os
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
        ingest_stream,
    )
    from quake_vector_search_spark.windowing import _window_marker_path

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=57)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_two_handles"),
                         coarse_k=2, base_k=2)
    victims = [int(r[0]) for r in
               idx.read_corpus().select("vec_id").orderBy("vec_id")
               .limit(2).collect()]

    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)

    rng = np.random.default_rng(59)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)
    for k in range(2):
        rows = [(int(94_000 + k), rng.normal(size=8).astype(float)
                 .tolist())]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    second = None
    try:
        q.processAllAvailable()
        assert idx._async_maint is not None
        assert os.path.exists(_window_marker_path(idx.workdir))
        second = IVFIndex.load(spark, idx.workdir)
        with pytest.raises(RuntimeError,
                           match="async maintenance window"):
            second.delete([victims[0]])
        # the refusal left no trace: not tombstoned on either handle
        assert victims[0] not in second.tombstones
        assert victims[0] not in idx.tombstones
        # the WINDOW handle's delete still journals fine
        idx.delete([victims[1]])
        release.set()
    finally:
        release.set()
        q.stop()
        finish_async_maintenance(idx)
    assert not os.path.exists(_window_marker_path(idx.workdir))
    assert idx.read_corpus().where(
        f"vec_id = {victims[1]}").count() == 0
    # marker gone → the second handle (reloaded post-swap) deletes
    second = IVFIndex.load(spark, idx.workdir)
    second.delete([victims[0]])
    assert second.read_corpus().where(
        f"vec_id = {victims[0]}").count() == 0


def test_final_delete_ids_resolves_by_sequence(spark, tmp_path):
    """Unit pin for the sequence resolver (round 15, VERDICT r14
    #1): an id whose latest DELETE stamp outranks its inserts is
    re-deleted at replay; an id re-inserted AFTER its delete is not.
    Journals are written through the real writers with a
    handle-level counter (the crash-simulation arm of
    ``_next_journal_seq``)."""
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.windowing import (
        _final_delete_ids,
        _journal_batch,
        _journal_deletes,
    )

    corpus = make_dataset(spark, 120, d=8, n_clusters=2, seed=61)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_seq_unit"),
                         coarse_k=2, base_k=1)
    # x: insert (seq 0) then delete (seq 1) → delete stands
    # y: delete (seq 2) then re-insert (seq 3) → delete outranked
    # z: delete only (seq 4) → delete stands
    _journal_batch(idx, [11], [0], idx.version)
    _journal_deletes(idx, [11])
    _journal_deletes(idx, [22])
    _journal_batch(idx, [22], [0], idx.version)
    _journal_deletes(idx, [33])
    assert _final_delete_ids(idx) == [11, 33]


def test_adopt_carries_window_search_stats(spark, tmp_path):
    """Round 15, ADVICE r14 low: searches served through the live
    handle DURING an async window accrue hits/query_counter the
    clone never saw; the swap must carry those deltas onto the
    adopted state instead of silently resetting split-hotness.
    Split-reset partitions stay reset (the fresh-BasePartition
    contract), merged-away partitions' window hits transfer to
    their keeper."""
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import _adopt_index_state

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=63)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_adopt_hits"),
                         coarse_k=2, base_k=2)
    idx.save_meta()
    clone = IVFIndex.load(spark, idx.workdir, version=idx.version)
    pids = [int(p) for p in idx.part_ids]
    assert len(pids) >= 3
    p_keep, p_split, p_gone = pids[0], pids[1], pids[2]
    hits_base = dict(idx.hits)
    qc_base = int(idx.query_counter)
    # window searches on the LIVE handle
    idx.hits[p_keep] = idx.hits.get(p_keep, 0) + 7
    idx.hits[p_split] = idx.hits.get(p_split, 0) + 5
    idx.hits[p_gone] = idx.hits.get(p_gone, 0) + 3
    idx.query_counter += 4
    # pretend the clone's maintain split p_split and merged p_gone
    # into p_keep
    summary = {"splits": [(p_split, 9999)],
               "merges": [(p_keep, p_gone)]}
    clone.hits[p_split] = 0
    clone.hits[9999] = 0
    clone.hits.pop(p_gone, None)
    base_keep = int(clone.hits.get(p_keep, 0))
    base_qc_clone = int(clone.query_counter)
    _adopt_index_state(idx, clone, hits_base=hits_base,
                       qc_base=qc_base, summary=summary)
    # keeper: its own 7 window hits + the merged-away pid's 3
    assert idx.hits[p_keep] == base_keep + 7 + 3
    # split parent and child: reset stays reset
    assert idx.hits[p_split] == 0
    assert idx.hits[9999] == 0
    assert p_gone not in idx.hits
    assert idx.query_counter == base_qc_clone + 4


def test_replay_chain_split_then_merge_exactly_once(spark, tmp_path):
    """Round 15, ADVICE r14 medium: ``maintain()`` can merge a
    freshly-SPLIT child away in the same pass — a journaled window
    row rewritten into that child lands in a keeper OUTSIDE the old
    one-hop candidate set (source pid, its split child, its merge
    keeper), was misclassified as missing, and got re-inserted as a
    duplicate. The candidate walk is now a transitive closure over
    split→child and gone→keeper. The same scenario also pins the
    round-15 provenance rule: those keeper rows were already
    EXACTLY recounted as part of the child (``_refresh_partitions``)
    and folded into the keeper's merge arithmetic, so the
    bookkeeping add must skip them — the ``m{gone}-`` merge-move
    file prefix identifies them; without it the keeper's size
    double-counts.

    Geometry (asserted below so a drift fails loudly): tiny
    partition T (6 rows), partition P grown to 38 rows in two
    lobes, ballast C. maintain splits P→child and the greedy merge
    pass — T iterates first (earliest position) and the child is
    its nearest tiny — pairs (T, child), so the child's rows (five
    journaled window rows among them) move into T."""
    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.streaming.ingest import (
        _adopt_index_state,
        _replay_ingest_journal,
    )
    from quake_vector_search_spark.windowing import _journal_batch

    d = 8
    rng = np.random.default_rng(67)

    def blob(center, n, spread=0.05):
        return np.asarray(center) + spread * rng.normal(size=(n, d))

    cT = np.zeros(d)
    cT[0] = 1.3                       # tiny keeper-to-be
    cPp = np.zeros(d)
    cPp[0] = 0.5                      # P's + lobe (build-time)
    cPm = np.zeros(d)
    cPm[0] = -0.5                     # P's - lobe (inserted later)
    cC = np.full(d, 10.0)             # ballast, stays out of the way
    X = np.vstack([blob(cT, 6), blob(cPp, 26), blob(cC, 30)])
    rows = [(int(i), x.astype(float).tolist())
            for i, x in enumerate(X)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<float>")
    idx = IVFIndex.build(df, str(tmp_path / "ivf_chain"),
                         coarse_k=3, base_k=1)
    # grow the second lobe into P so the SPLIT happens at maintain
    # time (built-in k-means would separate pre-made lobes at build)
    idx.insert(np.arange(500, 512), blob(cPm, 12))
    idx.save_meta()
    clone = IVFIndex.load(spark, idx.workdir, version=idx.version)
    # window rows into both lobes of P, journaled like a real window
    win_ids = np.arange(900, 910)
    win_vecs = np.vstack([blob(cPm, 5), blob(cPp, 5)])
    pids = idx.insert(win_ids, win_vecs)
    assert set(int(p) for p in pids) == {1}, pids   # all routed to P
    _journal_batch(idx, win_ids, pids, idx.version)
    summary = maintain(clone, split_size=36, merge_size=20)
    # the scenario this test exists for — fail loudly if the
    # geometry ever stops producing it
    assert summary["splits"] == [(1, 3)], summary
    assert summary["merges"] == [(0, 3)], summary
    _adopt_index_state(idx, clone)
    out = _replay_ingest_journal(idx, {}, False, summary=summary)
    # every window row was carried into the published version (the
    # minus-lobe ones now live in keeper 0 via the m3- file move) —
    # nothing re-inserted, nothing duplicated
    assert out == {"present": 10, "replayed": 0}, out
    live = idx.read_corpus()
    cnt = {int(r["vec_id"]): r["count"] for r in
           live.where("vec_id >= 900").groupBy("vec_id")
           .count().collect()}
    assert cnt == {i: 1 for i in range(900, 910)}
    phys = {int(r["partition_id"]): r["count"] for r in
            live.groupBy("partition_id").count().collect()}
    for pos, pid in enumerate(idx.part_ids):
        assert int(idx.sizes[pos]) == phys.get(int(pid), 0), (
            pid, int(idx.sizes[pos]), phys.get(int(pid), 0))


def test_async_maintain_runs_in_isolated_scheduler_pool(spark,
                                                        tmp_path,
                                                        monkeypatch):
    """Round 15, VERDICT r14 #3: the background maintain thread pins
    its Spark jobs to the ``qvss-maintenance`` scheduler pool and the
    batch handler pins its own to ``qvss-ingest`` — under
    ``spark.scheduler.mode=FAIR`` (SCALING.md recipe) a long retrain
    stage then time-shares the executors with ingest micro-batches
    instead of queuing them behind it (inert under FIFO). The pin is
    observed INSIDE the maintain thread / the batch handler via the
    JVM-side local property — the thing the DAGScheduler actually
    reads."""
    import os

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
        ingest_stream,
    )

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=71)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_pool"),
                         coarse_k=2, base_k=2)

    seen_pools = {}
    real_maintain = maint_mod.maintain

    def spy_maintain(index_, **kw):
        seen_pools["maintain"] = (index_.spark.sparkContext
                                  .getLocalProperty(
                                      "spark.scheduler.pool"))
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", spy_maintain)

    real_insert = IVFIndex.insert

    def spy_insert(self, ids, vecs, **kw):
        seen_pools.setdefault(
            "batch", self.spark.sparkContext.getLocalProperty(
                "spark.scheduler.pool"))
        return real_insert(self, ids, vecs, **kw)

    monkeypatch.setattr(IVFIndex, "insert", spy_insert)

    rng = np.random.default_rng(73)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)
    for k in range(2):
        rows = [(int(95_000 + k), rng.normal(size=8).astype(float)
                 .tolist())]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
        finish_async_maintenance(idx)
    finally:
        q.stop()
    assert seen_pools.get("maintain") == "qvss-maintenance", seen_pools
    assert seen_pools.get("batch") == "qvss-ingest", seen_pools


@pytest.mark.slow
def test_crash_recovery_through_real_process_restart(spark, tmp_path):
    """Round 15, VERDICT r14 #5: the attach-time crash recovery,
    driven through a REAL process death — no in-process
    state-surgery. A child process (tests/crash_child_helper.py)
    builds the index, opens an async window, journals a window batch
    and two deletes (one pre-existing row, one window row), lets the
    background maintain PUBLISH, and SIGKILLs itself before the
    boundary that would have swapped — the exact
    published-but-not-swapped crash the journals exist for. This
    parent process then loads a fresh handle (which picks up the
    published version) and re-attaches ``ingest_stream``: the
    leftover journals replay (inserts first, then the
    sequence-final deletes), the marker clears, and every row lands
    exactly once."""
    import os
    import signal
    import subprocess
    import sys

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.windowing import (
        _delete_journal_dir,
        _journal_dir,
        _window_marker_path,
    )

    helper = os.path.join(os.path.dirname(__file__),
                          "crash_child_helper.py")
    workdir = str(tmp_path / "ivf_crash")
    vdir = str(tmp_path / "vecs")
    ckpt = str(tmp_path / "ckpt")
    proc = subprocess.run(
        [sys.executable, helper, workdir, vdir, ckpt],
        capture_output=True, text=True, timeout=420)
    assert proc.returncode == -signal.SIGKILL, (
        proc.returncode, proc.stdout[-2000:], proc.stderr[-2000:])
    ready = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("READY ")]
    assert ready, (proc.stdout[-2000:], proc.stderr[-2000:])
    victim = int(ready[0].split()[1])

    # the true crash state: journals + marker on disk, version
    # published but never swapped into any live handle
    fresh = IVFIndex.load(spark, workdir)
    assert os.path.isdir(_journal_dir(fresh))
    assert os.path.isdir(_delete_journal_dir(fresh))
    assert os.path.exists(_window_marker_path(fresh.workdir))
    assert fresh.version >= 1          # the background publish landed
    # pre-replay: the window deletes are nowhere in the fresh meta
    assert victim not in fresh.tombstones

    # re-attach with one more batch — the documented recovery path
    rng = np.random.default_rng(89)
    vdir2 = str(tmp_path / "vecs2")
    (spark.createDataFrame(
        [(96_100, rng.normal(size=8).astype(float).tolist())],
        "vec_id long, embedding array<float>")
     .coalesce(1).write.mode("overwrite").parquet(vdir2))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .parquet(vdir2))
    q = ingest_stream(fresh, vstream, str(tmp_path / "ckpt2"),
                      encode_pq=False)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.isdir(_journal_dir(fresh))
    assert not os.path.isdir(_delete_journal_dir(fresh))
    assert not os.path.exists(_window_marker_path(fresh.workdir))
    live = fresh.read_corpus()
    # deletes replayed: the pre-existing victim and window row 96005
    assert live.where(f"vec_id = {victim}").count() == 0
    assert live.where("vec_id = 96005").count() == 0
    # every surviving streamed row landed exactly once, plus the
    # post-recovery batch
    got = {int(r["vec_id"]): r["count"] for r in
           live.where("vec_id >= 96000").groupBy("vec_id")
           .count().collect()}
    assert got == {i: 1 for i in
                   list(range(96_000, 96_005)) + [96_100]}, got


def test_attach_refuses_second_live_writer(spark, tmp_path):
    """Round 15 follow-through on the window marker: an
    ``ingest_stream`` attach that finds a marker whose writer pid is
    STILL ALIVE is a second live writer, not a crash recovery —
    replaying a live window's journals mid-window would corrupt its
    exactly-once reconciliation, so the attach refuses loudly. Once
    the holder dies, the same attach performs the normal crash
    recovery (marker cleared, stream runs)."""
    import json
    import os
    import subprocess
    import sys

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.windowing import _window_marker_path

    corpus = make_dataset(spark, 150, d=8, n_clusters=2, seed=91)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_two_writers"),
                         coarse_k=2, base_k=1)
    holder = subprocess.Popen([sys.executable, "-c",
                               "import time; time.sleep(120)"])
    try:
        with open(_window_marker_path(idx.workdir), "w") as fh:
            json.dump({"pid": holder.pid,
                       "src_version": idx.version}, fh)
        rng = np.random.default_rng(93)
        vdir = str(tmp_path / "vecs")
        (spark.createDataFrame(
            [(97_000, rng.normal(size=8).astype(float).tolist())],
            "vec_id long, embedding array<float>")
         .coalesce(1).write.mode("overwrite").parquet(vdir))
        vstream = (spark.readStream
                   .schema("vec_id long, embedding array<float>")
                   .parquet(vdir))
        with pytest.raises(RuntimeError, match="second\\s+writer|"
                                               "holds an open"):
            ingest_stream(idx, vstream, str(tmp_path / "ckpt"),
                          encode_pq=False)
        assert os.path.exists(_window_marker_path(idx.workdir))
    finally:
        holder.kill()
        holder.wait()
    # holder dead -> the same attach is now the documented recovery
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .parquet(str(tmp_path / "vecs")))
    q = ingest_stream(idx, vstream, str(tmp_path / "ckpt2"),
                      encode_pq=False)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.exists(_window_marker_path(idx.workdir))
    assert idx.read_corpus().where("vec_id = 97000").count() == 1


def test_attach_applies_orphan_delete_journal(spark, tmp_path):
    """Crash in the middle of a swap — AFTER the insert-journal
    replay removed its directory but BEFORE the delete replay ran —
    leaves an orphan delete journal. The next attach must still
    apply it: with no insert journal to compare stamps against,
    ``_final_delete_ids`` falls back to delete-wins, which is
    correct here (any delete-then-reinsert would have closed the
    window synchronously at the re-insert, so an orphan delete
    journal can only hold deletes that stand)."""
    import os

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.windowing import (
        _delete_journal_dir,
        _journal_deletes,
        _window_marker_path,
    )

    corpus = make_dataset(spark, 150, d=8, n_clusters=2, seed=95)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_orphan_del"),
                         coarse_k=2, base_k=1)
    victim = int(idx.read_corpus().select("vec_id")
                 .orderBy("vec_id").first()[0])
    idx.save_meta()
    # construct the exact crash state: delete journal + marker on
    # disk, nothing else (insert journal already consumed)
    idx._async_maint = {"thread": None}
    _journal_deletes(idx, [victim])
    idx._async_maint = None
    with open(_window_marker_path(idx.workdir), "w") as fh:
        fh.write('{"pid": 99999999, "src_version": 0}')
    assert os.path.isdir(_delete_journal_dir(idx))

    fresh = IVFIndex.load(spark, idx.workdir)
    assert victim not in fresh.tombstones
    rng = np.random.default_rng(97)
    vdir = str(tmp_path / "vecs")
    (spark.createDataFrame(
        [(98_000, rng.normal(size=8).astype(float).tolist())],
        "vec_id long, embedding array<float>")
     .coalesce(1).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .parquet(vdir))
    q = ingest_stream(fresh, vstream, str(tmp_path / "ckpt"),
                      encode_pq=False)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.isdir(_delete_journal_dir(fresh))
    assert not os.path.exists(_window_marker_path(fresh.workdir))
    assert fresh.read_corpus().where(
        f"vec_id = {victim}").count() == 0
    assert fresh.read_corpus().where("vec_id = 98000").count() == 1
    phys = {int(r["partition_id"]): r["count"] for r in
            fresh.read_corpus().groupBy("partition_id").count()
            .collect()}
    for pos, pid in enumerate(fresh.part_ids):
        assert int(fresh.sizes[pos]) == phys.get(int(pid), 0), pid


def test_out_of_band_insert_during_window_survives_swap(spark,
                                                        tmp_path,
                                                        monkeypatch):
    """Round 15 review follow-up: INSERTS self-journal at the write,
    exactly like delete() — an out-of-band same-handle insert during
    an open async window needs no caller cooperation to survive the
    wholesale state adopt at the swap. Both the driver path
    (``insert``) and the distributed path (``insert_distributed``)
    are exercised mid-window."""
    import os
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
        ingest_stream,
    )

    corpus = make_dataset(spark, 300, d=8, n_clusters=4, seed=101)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_oob_ins"),
                         coarse_k=2, base_k=2)

    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)

    rng = np.random.default_rng(103)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    os.makedirs(vdir, exist_ok=True)

    def write_batch(ids):
        rows = [(int(i), rng.normal(size=8).astype(float).tolist())
                for i in ids]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))

    for k in range(3):
        write_batch(range(99_000 + 2 * k, 99_000 + 2 * k + 2))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
        assert idx._async_maint is not None
        # out-of-band writes through the SAME handle, mid-window:
        # driver path and distributed path
        oob_ids = np.array([99_100, 99_101], dtype=np.int64)
        idx.insert(oob_ids, rng.normal(size=(2, 8)))
        dist_rows = [(99_102, rng.normal(size=8).astype(float)
                      .tolist())]
        dist_df = spark.createDataFrame(
            dist_rows, "vec_id long, embedding array<float>")
        idx.insert_distributed(dist_df)
        release.set()
        idx._async_maint["thread"].join(timeout=120)
        write_batch(range(99_006, 99_008))   # boundary → swap
        q.processAllAvailable()
    finally:
        release.set()
        q.stop()
        finish_async_maintenance(idx)
    live = idx.read_corpus()
    got = {int(r["vec_id"]): r["count"] for r in
           live.where("vec_id >= 99000").groupBy("vec_id")
           .count().collect()}
    expect = (list(range(99_000, 99_008))
              + [99_100, 99_101, 99_102])
    assert got == {i: 1 for i in expect}, got
    phys = {int(r["partition_id"]): r["count"] for r in
            live.groupBy("partition_id").count().collect()}
    for pos, pid in enumerate(idx.part_ids):
        assert int(idx.sizes[pos]) == phys.get(int(pid), 0), pid


def test_cross_handle_insert_refused_during_window(spark, tmp_path,
                                                   monkeypatch):
    """Round 15 review follow-up: the single-writer marker guards
    INSERTS too — a second handle's insert (driver or distributed)
    during another handle's open window would land rows the window's
    journals never saw, silently dropped from bookkeeping at the
    swap. Same refusal shape as delete()'s; a same-process second
    ``ingest_stream`` attach is refused through the in-process
    window registry."""
    import threading

    import numpy as np

    import quake_vector_search_spark.operators.maintenance as maint_mod
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
        ingest_stream,
    )

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=105)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_xh_ins"),
                         coarse_k=2, base_k=2)

    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated_maintain(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    monkeypatch.setattr(maint_mod, "maintain", gated_maintain)

    rng = np.random.default_rng(107)
    vdir, ckpt = str(tmp_path / "vecs"), str(tmp_path / "ckpt")
    import os as _os
    _os.makedirs(vdir, exist_ok=True)
    for k in range(2):
        rows = [(int(99_200 + k), rng.normal(size=8).astype(float)
                 .tolist())]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
        assert idx._async_maint is not None
        second = IVFIndex.load(spark, idx.workdir)
        with pytest.raises(RuntimeError,
                           match="async maintenance window"):
            second.insert(np.array([99_300]),
                          rng.normal(size=(1, 8)))
        with pytest.raises(RuntimeError,
                           match="async maintenance window"):
            second.insert_distributed(spark.createDataFrame(
                [(99_301, rng.normal(size=8).astype(float)
                  .tolist())],
                "vec_id long, embedding array<float>"))
        # a second ATTACH in the same process is refused through the
        # in-process registry (the pid probe alone can't see it)
        with pytest.raises(RuntimeError,
                           match="in this process"):
            ingest_stream(second,
                          spark.readStream
                          .schema("vec_id long, "
                                  "embedding array<float>")
                          .parquet(vdir),
                          str(tmp_path / "ckpt2"), encode_pq=False)
        release.set()
    finally:
        release.set()
        q.stop()
        finish_async_maintenance(idx)
    # window closed → the reloaded handle writes normally
    second = IVFIndex.load(spark, idx.workdir)
    second.insert(np.array([99_300]), rng.normal(size=(1, 8)))
    assert second.read_corpus().where(
        "vec_id = 99300").count() == 1
