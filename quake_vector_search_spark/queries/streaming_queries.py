"""Streaming paths under the driver's oracle (round-5 VERDICT #5).

Until now the Structured Streaming surface was verified only by
tests/test_streaming.py's streaming-vs-batch differentials. These
registry entries put each streaming path under the same external gate
as everything else: each query replays the sf_dir events table through
the real file-stream path (footer-sniffed schema, watermarks, memory
sink, processAllAvailable), compares the drained output against the
batch operator IN the query, and emits one row of
  (exact anchor computable by DuckDB, property booleans).
The anchor (window/session/key/cell count straight off the events
table) keeps the oracle non-vacuous — a drift in either engine's view
of the data flips the hash gate — while the booleans carry the
stream-equals-batch contract (the gen_dataset_pinned pattern).

Loaded AFTER the driver's 50-entry window (see __init__); covered by
the local sweep at all three sfs and by the driver when the window
rotates.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import shutil

from pyspark.sql import functions as F

from quake_vector_search_spark.queries import register
from quake_vector_search_spark.sources import load_table

_SINK_SEQ = itertools.count()


def _sink_name(tag: str) -> str:
    """Unique memory-sink name per invocation (the sweep may run a
    query several times in one session)."""
    return f"strq_{tag}_{os.getpid()}_{next(_SINK_SEQ)}"


def _docs_stream_dir(spark, sf_dir: str) -> str:
    """Cacheable 2-file replay copy of the documents table (no
    event-time column, so no mtime ordering needed — unlike
    _events_stream_dir)."""
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    key = hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()) \
        .hexdigest()[:8]
    ddir = f"/tmp/qvss_docs_stream_{key}"
    if not os.path.exists(os.path.join(ddir, "_READY")):
        shutil.rmtree(ddir, ignore_errors=True)
        (spark.read.parquet(f"{sf_dir}/documents.parquet")
         .repartition(2).write.mode("overwrite").parquet(ddir))
        with open(os.path.join(ddir, "_READY"), "w") as fh:
            fh.write("ok")
    return ddir


def _docs_stream(spark, ddir: str):
    return (spark.readStream
            .schema("doc_id long, text string, lang string, "
                    "source string, n_chars long")
            .option("maxFilesPerTrigger", 1).parquet(ddir))


def _events_stream_dir(spark, sf_dir: str) -> str:
    """Materialize sf_dir's events table as a 4-file time-ranged stream
    directory with pinned mtimes (FileStreamSource consumes in mtime
    order; unpinned parallel-write mtimes are racy and can present
    later time ranges first, making the watermark drop earlier files
    as late). Idempotent per sf_dir via a _READY marker."""
    # key in the source file's identity (mtime+size): a regenerated
    # testdata file must invalidate the replay dir, or the stream
    # would silently replay the previous generation
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    key = hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    out = f"/tmp/qvss_stream_reg_{key}"
    marker = os.path.join(out, "_READY")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    raw.repartitionByRange(4, F.col("ts")).write.mode("overwrite") \
       .parquet(out)
    import pyarrow.parquet as pq
    parts = []
    for f in os.listdir(out):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            p = os.path.join(out, f)
            ts_min = min(pq.read_table(p, columns=["ts"])
                         .column("ts").to_pylist())
            parts.append((ts_min, p))
    base = 1_700_000_000
    for i, (_, p) in enumerate(sorted(parts)):
        os.utime(p, (base + 100 * i, base + 100 * i))
    with open(marker, "w") as fh:
        fh.write("ok")
    return out


def _serving_query_dir(spark, sf_dir: str) -> str:
    """Stage the first 10 query vectors as a 2-file parquet dir for
    the serving rows — idempotent per testdata generation (keyed on
    the source file's identity, _READY marker closes the
    write-then-read race). One implementation so the key scheme and
    the race guard can't drift between the serving variants."""
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    key = hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    qdir = f"/tmp/qvss_serving_q_{key}"
    if not os.path.exists(os.path.join(qdir, "_READY")):
        shutil.rmtree(qdir, ignore_errors=True)
        (load_table(spark, sf_dir, "embeddings")
         .where(F.col("vec_id") < 10)
         .withColumnRenamed("vec_id", "query_id")
         .select("query_id", "embedding")
         .repartition(2).write.mode("overwrite").parquet(qdir))
        with open(os.path.join(qdir, "_READY"), "w") as fh:
            fh.write("ok")
    return qdir


def _drain(spark, sf_dir: str, build, tag: str, output_mode="append"):
    """Replay events through a streaming transform and return the
    drained memory-sink contents as a batch DataFrame."""
    from quake_vector_search_spark.streaming import windows as SW

    stream = SW.read_events_stream(spark, _events_stream_dir(spark, sf_dir))
    return SW.run_to_completion(build(stream), _sink_name(tag),
                                output_mode=output_mode)


@register("stream_tumbling_equals_batch", sql="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_batch_windows,
       TRUE AS emitted_subset_of_batch,
       TRUE AS emitted_ge_80pct
FROM (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
      FROM events GROUP BY 1, 2)
""")
def stream_tumbling_equals_batch(spark, sf_dir):
    """Streaming tumbling-window path under the oracle: drain the
    watermarked hourly aggregate over the file-replayed events and
    require every emitted (window, type, n) row to equal its batch
    twin (tumbling_agg), with at least the watermark-closed 80% of
    windows emitted (append mode holds the stream-tail windows open).
    n_batch_windows anchors the row to DuckDB's own group count."""
    from quake_vector_search_spark.operators import timeseries as TS
    from quake_vector_search_spark.streaming import windows as SW

    out = _drain(spark, sf_dir,
                 lambda s: SW.tumbling_stream(s, "1 hour"), "tumble")
    batch = TS.tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")
    cols = ["window_start", "event_type", "n"]
    got = {tuple(r) for r in out.select(*cols).collect()}
    want = {tuple(r) for r in batch.select(*cols).collect()}
    return spark.createDataFrame(
        [(len(want), got <= want, len(got) >= 0.8 * len(want))],
        "n_batch_windows long, emitted_subset_of_batch boolean, "
        "emitted_ge_80pct boolean")


@register("stream_session_equals_batch", sql="""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu,
         lag(CAST(ts AS TIMESTAMP)) OVER
           (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
           AS prev_ts
  FROM events
)
SELECT CAST(SUM(CASE WHEN prev_ts IS NULL
                       OR epoch(tsu) - epoch(prev_ts) > 1800 THEN 1
                ELSE 0 END) AS BIGINT) AS n_batch_sessions,
       TRUE AS emitted_subset_of_batch,
       TRUE AS emitted_ge_80pct
FROM ordered
""")
def stream_session_equals_batch(spark, sf_dir):
    """Streaming session-window path under the oracle: drained
    session_window(30 min) sessions must each equal a batch sessionize
    twin on (user, start, end, n_events) — session_window's end is
    last-event + gap, so the batch end is shifted by the gap for the
    comparison, exactly like tests/test_streaming.py. The anchor is
    DuckDB's independent lag-gap session count."""
    from quake_vector_search_spark.operators import timeseries as TS
    from quake_vector_search_spark.streaming import windows as SW

    out = _drain(spark, sf_dir,
                 lambda s: SW.session_stream(s, "30 minutes"), "sess")
    batch = (TS.sessionize(load_table(spark, sf_dir, "events"),
                           gap_minutes=30)
             .withColumn("session_end",
                         F.col("session_end")
                         + F.expr("INTERVAL 30 MINUTES")))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    got = {tuple(r) for r in out.select(*cols).collect()}
    want = {tuple(r) for r in batch.select(*cols).collect()}
    return spark.createDataFrame(
        [(len(want), got <= want, len(got) >= 0.8 * len(want))],
        "n_batch_sessions long, emitted_subset_of_batch boolean, "
        "emitted_ge_80pct boolean")


@register("stream_dedup_equals_batch", sql="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_keys,
       TRUE AS keys_equal_batch
FROM (SELECT DISTINCT user_id, event_type FROM events)
""")
def stream_dedup_equals_batch(spark, sf_dir):
    """Streaming exact-dedup path under the oracle: dropDuplicates
    with a watermark emits each (user_id, event_type) key exactly once
    (first occurrence passes immediately; dedup state never holds
    emissions back), so the drained key set must EQUAL the batch
    distinct key set — set equality, not subset. Anchored to DuckDB's
    COUNT(DISTINCT)."""
    from quake_vector_search_spark.streaming import windows as SW

    keys = ["user_id", "event_type"]
    out = _drain(spark, sf_dir,
                 lambda s: SW.dedup_stream(s, keys), "dedup")
    got = {tuple(r) for r in out.select(*keys).collect()}
    want = {tuple(r) for r in
            load_table(spark, sf_dir, "events")
            .select(*keys).distinct().collect()}
    return spark.createDataFrame(
        [(len(want), got == want)],
        "n_distinct_keys long, keys_equal_batch boolean")


@register("stream_kmv_equals_batch", sql="""
WITH hashes AS (
  SELECT DISTINCT
    (CAST(concat('0x', substr(md5(concat('kmv', ':',
         CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1)
      / 1152921504606846976.0 AS u
  FROM events
), mins AS (
  SELECT u FROM hashes ORDER BY u ASC LIMIT 64
), agg AS (
  SELECT MAX(u) AS kth, CAST(COUNT(*) AS BIGINT) AS n_kept FROM mins
)
SELECT ROUND(kth, 10) AS kth_min_hash,
       ROUND(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                  ELSE 63.0 / kth END, 4) AS est_distinct,
       n_kept,
       TRUE AS sketch_equals_batch
FROM agg
""")
def stream_kmv_equals_batch(spark, sf_dir):
    """Streaming KMV path under the oracle: drain the sharded
    stateful sketch (streaming/stateful.py::kmv_stream) over the
    replayed events' user_id, merge the shards' minima, and emit the
    merged (kth_min_hash, est_distinct, n_kept) row itself — DuckDB
    rebuilds the IDENTICAL sketch from the same portable hash, so the
    values hash-match exactly (the strongest form: not a boolean, the
    sketch content). sketch_equals_batch additionally pins
    stream-then-merge == batch kmv_distinct inside Spark."""
    from quake_vector_search_spark.operators.sketch import kmv_distinct
    from quake_vector_search_spark.streaming.stateful import (
        kmv_merge_rows,
        kmv_stream,
    )

    k = 64
    out = _drain(spark, sf_dir,
                 lambda s: kmv_stream(s, "user_id", k=k), "kmv",
                 output_mode="update")
    merged = kmv_merge_rows(out, k=k)
    batch = kmv_distinct(
        load_table(spark, sf_dir, "events").select("user_id"),
        "user_id", k=k)
    mrow, brow = merged.head(), batch.head()
    same = bool(mrow == brow)
    return spark.createDataFrame(
        [(float(mrow["kth_min_hash"]), float(mrow["est_distinct"]),
          int(mrow["n_kept"]), same)],
        "kth_min_hash double, est_distinct double, n_kept long, "
        "sketch_equals_batch boolean")


@register("stream_cms_equals_batch", sql="""
WITH js AS (SELECT unnest(generate_series(0, 3)) AS j)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       TRUE AS cells_equal_batch
FROM (SELECT DISTINCT js.j,
             CAST(concat('0x', substr(md5(concat(js.j, ':', event_type)),
                  1, 15)) AS BIGINT) % 256 AS bucket
      FROM events CROSS JOIN js)
""")
def stream_cms_equals_batch(spark, sf_dir):
    """Streaming count-min-sketch path under the oracle: the CMS is an
    incremental aggregation, so the fully-drained stream sketch must
    equal the batch sketch CELL FOR CELL — (j, bucket, c) set equality
    over the same portable-md5 hashing. Anchored to DuckDB building
    the identical cell set independently (n_cells)."""
    from quake_vector_search_spark.operators.sketch import cms_sketch
    from quake_vector_search_spark.streaming import windows as SW

    out = _drain(spark, sf_dir,
                 lambda s: SW.cms_stream(s, "event_type"), "cms",
                 output_mode="complete")
    batch = cms_sketch(
        load_table(spark, sf_dir, "events").select("event_type"),
        "event_type")
    got = {tuple(r) for r in out.select("j", "bucket", "c").collect()}
    want = {tuple(r) for r in batch.select("j", "bucket", "c").collect()}
    return spark.createDataFrame(
        [(len(want), got == want)],
        "n_cells long, cells_equal_batch boolean")


@register("stream_stateful_totals_equals_batch", sql="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       ROUND(MAX(value), 6) AS max_value
FROM events
GROUP BY user_id
""")
def stream_stateful_totals_equals_batch(spark, sf_dir):
    """The applyInPandasWithState custom-operator path under the
    oracle, value-hashed DIRECTLY (no booleans): drain the per-user
    running-totals stream and emit each user's FINAL state row —
    DuckDB computes the batch lifetime aggregates over the same
    events, so every count and sum must match cell for cell. This is
    the strongest form for a stateful operator: the state machine's
    end state IS the batch aggregate."""
    from pyspark.sql import Window
    from quake_vector_search_spark.streaming.stateful import (
        user_running_totals,
    )

    out = _drain(spark, sf_dir, user_running_totals, "totals",
                 output_mode="update")
    latest = (out.withColumn(
        "_rn", F.row_number().over(
            Window.partitionBy("user_id")
            .orderBy(F.col("n_events").desc())))
        .where(F.col("_rn") == 1))
    return latest.select(
        "user_id", "n_events",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("max_value", 6).alias("max_value"))


@register("stream_interval_join_equals_batch", sql="""
WITH p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu FROM events
  WHERE event_type = 'purchase'
), c AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu FROM events
  WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
       ROUND(epoch(p.tsu) - epoch(c.tsu), 6) AS gap_s
FROM c JOIN p
  ON p.user_id = c.user_id
 AND p.tsu >= c.tsu
 AND p.tsu <= c.tsu + INTERVAL 1 HOUR
""")
def stream_interval_join_equals_batch(spark, sf_dir):
    """The watermarked stream-stream join path under the oracle,
    value-hashed directly: replay clicks and purchases as two streams,
    inner interval join (1h attribution window, 2h watermarks), drain,
    and the emitted pair set must equal the batch join — DuckDB
    computes the definition. Inner stream-stream pairs emit as soon
    as both sides arrive; the 2h watermark > 1h window guarantees no
    state needed for a possible match is evicted early, so the drained
    output is COMPLETE, not a subset."""
    from quake_vector_search_spark.streaming import windows as SW

    sdir = _events_stream_dir(spark, sf_dir)
    clicks = (SW.read_events_stream(spark, sdir)
              .where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id",
                      F.col("ts").alias("click_ts")))
    purchases = (SW.read_events_stream(spark, sdir)
                 .where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id",
                         F.col("ts").alias("purchase_ts")))
    joined = SW.interval_join_stream(
        clicks, purchases, "user_id", "click_ts", "purchase_ts",
        upper_s=3600)
    out = SW.run_to_completion(joined, _sink_name("ivj"))
    return out.select(
        "purchase_id", "click_id", "user_id",
        F.round((F.unix_micros("purchase_ts")
                 - F.unix_micros("click_ts")) / 1_000_000.0, 6)
         .alias("gap_s"))


@register("stream_serving_equals_batch", sql="""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id < 10
), d AS (
  SELECT q.query_id, e.vec_id,
         list_distance(CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qvec AS DOUBLE[])) AS dist
  FROM embeddings e CROSS JOIN q
), r AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, vec_id ASC) AS rank
  FROM d
)
SELECT query_id, vec_id, ROUND(dist, 6) AS dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""")
def stream_serving_equals_batch(spark, sf_dir):
    """The online query-serving path under the oracle, value-hashed
    directly: 10 queries arrive as a 2-file stream, each micro-batch
    runs the full APS → pruned-scan → top-k search through
    streaming/serving.py::search_stream (foreachBatch, exactly-once
    parquet sink), and at target_recall = 1.0 the drained answers must
    equal brute force — which is exactly what DuckDB computes. Covers
    the last previously-test-only streaming path with a full value
    hash (micro-batching must not change a single answer row)."""
    import uuid

    from quake_vector_search_spark.queries.vector_queries import (
        _ivf_index,
    )
    from quake_vector_search_spark.streaming.serving import search_stream

    idx = _ivf_index(spark, sf_dir)
    qdir = _serving_query_dir(spark, sf_dir)
    run = uuid.uuid4().hex[:8]
    results = f"/tmp/qvss_serving_out_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_serving_ckpt_{os.getpid()}_{run}"
    qstream = (spark.readStream
               .schema("query_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(qdir))
    q = search_stream(idx, qstream, results, ckpt, k=10,
                      target_recall=1.0, max_probe=1_000_000_000)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(results)
    res = (out.select("query_id", "vec_id",
                      F.round("dist", 6).alias("dist"), "rank")
           .localCheckpoint())
    shutil.rmtree(results, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return res


@register("stream_serving_compressed_equals_batch", sql="""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id < 10
), d AS (
  SELECT q.query_id, e.vec_id,
         list_distance(CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qvec AS DOUBLE[])) AS dist
  FROM embeddings e CROSS JOIN q
), r AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, vec_id ASC) AS rank
  FROM d
)
SELECT query_id, vec_id, ROUND(dist, 6) AS dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""")
def stream_serving_compressed_equals_batch(spark, sf_dir):
    """Online serving through the COMPRESSED (IVF+PQ hybrid) path,
    value-hashed directly — the 100 TB serving configuration, where
    each micro-batch scans the probed partitions' 8-byte codes instead
    of full vectors and reranks candidates exactly. The sidecar here
    is the ladder's top rung (full LOPQ: per-cell rotations + per-cell
    books), so the row also pins flavor auto-detection inside the
    serving loop. At full probe + corpus-wide oversample the hybrid
    answers equal brute force — which is what DuckDB computes; a
    mis-rotated LUT, wrong cell's books, or lost micro-batch flips the
    hash. Fresh scratch index per run (the sidecar belongs to it)."""
    import uuid

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.streaming.serving import search_stream

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    wd = f"/tmp/qvss_cserv_idx_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb, wd, coarse_k=8, base_k=4)
    build_pq_sidecar(idx, m=8, ksub=256, seed=99, residual=True,
                     local=True, rotate=True)
    qdir = _serving_query_dir(spark, sf_dir)
    results = f"/tmp/qvss_cserv_out_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_cserv_ckpt_{os.getpid()}_{run}"
    qstream = (spark.readStream
               .schema("query_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(qdir))
    n = emb.count()
    q = search_stream(idx, qstream, results, ckpt, k=10,
                      target_recall=1.0, max_probe=1_000_000_000,
                      compressed=True,
                      oversample=max(16, -(-n // 20)))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(results)
    res = (out.select("query_id", "vec_id",
                      F.round("dist", 6).alias("dist"), "rank")
           .localCheckpoint())
    for p in (results, ckpt, wd):
        shutil.rmtree(p, ignore_errors=True)
    return res


@register("stream_ingest_equals_batch", sql="""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id < 5
), d AS (
  SELECT q.query_id, e.vec_id,
         list_distance(CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qvec AS DOUBLE[])) AS dist
  FROM embeddings e CROSS JOIN q
), r AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, vec_id ASC) AS rank
  FROM d
)
SELECT query_id, vec_id, ROUND(dist, 6) AS dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""")
def stream_ingest_equals_batch(spark, sf_dir):
    """The foreachBatch ingest path under the oracle, value-hashed
    directly (the last streaming path that was test-only): build a
    fresh index over embeddings vec_id >= 50, stream the missing 50
    vectors in as two micro-batches through
    streaming/ingest.py::ingest_stream (nearest-coarse -> nearest-base
    routing, exact incremental centroid updates), then full-probe
    search 5 queries drawn FROM the streamed-in set. At
    target_recall=1.0 the answers must equal brute force over the FULL
    table — which is exactly what DuckDB computes. Micro-batched
    insertion must not lose, duplicate, or mis-route a single vector,
    or the value hash flips."""
    import uuid

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    workdir = f"/tmp/qvss_ingest_idx_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_ingest_ckpt_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb.where(F.col("vec_id") >= 50), workdir,
                         coarse_k=16, base_k=4)
    # the 50 held-out vectors as a 2-file stream (idempotent per
    # testdata generation, keyed on the source file's identity)
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    key = hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    vdir = f"/tmp/qvss_ingest_v_{key}"
    if not os.path.exists(os.path.join(vdir, "_READY")):
        shutil.rmtree(vdir, ignore_errors=True)
        (emb.where(F.col("vec_id") < 50)
            .select("vec_id", "embedding")
            .repartition(2).write.mode("overwrite").parquet(vdir))
        with open(os.path.join(vdir, "_READY"), "w") as fh:
            fh.write("ok")
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    queries = (emb.where(F.col("vec_id") < 5)
               .withColumnRenamed("vec_id", "query_id"))
    out, _meta = idx.search(queries, k=10, target_recall=1.0,
                            max_probe=1_000_000_000)
    res = (out.select("query_id", "vec_id",
                      F.round("dist", 6).alias("dist"), "rank")
           .localCheckpoint())
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return res


def _register_stream_curation():
    from quake_vector_search_spark.operators.pii import redact_sql
    from quake_vector_search_spark.operators.text import (
        LANG_STOPWORDS, QUALITY_WEIGHTS_MILLI as W)
    en = "', '".join(LANG_STOPWORDS["en"])

    @register("stream_curation_filter_equals_batch", sql=f"""
WITH m AS (
  SELECT doc_id,
    CAST(greatest(length(text), 1) AS BIGINT) AS L,
    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
      AS na,
    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
      AS nd,
    CAST(length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))
      AS BIGINT) AS np,
    CAST(greatest(len(regexp_extract_all(text, '\\S+')), 1) AS BIGINT)
      AS T,
    CAST(len(list_filter(regexp_extract_all(text, '\\S+'),
                         w -> lower(w) IN ('{en}'))) AS BIGINT) AS ns
  FROM documents
), r AS (
  SELECT doc_id,
         T * ({W["alpha"]} * na + {W["punct"]} * np + {W["digit"]} * nd)
           + {W["stopword"]} * ns * L + {W["bias"]} * L * T AS P,
         1000 * L * T AS Q
  FROM m
), red AS (
  SELECT doc_id, md5({redact_sql('text')}) AS red_md5 FROM documents
)
SELECT r.doc_id,
  0.0 + CASE WHEN P >= 0
    THEN CAST((2 * P * 1000000 + Q) // (2 * Q) AS DOUBLE) / 1e6
    ELSE -(CAST((2 * (-P) * 1000000 + Q) // (2 * Q) AS DOUBLE) / 1e6)
  END AS logit,
  P > 0 AS accept, red.red_md5
FROM r JOIN red ON red.doc_id = r.doc_id
ORDER BY r.doc_id
""")
    def stream_curation_filter_equals_batch(spark, sf_dir):
        """The curation filters under STREAMING execution, value-hashed
        directly: the documents table replays as a 2-file stream and
        two narrow streaming pipelines run unmodified operator code —
        linear_quality_classifier (spread() is streaming-aware) and
        the PII redactor — each drained through a memory sink; the
        joined drain must equal DuckDB's batch computation row for
        row. Proves the row-wise curation surface is
        execution-mode-agnostic (the 100 TB ingest-time filtering
        story), not just batch-correct."""
        from quake_vector_search_spark.operators.pii import redact
        from quake_vector_search_spark.operators.text import (
            linear_quality_classifier)
        from quake_vector_search_spark.streaming import windows as SW

        def docs_stream():
            return _docs_stream(spark, _docs_stream_dir(spark, sf_dir))

        clf = SW.run_to_completion(
            linear_quality_classifier(docs_stream()),
            _sink_name("curq"))
        red = SW.run_to_completion(
            redact(docs_stream()).select(
                "doc_id", F.md5("text_redacted").alias("red_md5")),
            _sink_name("curp"))
        return (clf.select("doc_id",
                           (F.lit(0.0) + F.col("logit")).alias("logit"),
                           "accept")
                .join(red, "doc_id")
                .orderBy("doc_id"))


_register_stream_curation()


def _register_stream_tokenize():
    from quake_vector_search_spark.queries.extra_queries import (
        _bpe_encode_sql)

    @register("stream_tokenize_equals_batch", sql=_bpe_encode_sql())
    def stream_tokenize_equals_batch(spark, sf_dir):
        """The BPE encoder under STREAMING execution, value-hashed
        directly against the batch oracle: merges train batch-side
        (training is a bounded aggregate, not a streaming concern),
        then operators/bpe.py::encode_corpus runs UNMODIFIED on a
        2-file replay of the documents table — mapInPandas is
        execution-mode-agnostic — and the drained memory sink must
        equal DuckDB's unrolled-CTE batch computation row for row.
        Extends the ingest-time-curation story to tokenization: the
        same operator object serves backfill and live ingest."""
        from quake_vector_search_spark.operators.bpe import (
            encode_corpus, train_bpe_on_corpus)
        from quake_vector_search_spark.queries.extra_queries import (
            _BPE_MAX_WORDS, _BPE_N_MERGES)
        from quake_vector_search_spark.streaming import windows as SW

        docs = load_table(spark, sf_dir, "documents")
        merges = train_bpe_on_corpus(
            spark, docs, n_merges=_BPE_N_MERGES,
            max_words=_BPE_MAX_WORDS)
        stream = _docs_stream(spark, _docs_stream_dir(spark, sf_dir))
        drained = SW.run_to_completion(
            encode_corpus(stream, merges), _sink_name("btok"))
        return drained.orderBy("doc_id")


_register_stream_tokenize()


@register("stream_semantic_decontaminate_equals_batch", sql="""
WITH ev AS (
  SELECT embedding FROM embeddings WHERE vec_id % 97 = 0
), mx AS (
  SELECT e.vec_id,
         MAX(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                    CAST(v.embedding AS DOUBLE[]))) AS m
  FROM embeddings e CROSS JOIN ev v
  GROUP BY e.vec_id
)
SELECT vec_id, ROUND(m, 6) AS max_eval_cosine,
       (m >= 0.6) AS contaminated
FROM mx ORDER BY vec_id
""")
def stream_semantic_decontaminate_equals_batch(spark, sf_dir):
    """Semantic decontamination under STREAMING execution (round 6),
    value-hashed directly against the batch oracle: the embeddings
    table replays as a 2-file stream and
    operators/dedup.py::semantic_decontaminate_flags runs UNMODIFIED
    (a map-only mapInPandas against the closure-broadcast eval matrix
    is execution-mode-agnostic), drained through a memory sink. The
    ingest-time leakage-gating story: the same flags at the stream
    head as in the batch backfill, row for row."""
    from quake_vector_search_spark.operators.dedup import (
        semantic_decontaminate_flags)
    from quake_vector_search_spark.streaming import windows as SW

    emb = load_table(spark, sf_dir, "embeddings")
    ev = emb.where(F.col("vec_id") % 97 == 0)

    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    key = hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()) \
        .hexdigest()[:8]
    edir = f"/tmp/qvss_emb_stream_{key}"
    if not os.path.exists(os.path.join(edir, "_READY")):
        shutil.rmtree(edir, ignore_errors=True)
        (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .repartition(2).write.mode("overwrite").parquet(edir))
        with open(os.path.join(edir, "_READY"), "w") as fh:
            fh.write("ok")
    stream = (spark.readStream
              .schema("vec_id long, embedding array<float>, label int")
              .option("maxFilesPerTrigger", 1).parquet(edir))
    drained = SW.run_to_completion(
        semantic_decontaminate_flags(stream, ev, threshold=0.6),
        _sink_name("sdecon"))
    return (drained.select("vec_id",
                           F.round("max_eval_cosine", 6)
                            .alias("max_eval_cosine"),
                           "contaminated")
            .orderBy("vec_id"))


@register("stream_serving_calibrated_equals_batch", sql="""
SELECT CAST(20 AS BIGINT) AS n_queries, TRUE AS counts_match,
       TRUE AS stream_equals_batch, TRUE AS k_rows_per_query,
       TRUE AS no_implicit_fit
""")
def stream_serving_calibrated_equals_batch(spark, sf_dir):
    """Online serving under the CALIBRATED probing policy (round 7,
    VERDICT r6 #7): the same fitted temperature/cutoff rule that
    drives batch search must drive streamed micro-batches, answer for
    answer. Build a clustered index (make_dataset — pruning is real
    there), fit eagerly via build(calibrate=True), run 20 corpus
    queries once as a BATCH calibrated search and once as a 2-file
    STREAM through streaming/serving.py::search_stream(policy=
    "calibrated") against the SAME index version, and hash-pin:
    identical row sets (query_id, vec_id, dist@6, rank), k rows per
    query, and — because the fit was eager — no implicit calibrate()
    ran inside any micro-batch (asserted by poisoning the method).
    APS scoring is a pure function of query + centroid state, so any
    drift between the two paths is a real serving bug."""
    import uuid

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.serving import search_stream

    n, d, nq, k = 6000, 16, 20, 10
    corpus = make_dataset(spark, n, d=d, n_clusters=30, seed=11)
    wd = os.path.join(f"/tmp/qvss_ivf_{os.getpid()}", "serving_cal")
    shutil.rmtree(wd, ignore_errors=True)
    idx = IVFIndex.build(corpus, wd, coarse_k=8, base_k=8,
                         calibrate=True)

    qrows = corpus.where(F.col("vec_id") < nq).collect()
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    batch, _ = idx.search((qids, qmat), k=k, target_recall=0.9,
                          policy="calibrated",
                          max_probe=len(idx.part_ids))
    batch_rows = {(int(r["query_id"]), int(r["vec_id"]),
                   round(r["dist"], 6), int(r["rank"]))
                  for r in batch.collect()}

    # the fit is eager — a micro-batch must never trigger the implicit
    # brute-force auto-fit
    def _poisoned(*a, **kw):
        raise AssertionError("implicit calibrate() inside serving")
    idx.calibrate = _poisoned

    run = uuid.uuid4().hex[:8]
    qdir = f"/tmp/qvss_serving_cal_q_{os.getpid()}_{run}"
    results = f"/tmp/qvss_serving_cal_out_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_serving_cal_ckpt_{os.getpid()}_{run}"
    (corpus.where(F.col("vec_id") < nq)
     .withColumnRenamed("vec_id", "query_id")
     .select("query_id", "embedding")
     .repartition(2).write.mode("overwrite").parquet(qdir))
    qstream = (spark.readStream
               .schema("query_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(qdir))
    q = search_stream(idx, qstream, results, ckpt, k=k,
                      target_recall=0.9,
                      max_probe=len(idx.part_ids),
                      policy="calibrated")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = {(int(r["query_id"]), int(r["vec_id"]),
                    round(r["dist"], 6), int(r["rank"]))
                   for r in spark.read.parquet(results).collect()}
    for p in (qdir, results, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    per_q: dict[int, int] = {}
    for qid, _v, _d, _r in stream_rows:
        per_q[qid] = per_q.get(qid, 0) + 1
    return spark.createDataFrame(
        [(nq,
          bool(len(stream_rows) == len(batch_rows)),
          bool(stream_rows == batch_rows),
          bool(len(per_q) == nq
               and all(c == k for c in per_q.values())),
          True)],  # _poisoned would have raised otherwise
        "n_queries long, counts_match boolean, "
        "stream_equals_batch boolean, k_rows_per_query boolean, "
        "no_implicit_fit boolean")


@register("stream_routed_serving_after_ingest_equals_batch", sql="""
SELECT CAST(21 AS BIGINT) AS n_queries,
       TRUE AS fit_invalidated_by_ingest, TRUE AS refit_is_routed,
       TRUE AS ingested_visible, TRUE AS stream_equals_batch,
       TRUE AS no_implicit_fit
""")
def stream_routed_serving_after_ingest_equals_batch(spark, sf_dir):
    """The full streamed-DML → routed-serving lifecycle in one row
    (round 8, NOTES r7 candidate #3): a ROUTED calibration
    (calibrate(route_cells=N) — the >10⁵-partition scale path) must
    be invalidated by a streamed ingest (stale cutoffs describe a
    corpus that no longer exists), eagerly refit UNDER THE SAME
    restriction, and then serve micro-batches answer-for-answer equal
    to batch search — with the streamed-in vectors VISIBLE (a query
    placed exactly at an ingested vector returns it at rank 1,
    dist 0). Pins, via genuinely computed booleans: the
    DML-invalidation contract, restriction-preserving refit, streamed
    visibility through the serving path, stream≡batch row sets at
    rounded-dist/rank granularity, and no implicit brute-force fit
    inside any micro-batch (method poisoned)."""
    import uuid

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.workload import make_dataset
    from quake_vector_search_spark.streaming.ingest import ingest_stream
    from quake_vector_search_spark.streaming.serving import search_stream

    n, d, k = 6000, 16, 10
    corpus = make_dataset(spark, n, d=d, n_clusters=30, seed=17)
    wd = os.path.join(f"/tmp/qvss_ivf_{os.getpid()}", "serving_routed")
    shutil.rmtree(wd, ignore_errors=True)
    idx = IVFIndex.build(corpus, wd, coarse_k=8, base_k=8)
    idx.calibrate(n_queries=32, route_cells=4)

    # --- streamed ingest: 8 new vectors near corpus vector 0 ---
    base = np.array(corpus.where(F.col("vec_id") == 0)
                    .select("embedding").head()[0], dtype=np.float64)
    new_ids = np.arange(90_000, 90_008)
    new_vecs = base[None, :] + 0.05 * (
        1.0 + np.arange(8, dtype=np.float64))[:, None]
    run = uuid.uuid4().hex[:8]
    vdir = f"/tmp/qvss_routed_ing_v_{os.getpid()}_{run}"
    ickpt = f"/tmp/qvss_routed_ing_ck_{os.getpid()}_{run}"
    (spark.createDataFrame(
        [(int(i), [float(x) for x in v])
         for i, v in zip(new_ids, new_vecs)],
        "vec_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    iq = ingest_stream(idx, vstream, ickpt)
    try:
        iq.processAllAvailable()
    finally:
        iq.stop()
    fit_invalidated = idx._calibration is None

    # eager restriction-preserving refit (the documented contract:
    # DML clears fits; recalibrate at publish time, never in-query)
    cal = idx.calibrate(n_queries=32, route_cells=4)
    refit_is_routed = cal["route_cells"] == 4

    # --- queries: 20 corpus members + 1 exactly at an ingested vec ---
    nq = 21
    qrows = corpus.where(F.col("vec_id") < 20).collect()
    qids = np.array([r["vec_id"] for r in qrows] + [90_003],
                    dtype=np.int64)
    probe = np.array(new_vecs[3], dtype=np.float32).astype(np.float64)
    qmat = np.vstack([np.array([r["embedding"] for r in qrows],
                               dtype=np.float64), probe[None, :]])
    batch, _ = idx.search((qids, qmat), k=k, target_recall=0.9,
                          policy="calibrated", route_cells=4,
                          max_probe=len(idx.part_ids))
    batch_rows = {(int(r["query_id"]), int(r["vec_id"]),
                   round(r["dist"], 6), int(r["rank"]))
                  for r in batch.collect()}
    ingested_visible = (90_003, 90_003, 0.0, 1) in batch_rows

    def _poisoned(*a, **kw):
        raise AssertionError("implicit calibrate() inside serving")
    idx.calibrate = _poisoned

    qdir = f"/tmp/qvss_routed_srv_q_{os.getpid()}_{run}"
    results = f"/tmp/qvss_routed_srv_out_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_routed_srv_ck_{os.getpid()}_{run}"
    (spark.createDataFrame(
        [(int(q), [float(x) for x in v])
         for q, v in zip(qids, qmat)],
        "query_id long, embedding array<float>")
     .repartition(2).write.mode("overwrite").parquet(qdir))
    qstream = (spark.readStream
               .schema("query_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(qdir))
    q = search_stream(idx, qstream, results, ckpt, k=k,
                      target_recall=0.9,
                      max_probe=len(idx.part_ids),
                      policy="calibrated", route_cells=4)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_rows = {(int(r["query_id"]), int(r["vec_id"]),
                    round(r["dist"], 6), int(r["rank"]))
                   for r in spark.read.parquet(results).collect()}
    for p in (vdir, ickpt, qdir, results, ckpt):
        shutil.rmtree(p, ignore_errors=True)

    return spark.createDataFrame(
        [(nq,
          bool(fit_invalidated),
          bool(refit_is_routed),
          bool(ingested_visible),
          bool(stream_rows == batch_rows),
          True)],   # reaching here = the poisoned fit never fired
        "n_queries long, fit_invalidated_by_ingest boolean, "
        "refit_is_routed boolean, ingested_visible boolean, "
        "stream_equals_batch boolean, no_implicit_fit boolean")


@register("stream_ingest_distributed_equals_batch", sql="""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec
  FROM embeddings WHERE vec_id < 5
), d AS (
  SELECT q.query_id, e.vec_id,
         list_distance(CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qvec AS DOUBLE[])) AS dist
  FROM embeddings e CROSS JOIN q
), r AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, vec_id ASC) AS rank
  FROM d
)
SELECT query_id, vec_id, ROUND(dist, 6) AS dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
""")
def stream_ingest_distributed_equals_batch(spark, sf_dir):
    """The BACKFILL ingest path under the oracle (round 10, VERDICT
    r9 #4): same contract as ``stream_ingest_equals_batch`` but every
    micro-batch routes through ``IVFIndex.insert_distributed`` (one
    mapInPandas pass over broadcast centroid state — no driver
    collect of the data) and the PQ sidecar appends through the
    DISTRIBUTED appender (``_append_pq_codes_distributed``, sharing
    the driver path's encode kernel), forced via
    ``distributed_threshold=1``. The index carries a rotated-residual
    sidecar, so the row then full-probes COMPRESSED search for 5
    queries drawn FROM the streamed-in set: ADC candidates from the
    distributed-appended codes + exact rerank must equal brute force
    over the FULL table — which is exactly what DuckDB computes. A
    lost, duplicated, or mis-routed vector, a wrong pid from the
    sentinel remap, or a bad distributed encode (wrong snapshot /
    rotation transport) flips the hash."""
    import uuid

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
    )
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    workdir = f"/tmp/qvss_ingestd_idx_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_ingestd_ckpt_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb.where(F.col("vec_id") >= 50), workdir,
                         coarse_k=16, base_k=4)
    books = build_pq_sidecar(idx, m=8, ksub=64, seed=99,
                             residual=True, rotate=True)
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    key = hashlib.md5(
        f"{sf_dir}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:8]
    vdir = f"/tmp/qvss_ingest_v_{key}"
    if not os.path.exists(os.path.join(vdir, "_READY")):
        shutil.rmtree(vdir, ignore_errors=True)
        (emb.where(F.col("vec_id") < 50)
            .select("vec_id", "embedding")
            .repartition(2).write.mode("overwrite").parquet(vdir))
        with open(os.path.join(vdir, "_READY"), "w") as fh:
            fh.write("ok")
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, distributed_threshold=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    queries = (emb.where(F.col("vec_id") < 5)
               .withColumnRenamed("vec_id", "query_id"))
    n = emb.count()
    out, _meta = knn_ivf_pq(idx, queries, k=10, target_recall=1.0,
                            max_probe=1_000_000_000,
                            oversample=max(16, -(-n // 20)),
                            books=books)
    res = (out.select("query_id", "vec_id",
                      F.round("dist", 6).alias("dist"), "rank")
           .localCheckpoint())
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return res


@register("stream_ood_rebuild_maintenance", sql="""
SELECT 'ood_rate_exceeded_knob' AS invariant, CAST(1 AS BIGINT) AS value
UNION ALL SELECT 'maintain_retrained_books', 1
UNION ALL SELECT 'own_candidate_rate_restored', 1
UNION ALL SELECT 'drift_window_reset', 1
UNION ALL SELECT 'knob_survives_rebuild', 1
UNION ALL SELECT 'clean_counter_no_retrain', 1
""")
def stream_ood_rebuild_maintenance(spark, sf_dir):
    """OOD-rate-triggered sidecar rebuild (round 11, VERDICT r10 #3):
    the full maintenance loop for a drifting stream, under the oracle.
    The anisotropic streamed-encode guard (``aniso_encode_streamed``)
    counts its fallbacks into a persisted per-sidecar drift counter
    (``ood_stats.json``); ``maintain()`` reads the rate against the
    ``ood_rebuild_rate`` knob persisted in pq_meta.json and, when
    exceeded, RETRAINS the books on the drifted corpus instead of
    carrying them forward — the automation for what a serving team
    otherwise does by hand when streamed recall sags (the r10 bench's
    ``streamed_ood`` endpoints: 88% own-candidate rate before rebuild,
    100% after). Invariants: the drifted stream trips the knob; the
    next maintain() retrains (summary ``pq_retrained``); every
    streamed vector then surfaces as its own pure-ADC top-1 candidate
    (rate restored to 1.0); the drift window resets; the knob rides
    the rebuilt meta; and a second maintain() on a clean counter does
    NOT retrain. Reference parity: the reference has no streaming
    sidecar at all — this closes the gap its single-process rebuild
    loop (QUAKE_working_demo.ipynb c2:71-81) never faces."""
    import json
    import uuid

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_ood_stats,
    )
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    workdir = f"/tmp/qvss_oodr_idx_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_oodr_ckpt_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb, workdir, coarse_k=8, base_k=4,
                         metric="cosine")
    build_pq_sidecar(idx, m=8, ksub=32, seed=7, anisotropic=3.0,
                     residual=True, rotate=True,
                     ood_min_explained=0.5, ood_rebuild_rate=0.3)

    rng = np.random.default_rng(59)
    d = len(idx.centroids[0])
    rows = [(int(12_000_000 + i),
             rng.normal(size=d).astype(float).tolist())
            for i in range(8)]
    vdir = f"/tmp/qvss_oodr_v_{os.getpid()}_{run}"
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
    rate_exceeded = (stats["n"] == len(rows)
                     and stats["ood"] / max(stats["n"], 1) > 0.3)

    summary = maintain(idx, ood_rebuild_min_n=5)

    hits = 0
    for vid, vec in rows:
        found, _ = knn_ivf_pq(idx, ([1], np.array([vec])), k=1,
                              target_recall=1.0, max_probe=10**9,
                              oversample=1)
        hits += int(found.collect()[0]["vec_id"] == vid)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        knob_after = json.load(fh).get("ood_rebuild_rate")
    reset_after = load_ood_stats(idx.version_dir)
    summary2 = maintain(idx)

    checks = [
        ("ood_rate_exceeded_knob", int(rate_exceeded)),
        ("maintain_retrained_books", int(bool(summary["pq_retrained"]))),
        ("own_candidate_rate_restored", int(hits == len(rows))),
        ("drift_window_reset",
         int(reset_after == {"n": 0, "ood": 0})),
        ("knob_survives_rebuild", int(knob_after == 0.3)),
        ("clean_counter_no_retrain",
         int(not summary2["pq_retrained"]
             and summary2["ood_rate"] is None)),
    ]
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(vdir, ignore_errors=True)
    return spark.createDataFrame(checks, ["invariant", "value"])


@register("stream_auto_maintenance_cadence", sql="""
SELECT 'two_cycles_ran' AS invariant, CAST(1 AS BIGINT) AS value
UNION ALL SELECT 'first_cycle_carried_window', 1
UNION ALL SELECT 'auto_retrained_no_manual_maintain', 1
UNION ALL SELECT 'own_candidate_rate_restored', 1
UNION ALL SELECT 'drift_window_reset', 1
UNION ALL SELECT 'knob_survives_rebuild', 1
""")
def stream_auto_maintenance_cadence(spark, sf_dir):
    """Streaming auto-maintenance cadence (round 13, VERDICT r12
    missing #2): ``ingest_stream(maintain_every_n_batches=…)`` runs
    ``maintain()`` inside the foreachBatch loop — the Spark twin of
    the reference driver's every-50-queries maintain
    (QUAKE_working_demo.ipynb c2:80-81) — so a drifting stream heals
    itself with NO operator in the loop. The row also pins the
    cadence × drift-carry composition (ADVICE r11 #1, fixed this
    round): the first scheduled cycle sees drift below the min-n
    floor and must CARRY the window through its carry-books refresh;
    the second sees the accumulated rate over the knob and retrains.
    Invariants: two maintenance cycles ran (version advanced twice
    past the build); the first cycle preserved the drift counter (its
    post-refresh version dir still holds the pre-maintenance counts);
    the stream alone retrained the books; every streamed vector then
    surfaces as its own pure-ADC top-1 candidate; the window reset
    with the retrain; the knob rides the rebuilt meta."""
    import json
    import uuid

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        knn_ivf_pq,
        load_ood_stats,
    )
    from quake_vector_search_spark.streaming.ingest import ingest_stream

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    workdir = f"/tmp/qvss_cad_idx_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_cad_ckpt_{os.getpid()}_{run}"
    vdir = f"/tmp/qvss_cad_v_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb, workdir, coarse_k=8, base_k=4,
                         metric="cosine")
    build_pq_sidecar(idx, m=8, ksub=32, seed=7, anisotropic=3.0,
                     residual=True, rotate=True,
                     ood_min_explained=0.5, ood_rebuild_rate=0.3)
    v0 = idx.version

    rng = np.random.default_rng(59)
    d = len(idx.centroids[0])
    rows = [(int(12_500_000 + i),
             rng.normal(size=d).astype(float).tolist())
            for i in range(8)]
    os.makedirs(vdir, exist_ok=True)
    for r in rows:      # one file per row → exactly 8 micro-batches
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

    two_cycles = idx.version >= v0 + 2
    # cycle 1 (after batch 4, n=4 < floor 5) was a carry-books
    # refresh: its version dir's final counter is the 4 CARRIED rows
    # plus the 4 streamed after the refresh = 8 — the pre-round-13
    # reset would leave it at 4 (and cycle 2 would never fire, since
    # 4 < the min-n floor)
    mid = load_ood_stats(os.path.join(workdir, f"v{v0 + 1:04d}"))
    carried = mid["n"] == 8 and mid["ood"] > 4

    hits = 0
    for vid, vec in rows:
        found, _ = knn_ivf_pq(idx, ([1], np.array([vec])), k=1,
                              target_recall=1.0, max_probe=10**9,
                              oversample=1)
        hits += int(found.collect()[0]["vec_id"] == vid)
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        knob_after = json.load(fh).get("ood_rebuild_rate")
    reset_after = load_ood_stats(idx.version_dir)

    checks = [
        ("two_cycles_ran", int(two_cycles)),
        ("first_cycle_carried_window", int(carried)),
        ("auto_retrained_no_manual_maintain",
         int(two_cycles and reset_after == {"n": 0, "ood": 0})),
        ("own_candidate_rate_restored", int(hits == len(rows))),
        ("drift_window_reset",
         int(reset_after == {"n": 0, "ood": 0})),
        ("knob_survives_rebuild", int(knob_after == 0.3)),
    ]
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(vdir, ignore_errors=True)
    return spark.createDataFrame(checks, ["invariant", "value"])


@register("stream_maintenance_cadence_restart", sql="""
SELECT 'explicit_cadence_ran_cycle' AS invariant, CAST(1 AS BIGINT) AS value
UNION ALL SELECT 'knob_persisted_in_stats', 1
UNION ALL SELECT 'kwargs_persisted_in_stats', 1
UNION ALL SELECT 'reloaded_handle_carries_knob', 1
UNION ALL SELECT 'restarted_stream_resumed_cadence', 1
UNION ALL SELECT 'explicit_off_clears_knob', 1
UNION ALL SELECT 'cleared_stream_schedules_nothing', 1
""")
def stream_maintenance_cadence_restart(spark, sf_dir):
    """Persisted streaming-maintenance cadence (round 13, continuity
    note #5 — the knob twin of ``ood_rebuild_rate``): an explicit
    ``ingest_stream(maintain_every_n_batches=N)`` records N in the
    index's stats.json (riding every ``save_meta`` republish), so a
    RESTARTED stream — ``IVFIndex.load`` on the workdir, then
    ``ingest_stream`` with the arg left ``None`` — resumes the cadence
    the index was configured with — ``maintain_kwargs`` riding along
    under the same rule — no operator re-passing config on every
    deploy. ``set_maintenance_cadence(idx, None)`` is the explicit
    off, clearing the kwargs too. Reference parity: the driver's every-50-queries
    ``maintain()`` loop (QUAKE_working_demo.ipynb c2:80-81) is driver
    -process state; at cluster scale the cadence must live WITH the
    index so any worker that re-attaches the stream keeps it.
    Invariants: the explicit-cadence stream ran one cycle per N
    batches; the knob landed in stats.json; a fresh ``load`` carries
    it; a None-arg re-attach resumed the cycle; clearing works and a
    cleared index schedules nothing."""
    import json
    import uuid

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.streaming.ingest import (
        ingest_stream,
        set_maintenance_cadence,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    workdir = f"/tmp/qvss_cadr_idx_{os.getpid()}_{run}"
    base = f"/tmp/qvss_cadr_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb, workdir, coarse_k=4, base_k=2)
    d = len(idx.centroids[0])

    rng = np.random.default_rng(41)

    def feed(tag: str, ids: list[int]):
        vdir = os.path.join(base, f"vecs_{tag}")
        os.makedirs(vdir, exist_ok=True)
        for i in ids:   # one file per row -> one micro-batch per row
            row = (int(i), rng.normal(size=d).astype(float).tolist())
            (spark.createDataFrame([row], "vec_id long, "
                                         "embedding array<float>")
             .coalesce(1).write.mode("append").parquet(vdir))
        return (spark.readStream
                .schema("vec_id long, embedding array<float>")
                .option("maxFilesPerTrigger", 1).parquet(vdir))

    def drain(q):
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # explicit cadence=2 (+ kwargs) over 2 single-row batches ->
    # exactly 1 cycle
    v0 = idx.version
    drain(ingest_stream(idx, feed("a", [13_500_000, 13_500_001]),
                        os.path.join(base, "ckpt_a"), encode_pq=False,
                        maintain_every_n_batches=2,
                        maintain_kwargs={"merge_size": 0}))
    ran_cycle = idx.version == v0 + 1
    with open(os.path.join(idx.version_dir, "stats.json")) as fh:
        st = json.load(fh)
    persisted = st.get("maintain_every_n_batches") == 2
    kwargs_persisted = st.get("maintain_kwargs") == {"merge_size": 0}

    # restart: fresh handle from disk carries the knobs, and a re-
    # attached stream with the args left None resumes the cadence
    idx2 = IVFIndex.load(spark, workdir)
    carried = (idx2.maintain_every_n_batches == 2
               and idx2.maintain_kwargs == {"merge_size": 0})
    v1 = idx2.version
    drain(ingest_stream(idx2, feed("b", [13_500_002, 13_500_003]),
                        os.path.join(base, "ckpt_b"),
                        encode_pq=False))
    resumed = idx2.version == v1 + 1

    # explicit off: clears the persisted knobs; a third None-arg
    # stream schedules nothing
    set_maintenance_cadence(idx2, None)
    _rl = IVFIndex.load(spark, workdir)
    cleared = (_rl.maintain_every_n_batches is None
               and _rl.maintain_kwargs is None)
    v2 = idx2.version
    drain(ingest_stream(idx2, feed("c", [13_500_004, 13_500_005]),
                        os.path.join(base, "ckpt_c"),
                        encode_pq=False))
    off = idx2.version == v2

    checks = [
        ("explicit_cadence_ran_cycle", int(ran_cycle)),
        ("knob_persisted_in_stats", int(persisted)),
        ("kwargs_persisted_in_stats", int(kwargs_persisted)),
        ("reloaded_handle_carries_knob", int(carried)),
        ("restarted_stream_resumed_cadence", int(resumed)),
        ("explicit_off_clears_knob", int(cleared)),
        ("cleared_stream_schedules_nothing", int(off)),
    ]
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(checks, ["invariant", "value"])


@register("stream_async_maintenance", sql="""
SELECT 'version_published_and_adopted' AS invariant,
       CAST(1 AS BIGINT) AS value
UNION ALL SELECT 'journal_reconciled_clean', 1
UNION ALL SELECT 'rows_exactly_once', 1
UNION ALL SELECT 'codes_exactly_once', 1
UNION ALL SELECT 'sizes_match_physical_counts', 1
UNION ALL SELECT 'centroids_are_partition_means', 1
""")
def stream_async_maintenance(spark, sf_dir):
    """Decoupled streaming self-maintenance (round 14, VERDICT r13
    #3): ``ingest_stream(maintain_every_n_batches=…,
    maintain_async=True)`` runs the scheduled ``maintain()`` on a
    background clone of the current version while micro-batches keep
    ingesting — window batches are journaled (ids+pids only) and the
    first batch boundary after the publish adopts the new version and
    reconciles the journal, so every window row lands in the pre- or
    post-maintenance version EXACTLY once, PQ codes included. The
    deterministic no-stall overlap proof (gated maintain, stream
    drains while it blocks) is pinned in
    tests/test_streaming.py::test_async_maintenance_does_not_stall_
    ingest; this row pins the end-state invariants under real timing:
    the published version was adopted and the journal cleaned; corpus
    rows and sidecar codes are exactly-once across the swap;
    size/centroid bookkeeping matches the physical partitions.
    Reference parity: the every-50-queries ``maintain()`` loop
    (QUAKE_working_demo.ipynb c2:80-81) is synchronous by
    construction — the decoupling is the Spark-scale re-expression
    (a retrain must not stall a production ingest stream for its
    full rebuild)."""
    import uuid

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
    )
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
        ingest_stream,
    )
    from quake_vector_search_spark.windowing import _journal_dir

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    workdir = f"/tmp/qvss_asym_idx_{os.getpid()}_{run}"
    ckpt = f"/tmp/qvss_asym_ckpt_{os.getpid()}_{run}"
    vdir = f"/tmp/qvss_asym_v_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb, workdir, coarse_k=4, base_k=4)
    build_pq_sidecar(idx, m=8, ksub=32, seed=7)
    v0 = idx.version

    rng = np.random.default_rng(61)
    d = len(idx.centroids[0])
    streamed = [(int(12_600_000 + i),
                 rng.normal(size=d).astype(float).tolist())
                for i in range(12)]
    os.makedirs(vdir, exist_ok=True)
    for a in range(0, 12, 2):   # 6 two-row micro-batches
        (spark.createDataFrame(streamed[a:a + 2],
                               "vec_id long, embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # converge any cycle still in flight/pending swap
    while getattr(idx, "_async_maint", None):
        finish_async_maintenance(idx)

    adopted = idx.version >= v0 + 1
    journal_clean = not os.path.isdir(_journal_dir(idx))
    sids = {vid for vid, _ in streamed}
    got = (idx.read_corpus().where("vec_id >= 12600000")
           .groupBy("vec_id").count().collect())
    rows_once = ({int(r["vec_id"]) for r in got} == sids
                 and all(r["count"] == 1 for r in got))
    codes = (spark.read.parquet(f"{idx.version_dir}/pq")
             .where("vec_id >= 12600000").groupBy("vec_id").count()
             .collect())
    codes_once = ({int(r["vec_id"]) for r in codes} == sids
                  and all(r["count"] == 1 for r in codes))
    phys = {int(r["partition_id"]): r["count"] for r in
            idx.read_corpus().groupBy("partition_id").count()
            .collect()}
    sizes_ok = all(int(idx.sizes[pos]) == phys.get(int(pid), 0)
                   for pos, pid in enumerate(idx.part_ids))
    cent_rows = idx.read_corpus().collect()
    by_pid: dict = {}
    for r in cent_rows:
        by_pid.setdefault(int(r["partition_id"]), []).append(
            np.asarray(r["embedding"], dtype=np.float64))
    pos_of = {int(p): i for i, p in enumerate(idx.part_ids)}
    cents_ok = all(
        np.allclose(idx.centroids[pos_of[pid]],
                    np.mean(vs, axis=0), atol=1e-3)
        for pid, vs in by_pid.items())

    checks = [
        ("version_published_and_adopted", int(adopted)),
        ("journal_reconciled_clean", int(journal_clean)),
        ("rows_exactly_once", int(rows_once)),
        ("codes_exactly_once", int(codes_once)),
        ("sizes_match_physical_counts", int(sizes_ok)),
        ("centroids_are_partition_means", int(cents_ok)),
    ]
    shutil.rmtree(workdir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(vdir, ignore_errors=True)
    return spark.createDataFrame(checks, ["invariant", "value"])


@register("stream_reinsert_window_close", sql="""
SELECT 'window_open_before_reinsert' AS invariant,
       CAST(1 AS BIGINT) AS value
UNION ALL SELECT 'window_closed_by_reinsert', 1
UNION ALL SELECT 'marker_cleared', 1
UNION ALL SELECT 'journals_cleared', 1
UNION ALL SELECT 'tombstone_cleared', 1
UNION ALL SELECT 'reinserted_exactly_once_with_new_vector', 1
UNION ALL SELECT 'sizes_match_physical_counts', 1
""")
def stream_reinsert_window_close(spark, sf_dir):
    """Tombstoned-id re-insert during an open async-maintenance
    window (round 16): the staged purge a re-insert runs must not
    race the background maintain's publish into the same version
    directory (ADVICE r14 high), so the write path closes the window
    FIRST — joining the maintain thread BEFORE taking the handle's
    window-transition lock (ADVICE r15: the join is potentially
    minutes long; under the lock it serialized every other
    insert/delete on the handle) — then purges the old rows and
    lands the new ones against the post-swap version. This row pins
    the full lifecycle end-state: the window the insert found open
    is closed and its marker/journals cleared, the tombstone is
    gone, exactly ONE physical row holds the id (carrying the NEW
    vector — a resurrection bug would surface as two rows or the
    old vector winning), and size bookkeeping matches the physical
    partitions. Reference parity: delete-then-reinsert of an id is
    an ordinary sequence for the reference's mutable index
    (ipynb c1:92-125); the window interaction is Spark-scale-only
    surface (the reference has no background maintenance)."""
    import uuid

    import numpy as np

    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.streaming.ingest import (
        _start_async_maintenance,
    )
    from quake_vector_search_spark.windowing import (
        _delete_journal_dir,
        _journal_dir,
        _window_marker_path,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    run = uuid.uuid4().hex[:8]
    workdir = f"/tmp/qvss_reins_idx_{os.getpid()}_{run}"
    idx = IVFIndex.build(emb, workdir, coarse_k=4, base_k=4)
    victim = 17
    idx.delete([victim])
    _start_async_maintenance(idx, None, None, encode_pq=False)
    opened = bool(getattr(idx, "_async_maint", None))
    d = len(idx.centroids[0])
    new_vec = np.full((1, d), 0.25, dtype=np.float64)
    idx.insert(np.array([victim], dtype=np.int64), new_vec)
    closed = getattr(idx, "_async_maint", None) is None
    marker_clear = not os.path.exists(
        _window_marker_path(idx.workdir))
    journals_clear = (not os.path.isdir(_journal_dir(idx))
                      and not os.path.isdir(_delete_journal_dir(idx)))
    tomb_clear = victim not in idx.tombstones
    got = (idx.read_corpus()
           .where(F.col("vec_id") == victim).collect())
    once_new = (len(got) == 1 and np.allclose(
        np.asarray(got[0]["embedding"], dtype=np.float64),
        0.25, atol=1e-6))
    phys = {int(r["partition_id"]): r["count"] for r in
            idx.read_corpus().groupBy("partition_id").count()
            .collect()}
    sizes_ok = all(int(idx.sizes[pos]) == phys.get(int(pid), 0)
                   for pos, pid in enumerate(idx.part_ids))

    checks = [
        ("window_open_before_reinsert", int(opened)),
        ("window_closed_by_reinsert", int(closed)),
        ("marker_cleared", int(marker_clear)),
        ("journals_cleared", int(journals_clear)),
        ("tombstone_cleared", int(tomb_clear)),
        ("reinserted_exactly_once_with_new_vector", int(once_new)),
        ("sizes_match_physical_counts", int(sizes_ok)),
    ]
    shutil.rmtree(workdir, ignore_errors=True)
    return spark.createDataFrame(checks, ["invariant", "value"])
