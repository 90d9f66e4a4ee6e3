"""Child process for the REAL process-restart crash e2e test
(round 15, VERDICT r14 #5). Builds an index, attaches a stream with
async maintenance, opens a window (gated maintain), journals a
window batch and two deletes, lets the background maintain PUBLISH,
and then SIGKILLs itself BEFORE the next batch boundary — the exact
crash the attach-time replay contract covers (process died between
the publish and the swap). The parent test re-attaches from a fresh
process and asserts convergence.

Run: python crash_child_helper.py <workdir> <vdir> <ckpt>
Prints "READY <victim_id>" and kills itself; any other exit is a
test failure.
"""
import os
import signal
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import quake_vector_search_spark.operators.maintenance as maint_mod  # noqa: E402,E501
from quake_vector_search_spark.operators.ivf import IVFIndex  # noqa: E402,E501
from quake_vector_search_spark.operators.workload import make_dataset  # noqa: E402,E501
from quake_vector_search_spark.streaming.ingest import (  # noqa: E402
    ingest_stream,
)
from quake_vector_search_spark.windowing import (  # noqa: E402
    _delete_journal_dir,
    _journal_dir,
    _window_marker_path,
)


def main() -> None:
    workdir, vdir, ckpt = sys.argv[1:4]
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false")
             .appName("qvss-crash-child").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=81)
    idx = IVFIndex.build(corpus, workdir, coarse_k=2, base_k=2)
    victim = int(idx.read_corpus().select("vec_id")
                 .orderBy("vec_id").first()[0])

    # gate the background maintain so the window deterministically
    # stays open while the batch + deletes are journaled
    release = threading.Event()
    real_maintain = maint_mod.maintain

    def gated(index_, **kw):
        assert release.wait(timeout=120)
        return real_maintain(index_, **kw)

    maint_mod.maintain = gated

    rng = np.random.default_rng(83)

    def write_batch(ids):
        rows = [(int(i), rng.normal(size=8).astype(float).tolist())
                for i in ids]
        (spark.createDataFrame(rows, "vec_id long, "
                                     "embedding array<float>")
         .coalesce(1).write.mode("append").parquet(vdir))

    for k in range(3):
        write_batch(range(96_000 + 2 * k, 96_000 + 2 * k + 2))
    vstream = (spark.readStream
               .schema("vec_id long, embedding array<float>")
               .option("maxFilesPerTrigger", 1).parquet(vdir))
    q = ingest_stream(idx, vstream, ckpt, encode_pq=False,
                      maintain_every_n_batches=2,
                      maintain_async=True)
    q.processAllAvailable()
    st = idx._async_maint
    assert st is not None and st["thread"].is_alive(), \
        "window must be open (gated maintain)"
    assert os.path.isdir(_journal_dir(idx)), "batch 3 journaled"
    # window deletes: one pre-existing row, one row batch 3 inserted
    idx.delete([victim, 96_005])
    assert os.path.isdir(_delete_journal_dir(idx))
    # let the background maintain PUBLISH, then die before the next
    # batch boundary would have swapped + replayed
    release.set()
    st["thread"].join(timeout=120)
    assert st["error"] is None, st["error"]
    assert os.path.exists(_window_marker_path(idx.workdir))
    print(f"READY {victim}", flush=True)
    os.kill(os.getpid(), signal.SIGKILL)


if __name__ == "__main__":
    main()
