"""DML replay: one golden digest over search, delete, insert and maintain.

A tiny fixed-seed index runs six rounds of the online lifecycle:
a search batch, deletes, inserts (round 3 re-inserts a tombstoned id,
which stages a purge) and ``maintain()`` with sizes small enough to
split and merge. Every round's result rows (query id, vector id,
distance bits, rank) and nprobe, and after every round the partition
ids, sizes, centroid bytes, tombstones and the split/merge summary,
reduce to one digest in ``tests/data/dml_replay_digest.json``. A change
to how DML writes or maintenance rewrites the corpus that moves one
row, one distance or one centroid bit fails here.

Regenerate (only when a result change is intended):
    python tests/test_dml_replay_digest.py --write
"""

import contextlib
import hashlib
import json
import os

import numpy as np

DIGEST = os.path.join(os.path.dirname(__file__), "data",
                      "dml_replay_digest.json")
ROUNDS = 6
REINSERT_ROUND = 3

# The index build and maintain()'s rewrite fold per Spark partition, so
# their bits depend on how rows split into tasks. These settings make
# that split independent of the session's core count.
PINNED_CONF = {"spark.sql.files.minPartitionNum": "4",
               "spark.sql.shuffle.partitions": "4",
               "spark.sql.adaptive.enabled": "false"}


@contextlib.contextmanager
def pinned_conf(spark):
    saved = {k: spark.conf.get(k, None) for k in PINNED_CONF}
    for k, v in PINNED_CONF.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _replay(spark, workdir: str) -> tuple[str, list]:
    """Run the replay; return its digest and the per-round
    (splits, merges) summaries."""
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.workload import make_dataset

    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=71,
                          partitions=4)
    idx = IVFIndex.build(corpus, os.path.join(workdir, "replay"),
                         coarse_k=3, base_k=3)
    vecs = np.array([r["embedding"] for r in
                     corpus.orderBy("vec_id").collect()], dtype=np.float64)
    rng = np.random.default_rng(13)
    live = list(range(len(vecs)))
    dead: list[int] = []
    next_id = 10_000
    h = hashlib.md5()
    summaries = []
    for rnd in range(ROUNDS):
        pick = rng.choice(len(vecs), 16, replace=False)
        qmat = vecs[pick] + rng.normal(0.0, 0.3, size=(16, vecs.shape[1]))
        df, meta = idx.search((np.arange(16, dtype=np.int64), qmat), k=5,
                              target_recall=0.9)
        rows = df.orderBy("query_id", "rank").collect()
        for col, dt in (("query_id", np.int64), ("vec_id", np.int64),
                        ("dist", np.float64), ("rank", np.int64)):
            h.update(np.array([r[col] for r in rows], dtype=dt).tobytes())
        h.update(np.array(meta["nprobe"], dtype=np.int64).tobytes())

        gone = sorted(int(i) for i in rng.choice(live, 8, replace=False))
        idx.delete(gone)
        live = sorted(set(live) - set(gone))
        dead += gone
        new_ids = list(range(next_id, next_id + 10))
        next_id += 10
        if rnd == REINSERT_ROUND:
            new_ids[0] = dead.pop(0)      # a tombstoned id comes back
        centers = vecs[rng.choice(len(vecs), len(new_ids))]
        new_vecs = centers + rng.normal(0.0, 0.5, size=centers.shape)
        idx.insert(np.array(new_ids, dtype=np.int64), new_vecs)
        live = sorted(set(live) | set(new_ids))

        out = maintain(idx, split_size=90, merge_size=40)
        summaries.append((out["splits"], out["merges"]))
        h.update(json.dumps([out["splits"], out["merges"],
                             out["version"]]).encode())
        h.update(idx.part_ids.tobytes())
        h.update(idx.sizes.tobytes())
        h.update(np.ascontiguousarray(idx.centroids).tobytes())
        h.update(np.array(sorted(idx.tombstones), dtype=np.int64).tobytes())
    return h.hexdigest(), summaries


def test_dml_replay_golden_digest(spark, tmp_path):
    with open(DIGEST) as fh:
        want = json.load(fh)["replay"]
    with pinned_conf(spark):
        got, summaries = _replay(spark, str(tmp_path))
    # the replay exercises both maintenance moves
    assert any(s for s, _ in summaries) and any(m for _, m in summaries)
    assert got == want


if __name__ == "__main__":
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from quake_vector_search_spark.session import get_spark

    if "--write" not in sys.argv:
        sys.exit("usage: python tests/test_dml_replay_digest.py --write")
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS",
                                                   "8")))
    with tempfile.TemporaryDirectory() as td, pinned_conf(s):
        got = {"replay": _replay(s, td)[0]}
    os.makedirs(os.path.dirname(DIGEST), exist_ok=True)
    with open(DIGEST, "w") as fh:
        json.dump(got, fh, indent=1, sort_keys=True)
        fh.write("\n")
