"""knn_ivf_pq results: golden digests per sidecar flavor and call shape.

Each case builds a tiny index and one sidecar flavor at a fixed seed,
runs one ``knn_ivf_pq`` batch and reduces the result rows (query id,
vector id, score bits, rank) plus the probe counts to one digest. The
digests in ``tests/data/knn_ivf_pq_digests.json`` pin the candidate
stage bit for bit: a change to the codes scan, the ADC kernel or the
candidate merge that moves one row or one distance fails here.

A second test runs the ADC on several tasks and checks that the rows
equal the one-task run, and that the ADC stage runs exactly
⌈probed rows / ``ROWS_PER_TASK``⌉ tasks.

Regenerate (only when a result change is intended):
    python tests/test_knn_ivf_pq_digests.py --write
"""

import contextlib
import hashlib
import json
import os
import time
from collections import Counter

import numpy as np
import pytest

DIGESTS = os.path.join(os.path.dirname(__file__), "data",
                       "knn_ivf_pq_digests.json")

# case -> (index metric, build_pq_sidecar kwargs, call shape)
CASES = {
    "global": ("l2", {}, {}),
    "residual": ("l2", {"residual": True}, {}),
    "local": ("l2", {"local": True, "residual": True}, {}),
    "local_rotate": ("l2", {"local": True, "residual": True,
                            "rotate": True}, {}),
    "sq8": ("l2", {"sq8": True}, {}),
    "rotate_opq_residual": ("l2", {"rotate": True, "residual": True,
                                   "opq_iters": 2}, {}),
    "cosine": ("cosine", {"residual": True}, {}),
    "allowed": ("l2", {"residual": True}, {"allowed": True}),
    "tombstones": ("l2", {"residual": True}, {"delete": True}),
    "calibrated": ("l2", {"residual": True}, {"policy": "calibrated"}),
}

# Sidecar training folds per Spark partition, so its bits depend on how
# rows split into tasks. These settings make that split independent of
# the session's core count.
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


def _index_and_queries(spark, workdir: str, case: str):
    """A fresh tiny index with the case's sidecar (and tombstones or
    calibration), plus 16 queries near stored points."""
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar)
    from quake_vector_search_spark.operators.workload import make_dataset

    metric, kwargs, call = CASES[case]
    corpus = make_dataset(spark, 600, d=16, n_clusters=6, seed=71,
                          partitions=4)
    idx = IVFIndex.build(corpus, os.path.join(workdir, case), coarse_k=3,
                         base_k=2, metric=metric)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, **kwargs)
    rows = corpus.orderBy("vec_id").collect()
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(5)
    pick = rng.choice(len(rows), 16, replace=False)
    qmat = vecs[pick] + rng.normal(0.0, 0.3, size=(16, vecs.shape[1]))
    if call.get("delete"):
        # the true nearest point of every other query is tombstoned
        idx.delete([int(rows[i]["vec_id"]) for i in pick[::2]])
    if call.get("policy") == "calibrated":
        idx.calibrate(n_queries=32, k=5, seed=3)
    return idx, (np.arange(16, dtype=np.int64), qmat)


def _search(spark, idx, queries, case: str):
    from quake_vector_search_spark.operators.quantization import knn_ivf_pq

    call = CASES[case][2]
    allowed = None
    if call.get("allowed"):
        allowed = (idx.read_corpus().select("vec_id")
                   .where("vec_id % 3 != 0"))
    return knn_ivf_pq(idx, queries, k=5, target_recall=0.9,
                      oversample=4, policy=call.get("policy",
                                                    "reference"),
                      allowed=allowed)


def result_digest(df, meta) -> str:
    score = "sim" if "sim" in df.columns else "dist"
    rows = df.orderBy("query_id", "rank").collect()
    h = hashlib.md5(score.encode())
    for col, dt in (("query_id", np.int64), ("vec_id", np.int64),
                    (score, np.float64), ("rank", np.int64)):
        h.update(np.array([r[col] for r in rows], dtype=dt).tobytes())
    h.update(np.array(meta["nprobe"], dtype=np.int64).tobytes())
    return h.hexdigest()


def _case_digest(spark, workdir: str, case: str) -> str:
    with pinned_conf(spark):
        idx, queries = _index_and_queries(spark, workdir, case)
        return result_digest(*_search(spark, idx, queries, case))


@pytest.mark.parametrize("case", sorted(CASES))
def test_knn_ivf_pq_golden_digest(spark, tmp_path, case):
    with open(DIGESTS) as fh:
        want = json.load(fh)[case]
    assert _case_digest(spark, str(tmp_path), case) == want


def test_candidate_selection_matches_reference():
    """The scan's per-block candidate superset plus the task-local
    merge keep exactly each query's top-kk under (dist asc, id asc):
    against a sorted reference and against ``topk_cols_2d``. Negated
    scores through the same two steps give the descending order
    (score desc, id asc) of ``topk_cols_2d(..., descending=True)``."""
    from quake_vector_search_spark.functions.vector import topk_cols_2d
    from quake_vector_search_spark.operators.knn import (
        _merge_topk, _topk_superset)

    rng = np.random.default_rng(11)
    q = rng.integers(0, 7, 400).astype(np.int64)
    ids = rng.permutation(10_000)[:400].astype(np.int64)
    dist = rng.integers(0, 20, 400).astype(np.float64)  # many ties
    want = []
    for qq in sorted(set(q.tolist())):
        rows = sorted((d, i) for qi, i, d in zip(q, ids, dist)
                      if qi == qq)[:9]
        want += [(qq, i, d) for d, i in rows]
    got = _merge_topk(q, ids, dist, 9)
    assert list(zip(*(a.tolist() for a in got))) == want

    vals = rng.integers(0, 6, (5, 40)).astype(np.float64)  # many ties
    ids = ids[:40]
    qids = np.arange(5, dtype=np.int64) * 10
    for descending in (False, True):
        sign = -1.0 if descending else 1.0
        for kk in (1, 7, 40, 60):
            r, c = _topk_superset(sign * vals, kk)
            gq, gi, gs = _merge_topk(qids[r], ids[c], sign * vals[r, c],
                                     kk)
            part = topk_cols_2d(vals, ids, min(kk, 40),
                                descending=descending)
            want = (np.repeat(qids, part.shape[1]), ids[part].ravel(),
                    np.take_along_axis(vals, part, axis=1).ravel())
            for g, w in zip((gq, gi, sign * gs), want):
                np.testing.assert_array_equal(g, w)


def _stage_tasks(spark, group: str, action):
    """Run ``action`` under a Spark job group; return its result and the
    sorted task counts of every stage its jobs ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # listener events arrive in order: once a later marker job has
    # finished, every stage of ``action`` is in the status tracker
    sc.setJobGroup(group + "-marker", "marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    for _ in range(200):
        marker = st.getJobIdsForGroup(group + "-marker")
        if marker and all(st.getJobInfo(j).status == "SUCCEEDED"
                          for j in marker):
            break
        time.sleep(0.05)
    stages = {s for j in st.getJobIdsForGroup(group)
              for s in st.getJobInfo(j).stageIds}
    return out, sorted(st.getStageInfo(s).numTasks for s in stages)


@pytest.mark.parametrize("case", ["residual", "local", "sq8"])
def test_adc_multi_task_merge_equals_one_task(spark, tmp_path,
                                              monkeypatch, case):
    """The ADC stage is sized like search's scan: ⌈probed rows /
    ROWS_PER_TASK⌉ tasks, each merging its partitions' candidates into
    every query's top-(k·oversample). The rows do not depend on how
    many tasks ran."""
    from quake_vector_search_spark.operators import ivf

    with pinned_conf(spark):
        idx, queries = _index_and_queries(spark, str(tmp_path), case)

        def run(rows_per_task, group):
            monkeypatch.setattr(ivf, "ROWS_PER_TASK", rows_per_task)
            df, _ = _search(spark, idx, queries, case)
            return _stage_tasks(spark, group,
                                lambda: sorted(df.collect()))

        one, _ = run(10 ** 9, f"adc-one-{case}")
        # a probed-row count from the same probe rule as the call
        order, probs = idx.partition_scores(queries[1])
        nprobe = idx._decide_nprobe(probs, 0.9, 64, "reference")
        union = {int(p) for qi in range(len(nprobe))
                 for p in idx.part_ids[order[qi, :nprobe[qi]]]}
        est = int(sum(int(s) for p, s in zip(idx.part_ids, idx.sizes)
                      if int(p) in union))
        rows_per_task = -(-est // 3)
        want = -(-est // rows_per_task)
        assert want == 3 < len(union)
        two, tasks_2 = run(-(-est // 2), f"adc-two-{case}")
        many, tasks_n = run(rows_per_task, f"adc-many-{case}")
    assert many == two == one
    # a one-task ADC also drops the window's shuffle, so the stage
    # counts are compared between the two- and the many-task runs,
    # which differ only in the ADC stage
    twos, manys = Counter(tasks_2), Counter(tasks_n)
    assert (twos - manys, manys - twos) == ({2: 1}, {want: 1})


if __name__ == "__main__":
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from quake_vector_search_spark.session import get_spark

    if "--write" not in sys.argv:
        sys.exit("usage: python tests/test_knn_ivf_pq_digests.py --write")
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS",
                                                   "8")))
    with tempfile.TemporaryDirectory() as td:
        got = {c: _case_digest(s, td, c) for c in sorted(CASES)}
    os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
    with open(DIGESTS, "w") as fh:
        json.dump(got, fh, indent=1, sort_keys=True)
        fh.write("\n")
