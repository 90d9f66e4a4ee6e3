"""Dense kNN results: golden digests per operator and call shape.

Every dense kNN operator (``IVFIndex.search`` and the brute-force,
SQ8, PQ, OPQ, BQ and anisotropic-PQ family) runs one case against a
small corpus in which a third of the vectors are stored twice under
different ids, so equal (score, id) candidates cross Arrow batch and
task boundaries. The session pins a 50-row Arrow batch and the corpus
has three input partitions, so each candidate stage merges over
several batches and tasks. Each case reduces its result rows (query
id, vector id, score bits, rank) — plus the probe counts for search —
to one digest. The digests in ``tests/data/topk_digests.json`` pin the
candidate stage bit for bit: a change to a scan, a kernel or a merge
that moves one row or one score fails here.

Two more tests: ``search`` on several scan tasks returns the rows of
the one-task run, in ⌈probed rows / ``ROWS_PER_TASK``⌉ tasks; and a
``search`` or ``knn_ivf_pq`` call refused on its arguments or a
missing sidecar records no partition hits.

Regenerate (only when a result change is intended):
    python tests/test_topk_digests.py --write
"""

import contextlib
import hashlib
import json
import os

import numpy as np
import pytest

DIGESTS = os.path.join(os.path.dirname(__file__), "data",
                       "topk_digests.json")

# case -> (operator, call shape)
CASES = {
    "search_l2": ("search", {}),
    "search_cosine": ("search", {"metric": "cosine"}),
    "search_allowed": ("search", {"allowed": True}),
    "search_tombstones": ("search", {"delete": True}),
    "search_calibrated": ("search", {"policy": "calibrated"}),
    "search_route_cells": ("search", {"route_cells": 2}),
    "bruteforce": ("knn_bruteforce", {}),
    "bruteforce_squared": ("knn_bruteforce", {"squared": True}),
    "cosine_topk": ("cosine_topk", {}),
    "dot_topk": ("dot_topk", {}),
    "hard_negatives": ("hard_negatives", {}),
    "knn_sq8": ("knn_sq8", {}),
    "knn_pq": ("knn_pq", {}),
    "knn_opq": ("knn_opq", {}),
    "knn_bq": ("knn_bq", {}),
    "knn_pq_mips": ("knn_pq_mips", {}),
}

# Task split and batch size independent of the session's core count:
# the candidate merge and every training fold see the same batches.
PINNED_CONF = {"spark.sql.files.minPartitionNum": "4",
               "spark.sql.shuffle.partitions": "4",
               "spark.sql.adaptive.enabled": "false",
               "spark.sql.execution.arrow.maxRecordsPerBatch": "50"}

N_BASE, N_DUP, D, NQ, K = 400, 200, 16, 12, 5


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


def _data(spark):
    """(corpus DataFrame over three partitions, vectors by id, labels
    by id, query ids, query matrix). Ids 400-599 repeat the vectors of
    200 base rows; rows are shuffled so a vector and its copy usually
    sit in different batches and partitions. Half of the queries are
    stored vectors (exact ties at the top), half are noisy."""
    rng = np.random.default_rng(23)
    centers = rng.normal(0.0, 4.0, size=(6, D))
    label = rng.integers(0, 6, N_BASE)
    base = (centers[label] + rng.normal(0.0, 1.0, size=(N_BASE, D))
            ).astype(np.float32)
    src = rng.choice(N_BASE, N_DUP, replace=False)
    vecs = np.concatenate([base, base[src]])
    labels = np.concatenate([label, label[src]])
    order = rng.permutation(N_BASE + N_DUP)
    rows = [(int(i), [float(x) for x in vecs[i]], int(labels[i]))
            for i in order]
    corpus = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "vec_id long, embedding array<float>, label long")
    picked = np.concatenate([src[:NQ // 2],
                             rng.choice(N_BASE, NQ - NQ // 2)])
    qmat = vecs[picked].astype(np.float64)
    qmat[NQ // 2:] += rng.normal(0.0, 0.5, size=(NQ - NQ // 2, D))
    qids = np.arange(100, 100 + NQ, dtype=np.int64)
    return corpus, labels, picked, qids, qmat


def _run(spark, workdir: str, case: str):
    """(result DataFrame, search meta or None) of one case."""
    from quake_vector_search_spark.operators import knn, quantization

    op, call = CASES[case]
    corpus, labels, picked, qids, qmat = _data(spark)
    queries = (qids, qmat)
    if op == "search":
        from quake_vector_search_spark.operators.ivf import IVFIndex

        idx = IVFIndex.build(corpus, os.path.join(workdir, case),
                             coarse_k=3, base_k=2,
                             metric=call.get("metric", "l2"))
        if call.get("delete"):
            # tombstone both stored copies of some query targets
            dead = [int(i) for i in picked[:3]]
            dead += [int(i) for i in range(N_BASE, N_BASE + N_DUP)
                     if i % 7 == 0]
            idx.delete(dead)
        if call.get("policy") == "calibrated":
            idx.calibrate(n_queries=32, k=K, seed=3)
        allowed = None
        if call.get("allowed"):
            allowed = (idx.read_corpus().select("vec_id")
                       .where("vec_id % 3 != 0"))
        return idx.search(queries, k=K, target_recall=0.9,
                          route_cells=call.get("route_cells"),
                          allowed=allowed,
                          policy=call.get("policy", "reference"))
    if op == "hard_negatives":
        import pandas as pd

        qdf = spark.createDataFrame(pd.DataFrame({
            "query_id": qids,
            "embedding": [list(map(float, v)) for v in qmat],
            "label": labels[picked]}))
        return knn.hard_negatives(corpus, qdf, k=K), None
    fn = getattr(knn, op, None) or getattr(quantization, op)
    kwargs = dict(call)
    if op in ("knn_pq", "knn_opq", "knn_pq_mips"):
        kwargs.update(m=4, ksub=16, seed=7)
    if op in ("knn_sq8", "knn_pq", "knn_opq", "knn_bq", "knn_pq_mips"):
        kwargs["oversample"] = 3
    return fn(corpus, queries, k=K, **kwargs), None


def result_digest(df, meta) -> str:
    score = next(c for c in ("dist", "sim", "score") if c in df.columns)
    rows = df.orderBy("query_id", "rank").collect()
    h = hashlib.md5(score.encode())
    for col, dt in (("query_id", np.int64), ("vec_id", np.int64),
                    (score, np.float64), ("rank", np.int64)):
        h.update(np.array([r[col] for r in rows], dtype=dt).tobytes())
    if meta is not None:
        h.update(np.array(meta["nprobe"], dtype=np.int64).tobytes())
    return h.hexdigest()


def _case_digest(spark, workdir: str, case: str) -> str:
    with pinned_conf(spark):
        return result_digest(*_run(spark, workdir, case))


@pytest.mark.parametrize("case", sorted(CASES))
def test_topk_golden_digest(spark, tmp_path, case):
    with open(DIGESTS) as fh:
        want = json.load(fh)[case]
    assert _case_digest(spark, str(tmp_path), case) == want


def _index(spark, workdir: str):
    from quake_vector_search_spark.operators.ivf import IVFIndex

    corpus, _, _, qids, qmat = _data(spark)
    idx = IVFIndex.build(corpus, workdir, coarse_k=3, base_k=2)
    return idx, (qids, qmat)


def test_search_multi_task_merge_equals_one_task(spark, tmp_path,
                                                 monkeypatch):
    """The search scan runs ⌈probed rows / ROWS_PER_TASK⌉ tasks, each
    merging its partitions' candidates into every query's top-k; the
    rows do not depend on how many tasks ran."""
    from collections import Counter

    from quake_vector_search_spark.operators import ivf
    from test_knn_ivf_pq_digests import _stage_tasks

    with pinned_conf(spark):
        idx, queries = _index(spark, str(tmp_path / "ivf"))

        def run(rows_per_task, group):
            monkeypatch.setattr(ivf, "ROWS_PER_TASK", rows_per_task)
            df, _ = idx.search(queries, k=K, target_recall=0.9)
            return _stage_tasks(spark, group,
                                lambda: sorted(df.collect()))

        one, _ = run(10 ** 9, "search-one")
        _, probe_map, _ = idx._plan_probes(queries[1], 0.9, 64,
                                           "reference", None)
        est = int(sum(int(s) for p, s in zip(idx.part_ids, idx.sizes)
                      if int(p) in probe_map))
        rows_per_task = -(-est // 3)
        want = -(-est // rows_per_task)
        assert want == 3 < len(probe_map)
        two, tasks_2 = run(-(-est // 2), "search-two")
        many, tasks_n = run(rows_per_task, "search-many")
    assert many == two == one
    # a one-task scan also drops the window's shuffle, so the stage
    # counts are compared between the two- and the many-task runs,
    # which differ only in the scan stage
    twos, manys = Counter(tasks_2), Counter(tasks_n)
    assert (twos - manys, manys - twos) == ({2: 1}, {want: 1})


def test_refused_call_records_no_hits(spark, tmp_path):
    """Partition hits drive maintenance's split choice, so only served
    calls count: a two-column ``allowed`` (search and knn_ivf_pq) and a
    version without a PQ sidecar (knn_ivf_pq) raise and leave
    ``hits`` and ``query_counter`` as they were."""
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar, knn_ivf_pq)

    idx, queries = _index(spark, str(tmp_path / "ivf"))
    two_cols = idx.read_corpus().select("vec_id", "partition_id")

    def unchanged(call, exc):
        before = (dict(idx.hits), idx.query_counter)
        with pytest.raises(exc):
            call()
        assert (dict(idx.hits), idx.query_counter) == before

    unchanged(lambda: idx.search(queries, k=K, allowed=two_cols),
              ValueError)
    unchanged(lambda: knn_ivf_pq(idx, queries, k=K), FileNotFoundError)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7)
    unchanged(lambda: knn_ivf_pq(idx, queries, k=K, allowed=two_cols),
              ValueError)
    # a served call does count
    _, meta = knn_ivf_pq(idx, queries, k=K)
    assert idx.query_counter == NQ
    assert sum(idx.hits.values()) == sum(meta["nprobe"])


if __name__ == "__main__":
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from quake_vector_search_spark.session import get_spark

    if "--write" not in sys.argv:
        sys.exit("usage: python tests/test_topk_digests.py --write")
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS",
                                                   "8")))
    with tempfile.TemporaryDirectory() as td:
        got = {c: _case_digest(s, td, c) for c in sorted(CASES)}
    os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
    with open(DIGESTS, "w") as fh:
        json.dump(got, fh, indent=1, sort_keys=True)
        fh.write("\n")
