"""Tests for the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from eventlog import parse_event_log  # noqa: E402
from inputs import INSERT_ID_BASE, make_inputs  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

from measure import disk_bytes, iqm, tail, tree_cpu_s  # noqa: E402
from oracle import LiveSet  # noqa: E402
from workloads import PER_LAYER, WORKLOADS, Run  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
ROOT = os.path.dirname(os.path.dirname(DATA))


def test_inputs_are_a_function_of_the_seed():
    a = make_inputs(7, 3000, n_batches=4, batch=20, n_dml=5)
    b = make_inputs(7, 3000, n_batches=4, batch=20, n_dml=5)
    c = make_inputs(8, 3000, n_batches=4, batch=20, n_dml=5)
    for f in ("ids", "vecs", "queries", "delete_ids", "insert_ids",
              "insert_vecs"):
        assert np.array_equal(getattr(a, f), getattr(b, f)), f
    # the corpus belongs to the workload; the seed drives the client
    assert np.array_equal(a.vecs, c.vecs)
    for f in ("queries", "delete_ids", "insert_vecs"):
        assert not np.array_equal(getattr(a, f), getattr(c, f)), f
    assert not np.array_equal(make_inputs(7, 3001, 1, 20).vecs[:3000],
                              a.vecs)
    assert a.vecs.dtype == np.float32 and a.vecs.shape == (3000, 64)
    assert a.queries.shape == (4, 20, 64)


def test_every_batch_holds_the_zipf_mix():
    from inputs import CORPUS_SEED, N_BLOBS, zipf_weights
    n = 3000
    inp = make_inputs(4, n, n_batches=8, batch=50)
    world = np.random.default_rng([CORPUS_SEED, n, 64])
    world.normal(0.0, 4.0, size=(N_BLOBS, 64))
    blob = world.integers(0, N_BLOBS, size=n)
    world.normal(0.0, 1.0, size=(n, 64))
    top = world.permutation(N_BLOBS)[0]
    members = inp.vecs[blob == top].astype(np.float64)
    want = 50 * zipf_weights(N_BLOBS)[0]
    for q in inp.queries.astype(np.float64):
        d2 = ((q[:, None, :] - members[None, :, :]) ** 2).sum(-1)
        got = int((np.sqrt(d2.min(axis=1)) < 1.5).sum())
        assert abs(got - want) <= 1


def test_delete_and_insert_streams_never_collide():
    inp = make_inputs(3, 1000, n_batches=6, batch=10, n_dml=25)
    dels = inp.delete_ids.ravel()
    assert len(set(dels.tolist())) == dels.size
    assert set(dels.tolist()) <= set(inp.ids.tolist())
    ins = inp.insert_ids.ravel()
    assert ins.min() >= INSERT_ID_BASE > inp.ids.max()
    assert len(set(ins.tolist())) == ins.size


def test_queries_sit_near_stored_points():
    inp = make_inputs(5, 2000, n_batches=2, batch=25)
    q = inp.queries.reshape(-1, 64).astype(np.float64)
    x = inp.vecs.astype(np.float64)
    d2 = (q * q).sum(1)[:, None] + (x * x).sum(1)[None, :] - 2 * q @ x.T
    # N(0, 0.1²) noise in 64 dims: about 0.8 from the picked point
    assert np.sqrt(np.maximum(d2.min(axis=1), 0)).max() < 1.5


def test_tail_picks_highest_percentile_with_ten_beyond():
    value, pct, n = tail(list(range(1, 101)))
    assert (value, pct, n) == (90, 90.0, 100)
    assert tail(list(range(11)))[0] == 0          # 10 beyond the minimum
    assert tail([5.0] * 30 + [9.0] * 10)[0] == 5.0
    with pytest.raises(ValueError):
        tail(list(range(10)))


def test_iqm_is_the_mean_of_the_middle_half():
    assert iqm([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert iqm([100.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, -50.0]) == 3.5
    assert iqm([7.0]) == 7.0
    assert iqm([1.0, 2.0, 9.0]) == 4.0                # 3 // 4 = 0 cut


BURN = ("import time\nt = time.process_time()\n"
        "while time.process_time() - t < 0.3:\n    pass\n")


def test_tree_cpu_counts_live_and_reaped_descendants():
    me = os.getpid()
    before = tree_cpu_s(me)
    subprocess.run([sys.executable, "-c", BURN], check=True)   # reaped
    assert tree_cpu_s(me) - before >= 0.25
    child = subprocess.Popen([sys.executable, "-c",
                              BURN + "time.sleep(30)\n"])
    try:
        time.sleep(0.1)
        mid = tree_cpu_s(me)
        deadline = time.monotonic() + 20
        while tree_cpu_s(me) - mid < 0.2 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert tree_cpu_s(me) - mid >= 0.2                      # alive
    finally:
        child.kill()
        child.wait()


def test_disk_bytes_counts_hardlinks_once(tmp_path):
    (tmp_path / "v1").mkdir()
    (tmp_path / "v2").mkdir()
    (tmp_path / "v1" / "a.parquet").write_bytes(b"x" * 1000)
    os.link(tmp_path / "v1" / "a.parquet", tmp_path / "v2" / "a.parquet")
    (tmp_path / "v2" / "b.parquet").write_bytes(b"y" * 500)
    assert disk_bytes(str(tmp_path)) == 1500


def test_event_log_parsing_per_job_group():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as fh:
        groups = parse_event_log(fh)
    assert set(groups) == {"g.scan", "g.shuffle"}
    scan, shuf = groups["g.scan"], groups["g.shuffle"]
    assert len(scan.jobs) == 1 and len(scan.stages) == 1
    assert scan.tasks == 2
    assert scan.input_bytes > 0 and scan.shuffle_bytes == 0
    assert scan.executor_run_ms >= 0 and scan.sched_delay_ms >= 0
    assert len(shuf.jobs) == 1 and len(shuf.stages) == 2
    assert shuf.tasks == 2 + 3
    assert shuf.shuffle_bytes > 0 and shuf.result_bytes > 0


def _oracle_rows(live: LiveSet, qids, qmat, k):
    truth = live.topk(qmat, k)
    pos = {int(i): p for p, i in enumerate(live.ids)}
    rq, rv, rd, rr = [], [], [], []
    for qi, ids in zip(qids, truth):
        for rank, i in enumerate(ids, start=1):
            rq.append(qi)
            rv.append(i)
            rd.append(np.linalg.norm(live.vecs[pos[int(i)]]
                                     - qmat[list(qids).index(qi)]))
            rr.append(rank)
    return (np.array(rq), np.array(rv), np.array(rd), np.array(rr))


def test_oracle_accepts_exact_results_and_flags_violations():
    inp = make_inputs(11, 500, n_batches=1, batch=4, n_dml=3)
    live = LiveSet(inp.ids, inp.vecs)
    qids = np.arange(4)
    qmat = inp.queries[0].astype(np.float64)
    rows = _oracle_rows(live, qids, qmat, 5)
    assert live.check(qids, qmat, rows, 5) == (1.0, [])

    dead = int(rows[1][0])
    live.delete([dead])
    recall, problems = live.check(qids, qmat, rows, 5)
    assert any("dead or unknown" in p for p in problems)

    short = tuple(a[1:] for a in rows)
    assert live.check(qids, qmat, short, 5)[1]

    live.insert(inp.insert_ids[0], inp.insert_vecs[0])
    assert len(live) == 500 - 1 + 3
    fresh = _oracle_rows(live, qids, qmat, 5)
    assert live.check(qids, qmat, fresh, 5) == (1.0, [])


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(ROOT), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_end_to_end_reports_exactly_the_gated_metrics():
    with open(os.path.join(os.path.dirname(ROOT), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run = Run.__new__(Run)
    run.batch_ms, run.round_ms = [900.0, 1000.0], [2000.0, 2400.0]
    run.batch_cpu_ms, run.round_cpu_ms = [1800.0, 1900.0], [5000.0, 5200.0]
    run.batch_steal_ms, run.recall = [300.0, 200.0], [1.0, 0.9]
    run.space_amp, run.failed, run.attempted = 2.0, 0, 8
    run.op_ms, run.setup = {"delete": [300.0]}, {"build_s": 8.0}
    metrics, notes = run.end_to_end(30.0)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        name: unit for name, (_, unit) in metrics.items()}
    assert metrics["batch_cpu_ms"][0] == 1850.0
    assert notes["batch_p50_ms"] == (950.0, "ms")
    assert notes["failed_frac"] == (0.0, "ratio")
