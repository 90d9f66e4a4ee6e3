"""The workloads: set-up, the closed client loop and the traced steps.

One client keeps one 50-query batch in flight (a closed loop): it sends
the next batch only after collecting the previous one's rows, and on
``replay_n40k`` it also runs its deletes, inserts and ``maintain()``
before the next batch. Only the engine's public API is called; the
traced run additionally re-runs each search batch's steps as separate,
job-grouped Spark jobs (APS, pruned scan, Arrow handoff, decode,
kernel) so the batch wall time can be split by layer.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np

from inputs import Inputs
from measure import (disk_bytes, iqm, parquet_files, process_age_s, steal_s,
                     tail, tree_cpu_s, vm_hwm_mb)
from oracle import LiveSet
from spans import Spans

# per-layer metric → unit; every traced run reports all of them, with 0
# for a layer its workload does not exercise
PER_LAYER = {
    "aps.ms": "ms", "aps.nprobe_avg": "count",
    "aps.scanned_rows_per_query": "count", "aps.probe_union_parts": "count",
    "spark.jobs_per_batch": "count", "spark.stages_per_batch": "count",
    "spark.tasks_per_batch": "count", "spark.sched_delay_ms": "ms",
    "spark.task_deser_ms": "ms", "spark.cores_busy_frac": "ratio",
    "spark.shuffle_bytes": "bytes", "spark.result_bytes": "bytes",
    "scan.ms": "ms", "scan.input_bytes": "bytes", "scan.files": "count",
    "scan.listing_ms": "ms",
    "arrow.handoff_ms": "ms", "arrow.decode_ms": "ms",
    "kernel.ms": "ms", "kernel.flops": "count", "kernel.bytes": "bytes",
    "topk.candidate_rows": "count", "topk.result_rows": "count",
    "search.unattributed_ms": "ms", "search.wall_ms": "ms",
    "insert.ms": "ms", "delete.ms": "ms", "maintain.ms": "ms",
    "insert.files_written": "count", "corpus.files_total": "count",
    "maintain.splits": "count", "maintain.merges": "count",
    "maintain.bytes_rewritten": "bytes", "maintain.bytes_linked": "bytes",
    "pq.sidecar_build_s": "s", "pq.codes_bytes_scanned": "bytes",
    "pq.rerank_rows": "count", "pq.jobs_per_batch": "count",
    "trace.overhead_ms": "ms",
}

K = 10
BATCH = 50
N_DML = 25              # deletes and inserts per replay round
POOL_BATCHES = 96       # query batches generated per run
# untimed full rounds at the end of set-up: with fewer, the JVM is still
# compiling hot code and CPU per batch keeps falling through the timed loop
WARMUP_BATCHES = 6
MIN_ROUNDS = 3          # rounds run even past --seconds
SPACE_ROUND = 3         # space_amp is read after this many rounds
MAX_PROBE = 64
PQ_M = 8
PQ_OVERSAMPLE = 8


@dataclass(frozen=True)
class Workload:
    name: str
    n: int
    target: float
    policy: str = "reference"
    replay: bool = False
    pq: bool = False


WORKLOADS = {w.name: w for w in (
    Workload("scan_n200k", 200_000, 0.9),
    Workload("selective_n40k", 40_000, 0.5, policy="calibrated"),
    Workload("replay_n40k", 40_000, 0.9, replay=True),
    Workload("pq_n40k", 40_000, 0.9, pq=True),
)}

OFF = Spans(enabled=False)


def _rows_to_arrays(rows):
    """(query_id, vec_id, dist, rank) rows → four arrays."""
    q, v, d, r = zip(*rows) if rows else ((), (), (), ())
    return (np.array(q, np.int64), np.array(v, np.int64),
            np.array(d, np.float64), np.array(r, np.int64))


class Run:
    """One workload in one process: set it up, drive the loop, report."""

    def __init__(self, spark, wl: Workload, inputs: Inputs, workdir: str,
                 trace: bool):
        self.spark = spark
        self.wl = wl
        self.inp = inputs
        self.workdir = workdir
        self.trace = trace
        self.spans = Spans(spark.sparkContext, enabled=trace)
        self.live = LiveSet(inputs.ids, inputs.vecs)
        self.d = inputs.vecs.shape[1]
        self.attempted = 0
        self.failed = 0
        self.batch_ms: list[float] = []        # untraced search batches
        self.round_ms: list[float] = []
        self.batch_cpu_ms: list[float] = []    # CPU of the process tree
        self.round_cpu_ms: list[float] = []
        self.batch_steal_ms: list[float] = []
        self.op_ms: dict[str, list[float]] = {
            "delete": [], "insert": [], "maintain": []}
        self.recall: list[float] = []
        self.traced: list[dict] = []           # one record per traced batch
        self.space_amp = None
        self.setup = {}

    # ------------------------------------------------------------ set-up
    @contextmanager
    def _stage(self, name: str):
        t = time.perf_counter()
        with self.spans.span(f"setup.{name}", group=f"setup.{name}"):
            yield
        self.setup[f"{name}_s"] = time.perf_counter() - t

    def set_up(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from quake_vector_search_spark.operators.ivf import IVFIndex

        n, d = self.inp.vecs.shape
        with self._stage("upload"):
            path = os.path.join(self.workdir, "input.parquet")
            offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
            emb = pa.ListArray.from_arrays(offsets,
                                           pa.array(self.inp.vecs.ravel()))
            pq.write_table(pa.table({"vec_id": self.inp.ids,
                                     "embedding": emb}), path)
            corpus = self.spark.read.parquet(path)
        with self._stage("build"):
            self.idx = IVFIndex.build(
                corpus, os.path.join(self.workdir, "index"),
                coarse_k=16, base_k=4)
        if self.wl.policy == "calibrated":
            with self._stage("calibrate"):
                self.idx.calibrate()
        if self.wl.pq:
            from quake_vector_search_spark.operators.quantization import (
                build_pq_sidecar)
            with self._stage("pq_sidecar"):
                build_pq_sidecar(self.idx, m=PQ_M, ksub=256, seed=99,
                                 residual=True)
        # warm-up rounds: the first maintain() after a build does the
        # layout's one-off splits, and first calls pay cold code paths
        with self._stage("warmup"):
            for w in range(WARMUP_BATCHES):
                b = POOL_BATCHES + w
                self._search(self._qids(b), self._qmat(b))
                if self.wl.replay:
                    self._dml(b, False, OFF, {}, record=False)

    def _qids(self, b: int) -> np.ndarray:
        return np.arange(b * BATCH, (b + 1) * BATCH, dtype=np.int64)

    def _qmat(self, b: int) -> np.ndarray:
        return self.inp.queries[b].astype(np.float64)

    def _search(self, qids, qmat):
        if self.wl.pq:
            from quake_vector_search_spark.operators.quantization import (
                knn_ivf_pq)
            df, meta = knn_ivf_pq(self.idx, (qids, qmat), k=K,
                                  target_recall=self.wl.target,
                                  max_probe=MAX_PROBE,
                                  oversample=PQ_OVERSAMPLE,
                                  policy=self.wl.policy)
        else:
            df, meta = self.idx.search((qids, qmat), k=K,
                                       target_recall=self.wl.target,
                                       max_probe=MAX_PROBE,
                                       policy=self.wl.policy)
        return df.collect(), meta

    # -------------------------------------------------------------- loop
    def loop(self, seconds: float) -> float:
        """Run rounds for ``seconds`` (at least MIN_ROUNDS); returns the
        process age when the first timed batch started."""
        start_age = process_age_s()
        t_end = time.perf_counter() + seconds
        b = 0
        while b < POOL_BATCHES and (b < MIN_ROUNDS
                                    or time.perf_counter() < t_end):
            # in the traced run every other batch stays untraced, so the
            # tracing overhead is a paired, same-process difference
            self._round(b, traced=self.trace and b % 2 == 1)
            b += 1
            if b == SPACE_ROUND:
                self.space_amp = (
                    disk_bytes(os.path.join(self.workdir, "index"))
                    / (len(self.live) * self.d * 4))
        return start_age

    def _attempt(self, what: str, fn):
        self.attempted += 1
        try:
            return True, fn()
        except Exception:   # a failed operation is counted, not fatal
            self.failed += 1
            print(f"[perfbench] {what} failed:", file=sys.stderr)
            traceback.print_exc()
            return False, None

    @staticmethod
    @contextmanager
    def _clock():
        """Wall, CPU and stolen milliseconds of the block. CPU is that of
        this process and its descendants (the JVM and its Python
        workers); stolen is the time the host took from the VM's CPUs."""
        got = {}
        me = os.getpid()
        cpu, steal, t = tree_cpu_s(me), steal_s(), time.perf_counter()
        yield got
        got["wall"] = 1000.0 * (time.perf_counter() - t)
        got["cpu"] = 1000.0 * (tree_cpu_s(me) - cpu)
        got["steal"] = 1000.0 * (steal_s() - steal)

    def _round(self, b: int, traced: bool) -> None:
        sp = self.spans if traced else OFF
        qids, qmat = self._qids(b), self._qmat(b)
        rec = {"batch": b}
        if traced:
            rec["corpus.files_total"] = len(
                parquet_files(self.idx.corpus_path))
        with self._clock() as clk, sp.span("search", b,
                                            group=f"b{b}.search"):
            ok, out = self._attempt(f"search batch {b}",
                                    lambda: self._search(qids, qmat))
        wall = clk["wall"]
        if ok:
            rows, meta = out
            recall, problems = self.live.check(
                qids, qmat, _rows_to_arrays(rows), K)
            self.recall.append(recall)
            if problems:
                self.failed += 1
                print(f"[perfbench] batch {b} incorrect: {problems[:3]}",
                      file=sys.stderr)
            if traced:
                rec.update({"search.wall_ms": wall,
                            "topk.result_rows": len(rows)})
                self._steps(b, qmat, meta, rec)
        if traced:
            self.traced.append(rec)
        else:
            self.batch_ms.append(wall)
            self.batch_cpu_ms.append(clk["cpu"])
            self.batch_steal_ms.append(clk["steal"])
        round_ms, round_cpu = wall, clk["cpu"]
        if self.wl.replay:
            ms, cpu = self._dml(b, traced, sp, rec)
            round_ms, round_cpu = round_ms + ms, round_cpu + cpu
        if not traced:
            self.round_ms.append(round_ms)
            self.round_cpu_ms.append(round_cpu)

    def _dml(self, b: int, traced: bool, sp: Spans, rec: dict,
             record: bool = True) -> tuple[float, float]:
        """The round's deletes, inserts and maintain(); returns their
        wall and CPU milliseconds."""
        from quake_vector_search_spark.operators.maintenance import maintain

        idx = self.idx
        dels = self.inp.delete_ids[b]
        ins_ids = self.inp.insert_ids[b]
        ins_vecs = self.inp.insert_vecs[b].astype(np.float64)
        spent = cpu = 0.0
        files_before = len(parquet_files(idx.corpus_path)) if traced else 0
        ops = (("delete", lambda: idx.delete(dels.tolist())),
               ("insert", lambda: idx.insert(ins_ids, ins_vecs,
                                             refresh=False)),
               ("maintain", lambda: maintain(idx)))
        for name, fn in ops:
            with self._clock() as clk, sp.span(name, b,
                                                group=f"b{b}.{name}"):
                ok, out = self._attempt(f"{name} round {b}", fn)
            ms = clk["wall"]
            spent += ms
            cpu += clk["cpu"]
            if not ok:
                continue
            if name == "delete":
                self.live.delete(dels)
            elif name == "insert":
                self.live.insert(ins_ids, self.inp.insert_vecs[b])
                if traced:
                    rec["insert.files_written"] = (
                        len(parquet_files(idx.corpus_path)) - files_before)
            elif traced:
                rec["maintain.splits"] = len(out["splits"])
                rec["maintain.merges"] = len(out["merges"])
                rewritten = linked = 0
                for f in parquet_files(idx.corpus_path):
                    st = os.stat(f)
                    if st.st_nlink > 1:
                        linked += st.st_size
                    else:
                        rewritten += st.st_size
                rec["maintain.bytes_rewritten"] = rewritten
                rec["maintain.bytes_linked"] = linked
            if traced:
                rec[f"{name}.ms"] = ms
            elif record:
                self.op_ms[name].append(ms)
        return spent, cpu

    # --------------------------------------------------- traced steps
    def _steps(self, b: int, qmat, meta, rec: dict) -> None:
        """Re-run the batch's steps one layer at a time, after the timed
        batch: APS, then a ladder of Spark jobs over the same probe
        union, each adding one layer (pruned scan → Arrow handoff →
        vector decode → NumPy kernel). Each layer's cost is its rung
        minus the rung below; what the ladder does not cover is the
        batch's ``search.unattributed_ms``."""
        idx, sp = self.idx, self.spans
        with sp.span("aps", b) as s:
            order, probs = idx.partition_scores(qmat)
            idx.choose_nprobe(probs, self.wl.target, MAX_PROBE)
        rec["aps.ms"] = sp.ms(s)
        # the probe counts the batch really used (the calibrated policy
        # sharpens the probabilities before the same cumulative rule)
        nprobe = np.asarray(meta["nprobe"], dtype=np.int64)
        probe_map: dict[int, list[int]] = {}
        scanned = []
        for qi in range(len(qmat)):
            pos = order[qi, :nprobe[qi]]
            scanned.append(int(idx.sizes[pos].sum()))
            for p in idx.part_ids[pos]:
                probe_map.setdefault(int(p), []).append(qi)
        union = sorted(probe_map)
        size_of = {int(p): int(s) for p, s in zip(idx.part_ids, idx.sizes)}
        rec.update({"aps.nprobe_avg": float(nprobe.mean()),
                    "aps.scanned_rows_per_query": float(np.mean(scanned)),
                    "aps.probe_union_parts": len(union)})
        if self.wl.pq:
            pq_dir = os.path.join(idx.version_dir, "pq")
            rec["pq.codes_bytes_scanned"] = sum(
                os.path.getsize(f) for p in union
                for f in parquet_files(
                    os.path.join(pq_dir, f"partition_id={p}")))
            rec["pq.rerank_rows"] = int(sum(
                min(K * PQ_OVERSAMPLE, s) for s in scanned))
            rec["search.unattributed_ms"] = (rec["search.wall_ms"]
                                             - rec["aps.ms"])
            return
        rec["kernel.flops"] = sum(2 * len(q) * size_of[p] * self.d
                                  for p, q in probe_map.items())
        rec["kernel.bytes"] = sum(8 * size_of[p] * (self.d + len(q))
                                  for p, q in probe_map.items())
        # bytes of the probed partitions' files: Spark's local parquet
        # reader reports almost none of them as input bytes
        files = [f for p in union for f in parquet_files(
            os.path.join(idx.corpus_path, f"partition_id={p}"))]
        rec["scan.files"] = len(files)
        rec["scan.input_bytes"] = sum(os.path.getsize(f) for f in files)
        t = time.perf_counter()
        self.spark.read.schema(idx.read_corpus().schema) \
            .parquet(idx.corpus_path)
        rec["scan.listing_ms"] = 1000.0 * (time.perf_counter() - t)

        rungs = self._ladder(qmat, probe_map, union, size_of)
        prev = 0.0
        for step, (df, key) in rungs.items():
            with sp.span(f"ladder.{step}", b, group=f"b{b}.{step}") as s:
                got = df.collect()
            took = sp.ms(s)
            rec[key] = took - prev
            prev = took
            if step == "kernel":
                rec["topk.candidate_rows"] = int(sum(r[0] for r in got))
        rec["search.unattributed_ms"] = (rec["search.wall_ms"] - rec["aps.ms"]
                                         - prev)

    def _ladder(self, qmat, probe_map, union, size_of) -> dict:
        from pyspark.sql import functions as F

        from quake_vector_search_spark.operators import ivf

        idx = self.idx
        id_col, vec_col = idx.id_col, idx.vec_col
        corpus = idx.read_corpus(partition_ids=union) \
            .select(id_col, vec_col, "partition_id")
        # same task sizing as the engine's search scan
        rows_per_task = getattr(ivf, "ROWS_PER_TASK", None)
        if rows_per_task:
            n_tasks = max(1, -(-sum(size_of[p] for p in union)
                               // rows_per_task))
            if n_tasks < len(union):
                corpus = corpus.coalesce(n_tasks)
        bc = self.spark.sparkContext.broadcast((qmat, probe_map))

        def handoff(batches):
            for _ in batches:
                pass
            return iter(())

        def decode(batches):
            from quake_vector_search_spark.functions.vector import (
                arrow_vectors_to_matrix)
            for rb in batches:
                if rb.num_rows:
                    arrow_vectors_to_matrix(rb.column(vec_col))
            return iter(())

        def kernel(batches):
            import pyarrow as pa

            from quake_vector_search_spark.functions.vector import (
                arrow_vectors_to_matrix, l2_batch, topk_cols_2d)
            qm, pmap = bc.value
            n = 0
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                vecs = arrow_vectors_to_matrix(rb.column(vec_col))
                ids = rb.column(id_col).to_numpy(
                    zero_copy_only=False).astype(np.int64)
                pids = rb.column("partition_id").to_numpy(
                    zero_copy_only=False)
                for pid in np.unique(pids):
                    qidx = pmap.get(int(pid))
                    if not qidx:
                        continue
                    mask = pids == pid
                    d2 = l2_batch(qm[qidx], vecs[mask])
                    kk = min(K, int(mask.sum()))
                    topk_cols_2d(d2, ids[mask], kk)
                    n += len(qidx) * kk
            yield pa.RecordBatch.from_arrays([pa.array([n], pa.int64())],
                                             ["n"])

        schema = f"{id_col} long"
        return {
            "scan": (corpus.where(F.size(vec_col) < 0), "scan.ms"),
            "handoff": (corpus.mapInArrow(handoff, schema),
                        "arrow.handoff_ms"),
            "decode": (corpus.mapInArrow(decode, schema),
                       "arrow.decode_ms"),
            "kernel": (corpus.mapInArrow(kernel, "n long"), "kernel.ms"),
        }

    # ----------------------------------------------------------- report
    def end_to_end(self, setup_s: float) -> tuple[dict, dict]:
        """The gated metrics, and notes printed beside them. Latency is
        gated as CPU time: the VM loses a varying share of its CPUs to
        the host (``steal_ms_per_batch``), which moves wall-clock times
        by tens of percent from run to run of the same code, while the
        CPU time the engine uses for the same work stays put. The
        wall-clock figures are notes."""
        samples = [ms for ms in self.batch_ms for _ in range(BATCH)]
        tail_ms, pct, n = tail(samples)
        searched_s = sum(self.batch_ms) / 1000.0
        out = {
            "setup_s": (setup_s, "s"),
            "batch_cpu_ms": (iqm(self.batch_cpu_ms), "ms"),
            "round_cpu_ms": (iqm(self.round_cpu_ms), "ms"),
            "recall_at_10": (statistics.mean(self.recall), "ratio"),
            "space_amp": (self.space_amp, "ratio"),
            "driver_rss_mb": (vm_hwm_mb(), "MB"),
        }
        notes = {
            "batch_p50_ms": (statistics.median(self.batch_ms), "ms"),
            "round_p50_ms": (statistics.median(self.round_ms), "ms"),
            "search_qps": (BATCH * len(self.batch_ms) / searched_s, "1/s"),
            "batch_tail_ms": (tail_ms, f"ms = p{pct:.2f} of {n} query "
                              f"samples ({len(self.batch_ms)} batches)"),
            "steal_ms_per_batch": (statistics.median(self.batch_steal_ms),
                                   "ms"),
            "failed_frac": (self.failed / max(self.attempted, 1), "ratio"),
        }
        for name, ms in self.op_ms.items():
            if ms:
                notes[f"{name}_p50_ms"] = (statistics.median(ms), "ms")
        for step, secs in self.setup.items():
            notes[f"setup.{step}"] = (secs, "s")
        return out, notes

    def per_layer(self, groups: dict, cores: int) -> dict:
        """Per-layer metrics of the traced batches: the mean over traced
        batches (means, so the search steps add up to ``search.wall_ms``
        exactly), with Spark-side numbers from the event log ``groups``
        (``eventlog.parse_event_log``)."""
        for rec in self.traced:
            if "search.wall_ms" not in rec:
                continue
            b = rec["batch"]
            g = groups.get(f"b{b}.search")
            if g is not None:
                rec.update({
                    "spark.jobs_per_batch": len(g.jobs),
                    "spark.stages_per_batch": len(g.stages),
                    "spark.tasks_per_batch": g.tasks,
                    "spark.sched_delay_ms": g.sched_delay_ms,
                    "spark.task_deser_ms": g.deserialize_ms,
                    "spark.cores_busy_frac": g.executor_run_ms
                    / (rec["search.wall_ms"] * cores),
                    "spark.shuffle_bytes": g.shuffle_bytes,
                    "spark.result_bytes": g.result_bytes,
                })
                if self.wl.pq:
                    rec["pq.jobs_per_batch"] = len(g.jobs)
        out = {}
        for name, unit in PER_LAYER.items():
            vals = [r[name] for r in self.traced if name in r]
            out[name] = (float(np.mean(vals)) if vals else 0.0, unit)
        out["pq.sidecar_build_s"] = (self.setup.get("pq_sidecar_s", 0.0),
                                     "s")
        walls = [r["search.wall_ms"] for r in self.traced
                 if "search.wall_ms" in r]
        out["trace.overhead_ms"] = (
            statistics.median(walls) - statistics.median(self.batch_ms),
            "ms")
        return out
