"""Benchmark entry point.

    python3 perfbench/run.py --workload replay_n40k --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a source checkout. It makes the workload's inputs
from ``--seed``, starts Spark on ``local[nproc]``, sets the workload up,
runs one closed-loop client for ``--seconds`` and checks every batch
against a brute-force oracle. Human-readable lines come first; the last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (a separate, traced run that
also writes its spans under ``.perfbench_out/``). Everything it writes
stays inside the checkout; its scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _start_spark(work: str, trace: bool):
    from quake_vector_search_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": tmp,
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark("perfbench", cpus=len(os.sched_getaffinity(0)),
                     extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _event_log_lines(work: str):
    for dirpath, _, files in os.walk(os.path.join(work, "eventlog")):
        for name in sorted(files):
            if not name.startswith(("appstatus", ".")):
                with open(os.path.join(dirpath, name)) as fh:
                    yield from fh


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "quake_vector_search_spark",
                                       "__init__.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from eventlog import parse_event_log
    from inputs import make_inputs
    from workloads import (BATCH, N_DML, POOL_BATCHES, WARMUP_BATCHES,
                           WORKLOADS, Run)

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a kill by timeout still stops Spark and removes the scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{wl.name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Python temp files and the engine's Python workers stay inside the
    # checkout and import the engine from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    try:
        inputs = make_inputs(args.seed, wl.n, POOL_BATCHES + WARMUP_BATCHES,
                             BATCH, N_DML if wl.replay else 0)
        spark = _start_spark(work, bool(args.trace))
        cores = spark.sparkContext.defaultParallelism
        try:
            run = Run(spark, wl, inputs, work, trace=bool(args.trace))
            run.set_up()
            setup_s = run.loop(args.seconds)
        finally:
            _stop_spark(spark)
        if args.trace:
            groups = parse_event_log(_event_log_lines(work))
            metrics = run.per_layer(groups, cores)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            stem = os.path.join(out, f"{wl.name}-seed{args.seed}")
            run.spans.write(stem + "-spans.jsonl")
            with open(stem + "-batches.json", "w") as fh:
                json.dump(run.traced, fh, indent=1)
            notes = {"traced_batches": (len(run.traced), "count"),
                     "spans": (os.path.relpath(stem, ROOT) + "-spans.jsonl",
                               "")}
        else:
            metrics, notes = run.end_to_end(setup_s)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"{wl.name}-seed{args.seed}"
                                   "-samples.json"), "w") as fh:
                json.dump({k: getattr(run, k) for k in (
                    "batch_ms", "round_ms", "batch_cpu_ms", "round_cpu_ms",
                    "batch_steal_ms", "op_ms")}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # only if no other run uses it
        except OSError:
            pass

    print(f"workload {wl.name} seed {args.seed} "
          f"({'traced' if args.trace else 'timed'}, {cores} cores)")
    for name, (value, unit) in metrics.items():
        print(f"  {name:28s} {value:14.4f} {unit}")
    for name, (value, unit) in notes.items():
        shown = value if isinstance(value, str) else f"{value:14.4f}"
        print(f"  {name:28s} {shown} {unit}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
