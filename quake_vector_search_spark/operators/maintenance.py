"""Adaptive split/merge maintenance + compaction (SURVEY.md O13/O14).

Reference parity: ``maintain()`` (QUAKE_working_demo.ipynb c1:170-210 /
adaptive_ivf.mjs:306-362):

- **Split** (c1:171-188): per partition, hotness = hits −
  last_split_at; threshold = clamp(split_size / max(1, hotness /
  hot_window), split_size/1.5, split_size·2); partitions with
  size ≥ threshold and size ≥ 16 get a seeded 2-means split.
- **Merge** (c1:189-210): partitions with size ≤ merge_size greedily
  pair with their nearest tiny neighbor by centroid L2, first-listed
  first; each partition participates at most once per pass. (The
  Python reference's `used` set is never populated — dead code — but
  its JS mirror `adaptive_ivf.mjs:346-360` does populate it; we follow
  the JS/intended pair-once semantics.)

Spark re-expression — the part with no Catalyst analogue (SURVEY §4):
a maintenance job that publishes a **new index version directory**:

- Unaffected partitions are *hardlinked* into the new version (local
  FS; on an object store this would be a manifest pointing at the old
  files — the rewrite cost is zero either way).
- Split partitions are rewritten by a per-partition 2-means inside
  ``applyInPandas`` (the partition is the reference's in-memory unit,
  so it fits an executor by construction); tombstoned rows are
  compacted out in the same pass.
- Merges move files between partition directories: ``partitionBy``
  writes don't store the partition column in the files, so relabeling
  a partition is a *metadata-only* link — no data rewrite, exactly the
  cheap "concat" the reference does in memory (c1:204-206).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from quake_vector_search_spark.functions.vector import l2_batch
from quake_vector_search_spark.operators.ivf import IVFIndex
from quake_vector_search_spark.operators.kmeans import local_kmeans

SPLIT_SIZE = 3000          # ipynb c1:61
MERGE_SIZE = 300           # ipynb c1:62
COMPACT_FILE_THRESHOLD = 4  # rewrite a partition dir past this many files
HOT_SPLIT_MULTIPLIER = 1.5  # ipynb c1:63
HOT_WINDOW = 2000          # ipynb c1:170 (hot_qps_window)
MIN_SPLIT_ROWS = 16        # ipynb c1:176
SPLIT_KMEANS_ITERS = 8     # ipynb c1:177
SPLIT_SEED_BASE = 17       # ipynb c1:177


def _link_partition_dir(src: str, dst: str) -> None:
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            target = os.path.join(dst, f)
            if not os.path.exists(target):
                os.link(os.path.join(src, f), target)


def split_threshold(hotness: int, split_size: int = SPLIT_SIZE,
                    hot_window: int = HOT_WINDOW,
                    hot_multiplier: float = HOT_SPLIT_MULTIPLIER) -> float:
    """Adaptive threshold (c1:174-175): hot partitions split earlier,
    bounded to [split_size/multiplier, split_size*2]."""
    t = split_size / max(1.0, hotness / hot_window)
    return max(split_size / hot_multiplier, min(split_size * 2, t))


def maintain(idx: IVFIndex,
             split_size: int = SPLIT_SIZE,
             merge_size: int = MERGE_SIZE,
             hot_window: int = HOT_WINDOW,
             hot_multiplier: float = HOT_SPLIT_MULTIPLIER,
             recalibrate: bool | dict = False,
             ood_rebuild_rate: float | None = None,
             ood_rebuild_min_n: int = 50) -> dict:
    """Run one split+merge pass, publish a new version, return a summary
    {"splits": [...], "merges": [...], "version": N}.

    ``recalibrate`` (VERDICT r6 #2): refit the APS calibration against
    the just-published version, eagerly, so a deployment serving
    ``policy="calibrated"`` never pays the implicit ``calibrate()``
    brute-force pass inside a search call (maintenance always drops the
    previous fit — it was estimated against the old geometry). Pass a
    dict instead of True to forward calibrate() kwargs — in particular
    ``{"route_cells": N}`` so a ROUTED deployment's refit keeps its
    restriction instead of silently reverting to full scoring.

    ``ood_rebuild_rate`` (round 11, VERDICT r10 #3): when the
    anisotropic sidecar's streamed-append OOD-fallback rate (the
    cumulative ``ood_stats.json`` counter the ingest path keeps — see
    ``aniso_encode_streamed``) exceeds this fraction over at least
    ``ood_rebuild_min_n`` encoded rows, the sidecar refresh RETRAINS
    the books on the current (drifted) corpus instead of carrying
    them forward — a long-running stream on drifting data otherwise
    degrades silently until someone rebuilds by hand. ``None``
    (default) defers to the ``ood_rebuild_rate`` knob persisted in
    the sidecar's meta at build time; if neither is set, the
    trigger is off and maintenance behaves as before. The summary
    gains ``ood_rate`` (the observed rate, or None when no counter
    exists) and ``pq_retrained``."""
    spark = idx.spark
    old_corpus = idx.corpus_path
    new_version = idx.version + 1
    new_corpus = os.path.join(idx.workdir, f"v{new_version:04d}", "corpus")
    os.makedirs(new_corpus, exist_ok=True)

    # ---- split pass: decide on driver metadata (sizes are live-exact)
    split_parents: list[int] = []
    child_of: dict[int, int] = {}
    next_pid = idx.next_part_id
    for pos, pid in enumerate(idx.part_ids):
        pid = int(pid)
        size = int(idx.sizes[pos])
        hotness = idx.hits.get(pid, 0) - idx.last_split_at.get(pid, 0)
        thresh = split_threshold(hotness, split_size, hot_window,
                                 hot_multiplier)
        if size >= thresh and size >= MIN_SPLIT_ROWS:
            split_parents.append(pid)
            child_of[pid] = next_pid
            next_pid += 1

    # ---- copy-on-write: link every non-split partition dir; dirs that
    # accumulated too many small append files are rewritten instead
    # (the small-file problem: every extra footer costs an open+read on
    # every future scan AND inflates file-index re-listing after DML).
    # Small files come from driver-held micro-batch appends (insert(),
    # the streamed codes sidecar): one file per micro-batch per touched
    # partition, so a dir crosses COMPACT_FILE_THRESHOLD after that
    # many appends land in it between rewrites
    compact_pids: list[int] = []
    for pid in idx.part_ids:
        pid = int(pid)
        if pid in split_parents:
            continue
        src = os.path.join(old_corpus, f"partition_id={pid}")
        if os.path.isdir(src):
            n_files = sum(1 for f in os.listdir(src)
                          if f.endswith(".parquet"))
            if n_files > COMPACT_FILE_THRESHOLD:
                compact_pids.append(pid)
            else:
                _link_partition_dir(
                    src, os.path.join(new_corpus, f"partition_id={pid}"))
    # ---- rewrite pass: compacted partitions (plain pruned read) and
    # split partitions (per-partition 2-means via applyInPandas) are
    # UNIONED into ONE write job (round 6): the n40k replay runs
    # maintenance every batch, and two separate write jobs per maintain
    # paid double scheduling overhead. No repartition on the compact
    # side either — the scan packs the accumulated small files into a
    # few tasks (files.maxPartitionBytes/openCost), so the write
    # already collapses each partition dir to ~tasks-that-touch-it
    # files; COMPACT_FILE_THRESHOLD re-triggers if a dir creeps up
    # again. (A repartition("partition_id") shuffle bought one file
    # per partition but cost more than the extra footers it saved; a
    # coalesce(1) serialized the split kernels — both measured slower
    # on the n40k replay.)
    to_write = []
    if compact_pids:
        # pruned read of the old layout (tombstones drop out physically
        # — sizes/centroids were already downdated at delete time)
        to_write.append(
            idx.read_corpus(partition_ids=compact_pids)
            .select(idx.id_col, idx.vec_col, "partition_id"))
    if split_parents:
        df = idx.read_corpus(partition_ids=split_parents)  # compacts tombstones
        bc = spark.sparkContext.broadcast(child_of)
        vec_col, id_col = idx.vec_col, idx.id_col

        def split_group(key, pdf):
            pid = int(key[0])
            children = bc.value
            # Sort by id before the seeded init: applyInPandas delivers
            # rows in whatever order the shuffle produced, and
            # local_kmeans' seeded init picks row INDICES — without a
            # stable order the same seed picks different init points
            # run-to-run (SURVEY §4 promises split determinism at seed
            # 17+pid; mirrors the id-sort the build path does before
            # its seeded k-means).
            pdf = pdf.sort_values(id_col).reset_index(drop=True)
            vecs = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            if len(pdf) >= 2:
                _, assign = local_kmeans(vecs, 2, SPLIT_KMEANS_ITERS,
                                         seed=SPLIT_SEED_BASE + pid)
            else:
                assign = np.zeros(len(pdf), dtype=np.int64)
            if (assign == 0).all() or (assign == 1).all():
                new_pid = np.full(len(pdf), pid)      # degenerate: no split
            else:
                new_pid = np.where(assign == 0, pid, children[pid])
            out = pdf[[id_col, vec_col]].copy()
            out["partition_id"] = new_pid
            return out

        to_write.append(
            df.groupBy("partition_id")
            .applyInPandas(split_group,
                           f"{id_col} long, {vec_col} array<float>, "
                           "partition_id long")
            .select(id_col, vec_col, "partition_id"))
    if to_write:
        out_df = to_write[0]
        for extra in to_write[1:]:
            out_df = out_df.unionAll(extra)
        (out_df.write.mode("append").partitionBy("partition_id")
         .parquet(new_corpus))

    # ---- adopt the new layout, refresh metadata for affected partitions
    idx.version = new_version
    idx.invalidate_corpus()
    if split_parents:
        # rewritten partitions are compacted: their tombstones are gone
        affected = set(split_parents) | set(child_of.values())
        _refresh_partitions(idx, affected,
                            parent_of={c: p for p, c in child_of.items()})
        live = set(int(x) for x in idx.part_ids)
        for pid in split_parents:
            child = child_of[pid]
            if child not in live:
                continue  # degenerate 2-means → no split happened (c1:179)
            for p in (pid, child):
                idx.hits[p] = 0                           # fresh BasePartition
                idx.last_split_at[p] = idx.query_counter  # c1:187-188

    # ---- merge pass (JS-mirror pair-once greedy, driver-side — the
    # tiny set is metadata-scale by definition)
    tiny_pos = [i for i, s in enumerate(idx.sizes) if s <= merge_size]
    used: set[int] = set()
    merges: list[tuple[int, int]] = []
    for i in tiny_pos:
        if i in used:
            continue
        best_j, best_d = None, np.inf
        for j in tiny_pos:
            if j == i or j in used:
                continue
            d = float(((idx.centroids[i] - idx.centroids[j]) ** 2).sum())
            if d < best_d:
                best_d, best_j = d, j
        if best_j is None:
            continue
        used.add(i)
        used.add(best_j)
        merges.append((int(idx.part_ids[i]), int(idx.part_ids[best_j])))
        ni, nj = int(idx.sizes[i]), int(idx.sizes[best_j])
        if ni + nj > 0:
            idx.centroids[i] = (idx.centroids[i] * ni
                                + idx.centroids[best_j] * nj) / (ni + nj)
        idx.sizes[i] = ni + nj
        idx.sizes[best_j] = 0   # emptied, entry kept (c1:209-210)

    for keep_pid, gone_pid in merges:
        src = os.path.join(new_corpus, f"partition_id={gone_pid}")
        dst = os.path.join(new_corpus, f"partition_id={keep_pid}")
        if os.path.isdir(src):
            os.makedirs(dst, exist_ok=True)
            for f_ in os.listdir(src):
                # move only visible data files; drop hidden bookkeeping
                # (.crc checksums etc. — stale after the rename anyway)
                if f_.endswith(".parquet") and not f_.startswith((".", "_")):
                    # distinct prefix avoids collisions with the
                    # keeper's own files
                    os.link(os.path.join(src, f_),
                            os.path.join(dst, f"m{gone_pid}-{f_}"))
                os.unlink(os.path.join(src, f_))
            os.rmdir(src)
    if merges:
        # the moves above changed the file set AFTER _refresh_partitions
        # re-cached the corpus relation — drop it again
        idx.invalidate_corpus()

    idx.save_meta()
    # eager metadata refresh for the new version (listing cost belongs
    # to maintenance, not the next query)
    idx.read_corpus()
    # secondary structures follow the version: if the previous version
    # carried a PQ codes sidecar, re-encode it against the new layout
    # (codebooks unchanged — they model the data, not the partitioning)
    from quake_vector_search_spark.operators.quantization import (
        _load_sidecar,
        load_ood_stats,
        refresh_pq_sidecar,
    )
    # streamed-OOD drift trigger (round 11, VERDICT r10 #3): read the
    # PREVIOUS version's cumulative fallback counter — the appends it
    # counts went against the books the refresh would carry forward —
    # and retrain instead when the rate crossed the knob (the
    # sidecar's persisted one unless the caller passed it; read only
    # when there is a rate to judge)
    prev_dir = os.path.join(idx.workdir, f"v{new_version - 1:04d}")
    ood_rate = None
    stats = load_ood_stats(prev_dir)
    if stats["n"] > 0:
        ood_rate = stats["ood"] / stats["n"]
    knob = ood_rebuild_rate
    rate_ready = ood_rate is not None and stats["n"] >= ood_rebuild_min_n
    if knob is None and rate_ready:
        knob = (_load_sidecar(prev_dir, pids=())[0] or {}).get(
            "ood_rebuild_rate")
    force_retrain = (rate_ready and knob is not None
                     and ood_rate > float(knob))
    pq_refreshed = refresh_pq_sidecar(idx, force_retrain=force_retrain)
    # an EMPTY dict means "recalibrate with default calibrate()
    # kwargs", not "skip" — a bare truthiness test silently treated
    # recalibrate={} as False (ADVICE r7)
    if recalibrate or isinstance(recalibrate, dict):
        # persists its own meta for the new version; dict → kwargs
        # (e.g. route_cells for routed deployments)
        idx.calibrate(**(recalibrate
                         if isinstance(recalibrate, dict) else {}))
    return {"splits": [(p, child_of[p]) for p in split_parents],
            "merges": merges, "version": new_version,
            "pq_refreshed": pq_refreshed,
            "ood_rate": ood_rate,
            "pq_retrained": bool(force_retrain and pq_refreshed)}


def _refresh_partitions(idx: IVFIndex, pids: set[int],
                        parent_of: dict[int, int] | None = None) -> None:
    """Exact size+centroid recompute for a subset of partitions (used
    after splits — reads only those directories). New child partitions
    inherit their parent's coarse cell via ``parent_of``."""
    parent_of = parent_of or {}
    df = idx.read_corpus(partition_ids=sorted(pids))
    vec_col = idx.vec_col

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for pid, grp in pdf.groupby("partition_id"):
                vecs = np.vstack(grp[vec_col].to_numpy()).astype(np.float64)
                yield pd.DataFrame({"partition_id": [int(pid)],
                                    "cnt": [len(grp)],
                                    "sums": [vecs.sum(axis=0)]})

    rows = (df.select("partition_id", vec_col)
            .mapInPandas(partials,
                         "partition_id long, cnt long, sums array<double>")
            .collect())
    d = idx.centroids.shape[1]
    sums: dict[int, np.ndarray] = {}
    counts: dict[int, int] = {}
    for r in sorted(rows, key=lambda r: (r["partition_id"], r["cnt"],
                                         tuple(r["sums"]))):
        pid = r["partition_id"]
        sums[pid] = sums.get(pid, np.zeros(d)) + np.asarray(r["sums"])
        counts[pid] = counts.get(pid, 0) + r["cnt"]

    pos_of = {int(p): i for i, p in enumerate(idx.part_ids)}
    for pid in sorted(pids):
        if pid in counts:
            if pid in pos_of:
                pos = pos_of[pid]
                idx.centroids[pos] = sums[pid] / counts[pid]
                idx.sizes[pos] = counts[pid]
            else:  # new child partition: inherits parent's coarse cell
                parent_pos = pos_of.get(parent_of.get(pid, -1))
                idx.part_ids = np.append(idx.part_ids, pid)
                coarse = (idx.part_coarse[parent_pos]
                          if parent_pos is not None else 0)
                idx.part_coarse = np.append(idx.part_coarse, coarse)
                idx.centroids = np.vstack([idx.centroids,
                                           sums[pid] / counts[pid]])
                idx.sizes = np.append(idx.sizes, counts[pid])
                idx.hits.setdefault(pid, 0)
                idx.last_split_at.setdefault(pid, 0)
        elif pid in pos_of:  # degenerate split: child never materialized
            pos = pos_of[pid]
            idx.sizes[pos] = 0


def compact(idx: IVFIndex) -> dict:
    """Full compaction: rewrite every partition with tombstones applied,
    clear the tombstone set, publish a new version. The heavyweight
    cousin of maintain() — run when the tombstone set grows past the
    broadcast-filter sweet spot."""
    new_version = idx.version + 1
    new_corpus = os.path.join(idx.workdir, f"v{new_version:04d}", "corpus")
    (idx.read_corpus()
     .write.mode("overwrite").partitionBy("partition_id")
     .parquet(new_corpus))
    idx.version = new_version
    idx.invalidate_corpus()
    idx.tombstones = set()
    idx.recompute_centroids()
    idx.save_meta()
    idx.read_corpus()
    from quake_vector_search_spark.operators.quantization import (
        refresh_pq_sidecar,
    )
    pq_refreshed = refresh_pq_sidecar(idx)
    return {"version": new_version, "pq_refreshed": pq_refreshed}
