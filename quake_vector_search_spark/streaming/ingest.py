"""Streaming ingest into the IVF index (SURVEY.md §3.3 / §7.6).

The reference interleaves point inserts/deletes with queries in a
single-threaded loop (run_demo cadence, ipynb c2:71-81). The streaming
re-expression: a micro-batch stream of (vec_id, embedding) rows driven
through ``foreachBatch``, each batch routed with the same nearest-
coarse→nearest-base policy via IVFIndex.insert — exactly-once per epoch
because foreachBatch sees each micro-batch exactly once under the
default checkpointing contract.

When the index version carries a PQ codes sidecar (built by
``quantization.build_pq_sidecar``), each micro-batch's vectors are also
encoded with the version's codebooks and appended to the sidecar with
the same partition_id alignment — so the IVF+PQ hybrid search path
(``knn_ivf_pq``) sees streamed-in vectors without a full re-encode.
The encode is driver-side NumPy: a micro-batch is a few hundred rows,
for which one in-process kernel call beats a Spark job; the bulk path
(initial sidecar build, maintenance re-encode) stays distributed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from quake_vector_search_spark.operators.ivf import (
    IVFIndex,
    append_partitioned,
)
from quake_vector_search_spark.windowing import (
    _clear_window_marker,
    _delete_journal_dir,
    _final_delete_ids,
    _journal_dir,
    _other_handle_window_in_process,
    _refuse_if_foreign_window,
    _register_open_window,
    _replay_delete_journal,
    _unregister_open_window,
    _window_lock,
    _window_marker_path,
    _window_open_fence,
    _write_window_marker,
)


def _load_books_cache(index: IVFIndex, books_cache: dict) -> bool:
    """Load (or refresh) the CURRENT version's sidecar params into
    ``books_cache`` — False when the version has no sidecar. Codebooks
    are cached per version dir: maintenance bumps the version (and
    re-encodes the sidecar itself), after which the next batch picks up
    the new version's codebooks. The cache is keyed on the sidecar's
    staleness tag (files' mtime and size, md5 of the params head and
    of the meta — see ``_sidecar_tag``), so a same-flavor rebuild into
    the same version dir (bench does plain→residual→LOPQ in one dir)
    invalidates a live stream's cached books too (ADVICE r7/r8).
    Shared by the driver micro-batch appender and the distributed
    backfill appender."""
    from quake_vector_search_spark.operators.quantization import (
        _load_sidecar,
        _sidecar_tag,
        load_local_book_pids,
    )

    tag = _sidecar_tag(index.version_dir)
    if tag is None:
        return False
    if books_cache.get("path") != tag:
        # per-cell state loads lazily: the snapshot on the first
        # residual batch (_ensure_residual_snapshot), local books per
        # touched cell (_ensure_local_books; round 11 — book_pids, a
        # books-free pid-set read, answers never-seen detection). A
        # rotated (OPQ) sidecar's streamed vectors are projected like
        # the queries; full-LOPQ rotations are per-cell and ride with
        # the books.
        meta, art = _load_sidecar(index.version_dir, pids=())
        local = bool(meta.get("local"))
        books_cache.update(
            path=tag, meta=meta, residual=bool(meta["residual"]),
            local=local, sq8=bool(meta.get("sq8")),
            sq8_params=art.get("sq8"),
            books={} if local else art.get("books"),
            rotation=art.get("rotation"),
            local_rots={} if local and meta.get("rotate") else None)
        if local:
            books_cache["book_pids"] = load_local_book_pids(
                index.version_dir)
        # version changed → the residual snapshot belongs to the OLD
        # version dir; drop it so the residual branch reloads (and
        # extends) the new version's snapshot
        books_cache.pop("snapshot", None)
    return True


def _ensure_residual_snapshot(index: IVFIndex, pids: np.ndarray,
                              books_cache: dict) -> dict:
    """IVFADC sidecar: codes quantize x − c_p — c_p comes from the
    sidecar's ENCODE-TIME snapshot (the LUT side reads the same
    snapshot); partitions born after the snapshot get their current
    centroid ADDED to it so encode and LUT stay consistent. Driver-side
    by design: index metadata plus a tiny npz write."""
    from quake_vector_search_spark.operators.quantization import (
        load_residual_snapshot, save_residual_snapshot,
    )
    snap = books_cache.get("snapshot")
    if snap is None:
        snap = load_residual_snapshot(index.version_dir)
        books_cache["snapshot"] = snap
    pos_of = {int(p): i for i, p in enumerate(index.part_ids)}
    new_pids = {int(p) for p in pids} - set(snap)
    if new_pids:
        for p in new_pids:
            snap[p] = index.centroids[pos_of[p]].copy()
        save_residual_snapshot(index.version_dir, snap)
    return snap


def _encode_with_books(vecs: np.ndarray, pids: np.ndarray,
                       books_cache: dict,
                       snap: dict | None,
                       stats: dict | None = None) -> np.ndarray:
    """Pure NumPy encode for GLOBAL-state sidecar flavors (plain /
    rotated / residual / sq8 / anisotropic) — shared bit-for-bit by the
    driver micro-batch appender and the distributed mapInPandas
    appender, so streamed codes are identical whichever path routed the
    batch. ``snap`` must already hold every pid in ``pids`` (callers
    run ``_ensure_residual_snapshot`` first). LOPQ (per-cell books)
    has its own shared kernel pair — ``_train_local_cell`` /
    ``_encode_local_cells`` — used by both paths the same way.

    Anisotropic sidecars: streamed codes come from the same score-aware
    coordinate-descent assignment the batch encoder used, via the
    GUARDED encoder (``aniso_encode_streamed`` — an out-of-distribution
    vector whose score-aware code explains <5% of its residual energy
    falls back to the plain MSE-optimal code so it stays
    ADC-reachable). Under the residual composition codes quantize
    r = x − c_p with the score-parallel direction being the ORIGINAL
    unit vector; a rotated sidecar transports BOTH through the
    rotation — the direction must be x̂ @ Rᵀ, NOT a normalization of
    the rotated (mean-shifted) encode vector."""
    from quake_vector_search_spark.operators.quantization import (
        pq_encode_local,
    )
    enc_vecs = np.asarray(vecs, dtype=np.float64)
    if books_cache.get("residual"):
        C = np.stack([snap[int(p)] for p in pids])
        enc_vecs = enc_vecs - C
    rot = books_cache.get("rotation")
    if rot is not None:
        enc_vecs = (enc_vecs - rot["mean"]) @ rot["components"].T
    if books_cache.get("sq8"):
        # scalar-quantizer sidecar: per-dim bounds, no books; the
        # residual subtraction above already used the snapshot
        from quake_vector_search_spark.operators.quantization import (
            sq8_encode_local,
        )

        p = books_cache["sq8_params"]
        return sq8_encode_local(enc_vecs, p["vmin"], p["scale"],
                                int(p["levels"]))
    if books_cache["meta"].get("anisotropic") is not None:
        from quake_vector_search_spark.operators.quantization import (
            aniso_encode_streamed,
        )
        dirs = None
        if books_cache.get("residual") or rot is not None:
            orig = np.asarray(vecs, dtype=np.float64)
            dirs = orig / np.maximum(
                np.linalg.norm(orig, axis=1, keepdims=True), 1e-12)
            if rot is not None:
                dirs = dirs @ rot["components"].T
        return aniso_encode_streamed(
            enc_vecs, books_cache["books"],
            float(books_cache["meta"]["anisotropic"]), dirs=dirs,
            min_explained=float(books_cache["meta"].get(
                "ood_min_explained", 0.05)),
            stats=stats)
    return pq_encode_local(enc_vecs, books_cache["books"])


def _ensure_local_books(index: IVFIndex, books_cache: dict,
                        pids) -> None:
    """Materialize the given cells' books (and rotations) into the
    lazy local-books cache — only cells the sidecar HAS books for are
    loaded (the rest are the appender's never-seen set). Batch-pid-
    proportional: a micro-batch touching 3 of 10⁶ cells reads 3
    cells' books (parquet filter / npz keys), not the index's."""
    from quake_vector_search_spark.operators.quantization import (
        _load_books_table, load_local_books, load_local_rots,
    )

    have = set(books_cache["books"])
    need = ({int(p) for p in pids} & books_cache["book_pids"]) - have
    if not need:
        return
    # table format: ONE filtered scan yields both books and rotations
    # (ADVICE r11 — load_local_books + load_local_rots would each
    # re-scan every file); npz stays two lazy per-key reads
    tbl = _load_books_table(index.version_dir, pids=need)
    if tbl is not None:
        books_cache["books"].update(tbl[0])
        if books_cache.get("local_rots") is not None and tbl[1]:
            books_cache["local_rots"].update(tbl[1])
        return
    loaded = load_local_books(index.version_dir, pids=need) or {}
    books_cache["books"].update(loaded)
    if books_cache.get("local_rots") is not None:
        rots = load_local_rots(index.version_dir, pids=need) or {}
        books_cache["local_rots"].update(rots)


def _assert_cells_uncoded(index: IVFIndex, pids) -> None:
    """Books/codes invariant of the local-sidecar appenders (VERDICT
    r11 #2): a cell absent from the books pid-set must also hold NO
    persisted codes. No supported flow produces "codes but no books"
    — books and codes are written together at build time, and the
    appenders extend both together for born cells — so finding codes
    here means the sidecar store was corrupted (e.g. books dropped by
    hand). Training fresh books for such a cell from a small batch is
    WORSE than failing: the new ksub is capped by the batch size, the
    old codes index codewords beyond it, and the ADC gather
    IndexErrors at query time — far from the cause. Fail loudly at
    append time instead. O(cells-to-check) directory stats against
    the partitioned codes layout; no data is read."""
    import os

    base = os.path.join(index.version_dir, "pq")
    bad = []
    for p in pids:
        d = os.path.join(base, f"partition_id={int(p)}")
        if os.path.isdir(d) and any(f.endswith(".parquet")
                                    for f in os.listdir(d)):
            bad.append(int(p))
    if bad:
        raise ValueError(
            f"cells {bad[:8]} have persisted PQ codes but no books: "
            "the sidecar store is inconsistent (books and codes are "
            "always written together). Retraining these cells' books "
            "from a batch would strand the old codes beyond the new "
            "ksub and crash the ADC gather at query time — rebuild "
            "the sidecar from the corpus (refresh_pq_sidecar / "
            "build_pq_sidecar) instead")


def _train_local_cell(ids: np.ndarray, Xres: np.ndarray,
                      cent: np.ndarray, meta: dict,
                      pid: int) -> tuple[np.ndarray, dict | None]:
    """Train ONE never-seen cell's books (and rotation, for flavors
    that carry per-cell rotations) from the batch's own residuals —
    the SHARED kernel of the driver micro-batch appender and the
    distributed backfill appender (round 11, VERDICT r10 #2), so
    streamed books are bit-identical whichever path handled the
    batch. Deterministic in the SET of (id, residual) rows: training
    order is sorted-by-id (a grouped-map task receives shuffle order;
    the driver receives batch order — neither is a contract), and
    batches beyond the build's ``cell_sample_n`` are capped with the
    builder's splitmix hash rule (``train_local_books``) so a
    backfill-scale cell trains on the same bounded sample the builder
    would have drawn — never on an unbounded in-task matrix.

    Returns ``(books_p, rot_p)`` with ``rot_p`` None for unrotated
    flavors. Mirrors the per-cell branches of the builder
    (quantization.py ``train_local_books``): aniso × [rotate] via
    ``_aniso_train_local`` with direction normalize(r + c_p)
    [@ R_pᵀ], full-LOPQ via ``opq_refine_local``, plain per-chunk
    Lloyd's otherwise."""
    from quake_vector_search_spark.operators.kmeans import local_kmeans
    from quake_vector_search_spark.operators.quantization import (
        _cell_book_seed, opq_refine_local,
    )

    ids = np.asarray(ids, dtype=np.int64)
    Xres = np.asarray(Xres, dtype=np.float64)
    seed = int(meta.get("seed", 99))
    cap = int(meta.get("cell_sample_n", 20_000))
    if len(ids) > cap:
        u = ids.astype(np.uint64)
        h = ((u * np.uint64(0x9E3779B97F4A7C15) + np.uint64(seed))
             & np.uint64(0xFFFFFFFFFFFFFFFF))
        order = np.lexsort((ids, h))[:cap]
    else:
        order = np.argsort(ids)
    Xp = Xres[order]
    m = int(meta.get("m", 8))
    dsub = Xp.shape[1] // m
    ksub_p = min(int(meta.get("ksub", 256)), len(Xp))
    base = _cell_book_seed(seed, int(pid))
    aniso_eta = meta.get("anisotropic")
    rotated = bool(meta.get("rotate", False))
    rot_p: dict | None = None
    if aniso_eta is not None:
        # aniso × LOPQ (round 10): a partition born after the build
        # trains SCORE-AWARE books from the batch's own residuals
        # with the same direction rule as the builder
        # (normalize(r + c_p) from the snapshot); a ROTATED sidecar
        # first fits the cell's eigalloc rotation from the batch,
        # mirroring the build
        from quake_vector_search_spark.operators.quantization import (
            _aniso_train_local, _eigalloc_rotation,
            aniso_opq_refine_local,
        )
        orig = Xp + cent
        dirs_p = orig / np.maximum(
            np.linalg.norm(orig, axis=1, keepdims=True), 1e-12)
        opq_n = int(meta.get("opq_iters", 0))
        if rotated and opq_n >= 1:
            # per-cell score-aware iterative OPQ (round 13): a born
            # cell refines its rotation with the same alternation the
            # builder ran — meta's opq_iters keeps streamed and build
            # fits the same procedure
            model = aniso_opq_refine_local(
                Xp, dirs_p, m=m, ksub=ksub_p, eta=float(aniso_eta),
                opq_iters=opq_n, kmeans_iters=8, seed=base)
            books_p = model["books"]
            rot_p = {"mean": model["mean"],
                     "components": model["components"]}
        else:
            if rotated:
                mean_p, R_p = _eigalloc_rotation(Xp, m)
                Xp = (Xp - mean_p) @ R_p.T
                dirs_p = dirs_p @ R_p.T
                rot_p = {"mean": mean_p, "components": R_p}
            books_p = _aniso_train_local(
                Xp, dirs_p, m=m, ksub=ksub_p, eta=float(aniso_eta),
                kmeans_iters=8, seed=base)
    elif rotated:
        # full-LOPQ sidecar: a partition born after the build gets
        # its own rotation fitted from the batch's residuals,
        # mirroring the build-time per-cell fit
        model = opq_refine_local(
            Xp, m=m, ksub=ksub_p,
            opq_iters=int(meta.get("opq_iters", 1)),
            kmeans_iters=8, seed=base)
        books_p = model["books"]
        rot_p = {"mean": model["mean"],
                 "components": model["components"]}
    else:
        books_p = np.empty((m, ksub_p, dsub), dtype=np.float64)
        for j in range(m):
            books_p[j], _ = local_kmeans(
                Xp[:, j * dsub:(j + 1) * dsub], ksub_p, 8, base + j,
                final_assign=False)
    return books_p, rot_p


def _encode_local_cells(ids: np.ndarray, enc_vecs: np.ndarray,
                        pid_arr: np.ndarray,
                        books: dict, rots: dict | None, meta: dict,
                        snap: dict,
                        stats: dict | None = None) -> np.ndarray:
    """Encode residuals against each row's OWN partition's books —
    the STREAMED per-cell kernel shared bit-for-bit by the driver
    micro-batch appender and the distributed grouped appender
    (round 11). Per-cell twin of ``_encode_with_books``: anisotropic
    cells go through the GUARDED streamed encoder
    (``aniso_encode_streamed``, ``ood_min_explained`` contract);
    rotated cells transport both the residual and the direction
    through their cell's rotation.

    Each cell's rows are encoded as ONE matrix in sorted-by-id order:
    the aniso coordinate-descent kernel's BLAS calls are
    batch-shape-sensitive at the ulp level (a (10,d)@(d,d) product
    and a (1,d)@(d,d) product can differ in the last bit, flipping a
    codeword argmin), so bit-parity between the driver and
    distributed appenders requires both to feed the kernel identical
    per-cell matrices — which sorted-by-id over the full per-cell row
    set guarantees (the distributed path groups a cell's rows into
    one task for exactly this reason)."""
    from quake_vector_search_spark.operators.quantization import (
        pq_encode_local,
    )

    ids = np.asarray(ids, dtype=np.int64)
    m = int(meta.get("m", 8))
    aniso_eta = meta.get("anisotropic")
    codes = np.empty((len(enc_vecs), m), dtype=np.int64)
    for p in np.unique(pid_arr):
        mask = np.flatnonzero(pid_arr == p)
        mask = mask[np.argsort(ids[mask])]
        Xp = enc_vecs[mask]
        rot = rots.get(int(p)) if rots else None
        dirs_p = None
        if aniso_eta is not None:
            # direction from the UNROTATED residual — the cell's
            # rotation transports it below
            orig = Xp + snap[int(p)]
            dirs_p = orig / np.maximum(
                np.linalg.norm(orig, axis=1, keepdims=True), 1e-12)
        if rot is not None:
            Xp = (Xp - rot["mean"]) @ rot["components"].T
            if dirs_p is not None:
                dirs_p = dirs_p @ rot["components"].T
        if aniso_eta is not None:
            # streamed appends use the GUARDED score-aware encoder
            # (same OOD contract as the global aniso flavors)
            from quake_vector_search_spark.operators.quantization import (  # noqa: E501
                aniso_encode_streamed,
            )
            codes[mask] = aniso_encode_streamed(
                Xp, books[int(p)], float(aniso_eta), dirs=dirs_p,
                min_explained=float(meta.get("ood_min_explained",
                                             0.05)),
                stats=stats)
        else:
            codes[mask] = pq_encode_local(Xp, books[int(p)])
    return codes


def _append_pq_codes(index: IVFIndex, ids: np.ndarray,
                     vecs: np.ndarray, pids: np.ndarray,
                     books_cache: dict) -> bool:
    """Append PQ codes for freshly-inserted vectors to the sidecar of
    the index's CURRENT version (no-op → False when the version has no
    sidecar). Driver-side NumPy — right for streaming micro-batches;
    backfills route through ``_append_pq_codes_distributed``."""
    from quake_vector_search_spark.operators.quantization import (
        pq_encode_local,
    )

    if not _load_books_cache(index, books_cache):
        return False
    snap = (_ensure_residual_snapshot(index, pids, books_cache)
            if books_cache.get("residual") else None)
    ood_stats: dict = {}
    if books_cache.get("local"):
        # per-cell sidecar: residual-subtract here (the non-local
        # flavors subtract inside _encode_with_books — one place each)
        enc_vecs = np.asarray(vecs, dtype=np.float64)
        if snap is not None:
            enc_vecs = enc_vecs - np.stack(
                [snap[int(p)] for p in pids])
        # local (LOPQ) sidecar: each row encodes against ITS
        # partition's codebooks. A partition the sidecar has never
        # seen gets books trained right here from the batch's own
        # residuals (deterministic per-cell seed, persisted by
        # extending the npz) — so the books stay exhaustive over every
        # coded partition and the query-side LUTs, which reload the
        # npz per search, stay consistent with the codes. Training
        # and encoding run through the kernels SHARED with the
        # distributed appender (_train_local_cell /
        # _encode_local_cells), so codes and books are identical
        # whichever path handled the batch.
        from quake_vector_search_spark.operators.quantization import (
            save_local_books,
        )

        meta = books_cache.get("meta", {})
        pid_arr = np.asarray(pids, dtype=np.int64)
        ids_arr = np.asarray(ids, dtype=np.int64)
        batch_pids = {int(p) for p in pid_arr}
        # batch-pid-proportional load (round 11): materialize only
        # the cells THIS batch touches; never-seen detection uses the
        # books-free pid-set
        _ensure_local_books(index, books_cache, batch_pids)
        books = books_cache["books"]
        rots = books_cache.get("local_rots")
        missing = sorted(batch_pids - books_cache["book_pids"])
        if missing:
            # books/codes invariant (VERDICT r11 #2): "never-seen"
            # must mean never-coded too
            _assert_cells_uncoded(index, missing)
        for p in missing:
            mask = pid_arr == p
            cent = (snap[int(p)] if snap is not None
                    else np.zeros(enc_vecs.shape[1]))
            books_p, rot_p = _train_local_cell(
                ids_arr[mask], enc_vecs[mask], cent, meta, p)
            books[p] = books_p
            books_cache["book_pids"].add(int(p))
            if rot_p is not None:
                if rots is None:
                    rots = books_cache["local_rots"] = {}
                rots[p] = rot_p
        if missing:
            # table-format sidecars append ONLY the new cells (one
            # new parquet file); npz merges-and-rewrites the archive
            # (its documented limit — the reason the table format
            # exists)
            save_local_books(index.version_dir, books,
                             rots_by_pid=rots, new_pids=missing)
        codes = _encode_local_cells(ids_arr, enc_vecs, pid_arr, books,
                                    rots, meta, snap,
                                    stats=ood_stats)
    else:
        codes = _encode_with_books(vecs, pids, books_cache, snap,
                                   stats=ood_stats)
    # pyarrow Table from the flat code buffer, written by the driver
    # like the corpus rows insert() appended: one file per touched
    # partition, no Spark job
    import pyarrow as pa

    codes_arr = pa.FixedSizeListArray.from_arrays(
        pa.array(codes.astype(np.int32).ravel(), type=pa.int32()),
        codes.shape[1]).cast(pa.list_(pa.int32()))
    append_partitioned(os.path.join(index.version_dir, "pq"), pa.table({
        index.id_col: pa.array(ids.astype(np.int64), type=pa.int64()),
        "pq_codes": codes_arr,
    }), np.asarray(pids, dtype=np.int64))
    if ood_stats.get("n"):
        # persist the streamed-OOD drift signal (round 11, VERDICT
        # r10 #3) — maintain(ood_rebuild_rate=...) watches the rate
        from quake_vector_search_spark.operators.quantization import (
            bump_ood_stats,
        )
        bump_ood_stats(index.version_dir, ood_stats["n"],
                       ood_stats.get("ood", 0))
    return True


def _append_local_codes_distributed(index: IVFIndex, routed: DataFrame,
                                    books_cache: dict,
                                    pids_present: np.ndarray) -> str:
    """LOPQ arm of the distributed sidecar appender (round 11,
    VERDICT r10 #2). Three stages, none of which moves vectors to the
    driver:

    1. Never-seen cells' books (and rotations, for rotated flavors)
       train in a grouped-map pass over ONLY those cells' routed rows
       — the identical ``_train_local_cell`` kernel the driver
       appender runs (sorted-by-id order + the builder's splitmix
       sample cap make it deterministic in the row SET, so both paths
       produce bit-identical books). Only the codebooks return to the
       driver (metadata scale — the same boundedness class as the
       builder's ``train_local_books``), where they merge into the
       persisted npz.
    2. The encode pass broadcasts only the PRESENT cells' books,
       rotations and snapshot centroids — proportional to the batch's
       partition footprint, never the index's cell count.
    3. One mapInPandas encode through ``_encode_local_cells`` (the
       shared per-cell streamed kernel — guarded aniso encoder,
       per-cell rotation transport) and one partitioned append."""
    from pyspark.sql import functions as F

    meta = books_cache.get("meta", {})
    snap = (books_cache.get("snapshot")
            if books_cache.get("residual") else None)
    id_col, vec_col = index.id_col, index.vec_col
    present = sorted(int(p) for p in pids_present)
    # batch-footprint-proportional load (round 11): only the present
    # cells' books materialize; never-seen detection is books-free
    _ensure_local_books(index, books_cache, present)
    books = books_cache["books"]
    rots = books_cache.get("local_rots")
    missing = sorted(set(present) - books_cache["book_pids"])
    if missing:
        # books/codes invariant (VERDICT r11 #2): "never-seen" must
        # mean never-coded too — same guard as the driver appender
        _assert_cells_uncoded(index, missing)
        snap_missing = {p: (snap[p] if snap is not None
                            else np.zeros(len(index.centroids[0])))
                        for p in missing}
        bc_train = index.spark.sparkContext.broadcast(
            (snap_missing, meta))

        def fit_missing(key, pdf):
            pid = int(key[0])
            if not len(pdf):
                return pd.DataFrame({"partition_id": [], "ksub": [],
                                     "books": [], "rot_mean": [],
                                     "rot_comps": []})
            snap_m, meta_l = bc_train.value
            ids_p = pdf[id_col].to_numpy(dtype=np.int64)
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xres = V - snap_m[pid]
            books_p, rot_p = _train_local_cell(ids_p, Xres,
                                               snap_m[pid], meta_l,
                                               pid)
            return pd.DataFrame({
                "partition_id": [pid],
                "ksub": [int(books_p.shape[1])],
                "books": [books_p.ravel()],
                "rot_mean": [rot_p["mean"] if rot_p is not None
                             else np.zeros(0)],
                "rot_comps": [rot_p["components"].ravel()
                              if rot_p is not None else np.zeros(0)],
            })

        trained = (routed
                   .where(F.col("partition_id").isin(
                       [int(p) for p in missing]))
                   .select(id_col, "partition_id", vec_col)
                   .groupBy("partition_id")
                   .applyInPandas(fit_missing,
                                  "partition_id long, ksub int, "
                                  "books array<double>, "
                                  "rot_mean array<double>, "
                                  "rot_comps array<double>")
                   .collect())
        m = int(meta.get("m", 8))
        for r in trained:
            pid = int(r["partition_id"])
            flat = np.asarray(r["books"], dtype=np.float64)
            dsub = flat.size // (m * int(r["ksub"]))
            books[pid] = flat.reshape(m, int(r["ksub"]), dsub)
            books_cache["book_pids"].add(pid)
            mean = np.asarray(r["rot_mean"], dtype=np.float64)
            if mean.size:
                if rots is None:
                    rots = books_cache["local_rots"] = {}
                d = mean.size
                rots[pid] = {"mean": mean,
                             "components": np.asarray(
                                 r["rot_comps"],
                                 dtype=np.float64).reshape(d, d)}
        from quake_vector_search_spark.operators.quantization import (
            save_local_books,
        )
        # table format: append-only file of the new cells; npz: full
        # rewrite (the format's documented limit)
        save_local_books(index.version_dir, books, rots_by_pid=rots,
                         new_pids=missing)
    payload = (meta,
               {p: books[p] for p in present},
               ({p: rots[p] for p in present if p in rots}
                if rots else None),
               ({p: snap[p] for p in present}
                if snap is not None else None))
    bc = index.spark.sparkContext.broadcast(payload)
    is_aniso = meta.get("anisotropic") is not None
    # accumulators inside a transformation: APPROXIMATE under task
    # retry/speculation (documented in load_ood_stats, ADVICE r11 #2)
    # — the consumer is a coarse rate threshold, so over-count can
    # only hasten a retrain the drift already warranted
    acc_n = (index.spark.sparkContext.accumulator(0)
             if is_aniso else None)
    acc_ood = (index.spark.sparkContext.accumulator(0)
               if is_aniso else None)

    # grouped (one task per cell), NOT mapInPandas: the encode kernel
    # is batch-shape-sensitive at the ulp level, so bit-parity with
    # the driver appender needs each cell's rows encoded as one
    # sorted-by-id matrix — see _encode_local_cells
    def enc_group(key, pdf):
        meta_l, bks, rts, snp = bc.value
        if not len(pdf):
            return pd.DataFrame({id_col: [], "pq_codes": [],
                                 "partition_id": []})
        pid = int(key[0])
        ids_g = pdf[id_col].to_numpy(dtype=np.int64)
        V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        if snp is not None:
            V = V - snp[pid]
        p = np.full(len(V), pid, dtype=np.int64)
        st: dict | None = {} if acc_n is not None else None
        codes = _encode_local_cells(ids_g, V, p, bks, rts, meta_l,
                                    snp or {}, stats=st)
        if st is not None:
            acc_n.add(int(st.get("n", 0)))
            acc_ood.add(int(st.get("ood", 0)))
        return pd.DataFrame({
            id_col: ids_g,
            "pq_codes": list(codes.astype(np.int32)),
            "partition_id": p,
        })

    sdf = (routed.groupBy("partition_id")
           .applyInPandas(enc_group, f"{id_col} long, "
                                     "pq_codes array<int>, "
                                     "partition_id long"))
    (sdf.write.mode("append").partitionBy("partition_id")
     .parquet(os.path.join(index.version_dir, "pq")))
    if acc_n is not None and acc_n.value:
        from quake_vector_search_spark.operators.quantization import (
            bump_ood_stats,
        )
        bump_ood_stats(index.version_dir, acc_n.value, acc_ood.value)
    return "done"


def _append_pq_codes_distributed(index: IVFIndex, routed: DataFrame,
                                 books_cache: dict) -> str:
    """Distributed twin of ``_append_pq_codes`` (round 10, VERDICT r9
    #4): encode a BACKFILL-scale routed frame (id, float64 embedding,
    partition_id — ``IVFIndex.insert_distributed``'s return value) in
    one mapInPandas pass with the sidecar params broadcast, and append
    with one partitioned write. The per-row kernel is the SAME
    ``_encode_with_books`` the driver path runs, so codes are identical
    whichever path handled the batch. Returns "done" or "no_sidecar".

    LOPQ (per-cell) sidecars take their own distributed route
    (round 11, VERDICT r10 #2 — previously a driver-path fallback):
    never-seen cells' books are trained INSIDE a grouped-map pass over
    exactly those cells' routed rows (the same ``_train_local_cell``
    kernel the driver appender runs, deterministic per cell), merged
    into the npz with one metadata-scale collect — codebooks come
    back, vectors never do — and the encode pass broadcasts only the
    PRESENT cells' books/rotations/centroids, so the broadcast stays
    proportional to the batch's partition footprint, not the index
    size."""
    if not _load_books_cache(index, books_cache):
        return "no_sidecar"
    pids_present = None
    if books_cache.get("residual") or books_cache.get("local"):
        pids_present = np.array(
            [int(r[0]) for r in
             routed.select("partition_id").distinct().collect()],
            dtype=np.int64)
        _ensure_residual_snapshot(index, pids_present, books_cache)
    if books_cache.get("local"):
        return _append_local_codes_distributed(
            index, routed, books_cache, pids_present)
    payload = {k: books_cache.get(k)
               for k in ("meta", "books", "rotation", "sq8",
                         "sq8_params", "residual", "snapshot")}
    bc = index.spark.sparkContext.broadcast(payload)
    id_col, vec_col = index.id_col, index.vec_col
    is_aniso = (books_cache.get("meta") or {}).get(
        "anisotropic") is not None
    # accumulators inside a transformation: APPROXIMATE under task
    # retry/speculation (documented in load_ood_stats, ADVICE r11 #2)
    acc_n = (index.spark.sparkContext.accumulator(0)
             if is_aniso else None)
    acc_ood = (index.spark.sparkContext.accumulator(0)
               if is_aniso else None)

    def enc(batches):
        cache = bc.value
        snap = cache.get("snapshot")
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            p = pdf["partition_id"].to_numpy().astype(np.int64)
            st: dict | None = {} if acc_n is not None else None
            codes = _encode_with_books(V, p, cache, snap, stats=st)
            if st is not None:
                acc_n.add(int(st.get("n", 0)))
                acc_ood.add(int(st.get("ood", 0)))
            yield pd.DataFrame({
                id_col: pdf[id_col].astype("int64"),
                "pq_codes": list(codes.astype(np.int32)),
                "partition_id": p,
            })

    sdf = routed.mapInPandas(
        enc, f"{id_col} long, pq_codes array<int>, partition_id long")
    (sdf.write.mode("append").partitionBy("partition_id")
     .parquet(os.path.join(index.version_dir, "pq")))
    if acc_n is not None and acc_n.value:
        from quake_vector_search_spark.operators.quantization import (
            bump_ood_stats,
        )
        bump_ood_stats(index.version_dir, acc_n.value, acc_ood.value)
    return "done"


def _replay_ingest_journal(index: IVFIndex, books_cache: dict,
                           encode_pq: bool,
                           summary: dict | None = None,
                           distributed_threshold: int | None = None
                           ) -> dict:
    """Reconcile the ingest journal against the index's CURRENT
    version after an async maintain() published (or after a crash —
    the attach-time path, ``summary=None``). Three steps, none of
    which moves journaled VECTORS to the driver unless the missing
    set is micro-batch-sized:

    1. PRESENCE check: journaled ids are semi-joined against the new
       version's corpus, pruned to the candidate partitions each row
       could have landed in (its source pid, plus that pid's split
       child / merge keeper from the maintain summary). Rows whose
       files were linked/rewritten into the new version before the
       append landed are "present"; the rest are "missing".
    2. Present rows OUTSIDE split-recounted partitions get their
       (count, Σvec) added to the adopted size/centroid bookkeeping
       (split parents/children were exactly recounted from the new
       version's files by ``_refresh_partitions``, so adding them
       again would double-count); the aggregate is map-side partials
       + one metadata-scale collect, like ``insert_distributed``.
    3. Missing rows' vectors are re-read from the SOURCE version's
       corpus (pruned to the journaled pids) and re-inserted through
       the normal paths — ``insert_distributed`` + the distributed
       sidecar appender at/above ``distributed_threshold``, the
       driver micro-batch path below it — so bookkeeping, corpus
       files and PQ codes all land exactly once in the new version.

    Returns {"present": n, "replayed": n}. The journal dir is
    removed on success — it exists only between a window's first
    batch and its swap (or the recovery re-attach)."""
    import shutil

    from pyspark.sql import functions as F

    jdir = _journal_dir(index)
    if not os.path.isdir(jdir) or not os.listdir(jdir):
        return {"present": 0, "replayed": 0}
    spark = index.spark
    id_col, vec_col = index.id_col, index.vec_col
    jdf = spark.read.parquet(jdir)
    # one metadata job for everything the reconciliation plans with:
    # the journaled pid set, the source versions, and the distinct-id
    # total (the all-present fast path below compares against it)
    jmeta = jdf.agg(
        F.collect_set("partition_id"),
        F.collect_set("src_version"),
        F.countDistinct(id_col)).first()
    j_pids = sorted(int(p) for p in jmeta[0])
    src_versions = sorted(int(v) for v in jmeta[1])
    n_journal = int(jmeta[2])
    # candidate partitions in the NEW layout per journaled source pid
    if summary is not None:
        child_of = {int(p): int(c) for p, c in summary.get("splits",
                                                           [])}
        keeper_of = {int(g): int(k) for k, g in summary.get("merges",
                                                            [])}
        # transitive closure over split→child and gone→keeper
        # (round 15, ADVICE r14 medium): one maintain pass can CHAIN
        # the maps — a freshly-split child can be merged away in the
        # same pass (p → child_of[p] → keeper_of[child]), and a split
        # parent's remainder can itself be merged (p → keeper_of[p]).
        # One-hop pruning misclassified rows in a chained keeper as
        # missing and re-inserted them — a duplicate. The maps are
        # acyclic within a pass (merge pairs each partition at most
        # once), so the walk terminates in ≤2 hops today; the closure
        # is future-proof against deeper passes.
        cands: set[int] = set()
        for p in j_pids:
            frontier = {p}
            while frontier:
                q_ = frontier.pop()
                if q_ in cands and q_ != p:
                    continue
                cands.add(q_)
                for m in (child_of, keeper_of):
                    t = m.get(q_)
                    if t is not None and t not in cands:
                        frontier.add(t)
        new_read = index.read_corpus(partition_ids=sorted(cands))
        split_affected = (set(child_of) | set(child_of.values()))
    else:
        # crash-recovery path: no summary survives a restart — fall
        # back to the unpruned presence check (journal windows are
        # one cadence interval of ingest; correctness over pruning
        # on this rare path) and skip the bookkeeping add: after a
        # crash there is no record of which present rows the loaded
        # meta already counts, and guessing risks double-counting.
        # Row presence and codes are restored exactly; size/centroid
        # exactness keeps the engine's existing crash contract
        # (recompute_centroids is the repair tool)
        new_read = index.read_corpus()
        split_affected = None
    j_ids = jdf.select(id_col).distinct()
    if summary is not None:
        # provenance column (round 15): a row that reached its
        # current directory via THIS pass's merge file-move carries
        # the mover's ``m{gone_pid}-`` basename prefix — that gone
        # pid, not the directory pid, decides whether the row was
        # already counted by a split recount. Without it, a window
        # row that rode a split rewrite (exactly recounted into the
        # child) and was then merged into a keeper would be added
        # AGAIN onto the keeper's arithmetic size — a double-count
        # the one-hop skip set couldn't see. Journaled window rows
        # only ever live in files written (or moved) this window, so
        # an m-prefix on a present row is always this pass's move.
        present = (new_read.select(id_col, vec_col, "partition_id")
                   .withColumn("_jsrc", F.input_file_name())
                   .join(F.broadcast(j_ids), id_col, "leftsemi"))
        # ONE pass over the present rows yields both the total (the
        # all-present fast path below) and the per-(pid, recounted)
        # (count, Σvec) partials; recounted groups are skipped at
        # APPLY time, driver-side — no second count job
        import re as _re

        split_arr = np.array(sorted(int(x) for x in split_affected),
                             dtype=np.int64)
        mover = _re.compile(r"^m(\d+)-")

        def partials(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                V = np.vstack(pdf[vec_col].to_numpy()).astype(
                    np.float64)
                p = pdf["partition_id"].to_numpy()
                eff = p.copy()
                for i, src in enumerate(pdf["_jsrc"]):
                    hit = mover.match(os.path.basename(str(src)))
                    if hit:
                        eff[i] = int(hit.group(1))
                recounted = np.isin(eff, split_arr)
                for u in np.unique(p):
                    for flag in (False, True):
                        msk = (p == u) & (recounted == flag)
                        if not msk.any():
                            continue
                        yield pd.DataFrame({
                            "partition_id": [int(u)],
                            "recounted": [bool(flag)],
                            "n": [int(msk.sum())],
                            "vsum": [V[msk].sum(axis=0)]})

        agg = (present.mapInPandas(
            partials, "partition_id long, recounted boolean, "
                      "n long, vsum array<double>")
            .collect())
        pos_of = {int(p): i for i, p in enumerate(index.part_ids)}
        sums: dict[int, np.ndarray] = {}
        cnts: dict[int, int] = {}
        n_present = 0
        for r in sorted(agg, key=lambda r: (r["partition_id"],
                                            bool(r["recounted"]),
                                            r["n"],
                                            tuple(r["vsum"]))):
            n_present += int(r["n"])
            if r["recounted"]:
                continue   # exactly recounted by _refresh_partitions
            pid = int(r["partition_id"])
            sums[pid] = (sums.get(pid, 0.0)
                         + np.asarray(r["vsum"], dtype=np.float64))
            cnts[pid] = cnts.get(pid, 0) + int(r["n"])
        for pid, cnt in cnts.items():
            pos = pos_of.get(pid)
            if pos is None:
                continue
            n_old = int(index.sizes[pos])
            index.centroids[pos] = (
                index.centroids[pos] * n_old + sums[pid]
            ) / (n_old + cnt)
            index.sizes[pos] += cnt
    else:
        present = (new_read.select(id_col, vec_col, "partition_id")
                   .join(F.broadcast(j_ids), id_col, "leftsemi"))
        n_present = present.count()
    if n_present >= n_journal:
        # every journaled row made the published version (the common
        # swap: all window appends landed before the link pass) —
        # skip the missing probe and the source-corpus scan entirely
        index.save_meta()
        shutil.rmtree(jdir, ignore_errors=True)
        return {"present": int(n_present), "replayed": 0}
    missing_ids = j_ids.join(present.select(id_col), id_col,
                             "left_anti")
    pid_sql = ",".join(str(p) for p in j_pids)
    src_rows = None
    for v in src_versions:
        src_path = os.path.join(index.workdir, f"v{v:04d}", "corpus")
        part = (spark.read.parquet(src_path)
                .where(F.expr(f"partition_id IN ({pid_sql})"))
                .select(id_col, vec_col))
        src_rows = part if src_rows is None else src_rows.unionAll(
            part)
    todo = src_rows.join(F.broadcast(missing_ids), id_col, "leftsemi")
    thr = (distributed_threshold
           if distributed_threshold is not None
           else AUTO_INGEST_DISTRIBUTED_ROWS)
    n_probe = todo.limit(thr).count()
    if n_probe >= thr:
        n_missing = todo.count()
        routed = index.insert_distributed(todo, unpersist=False)
        try:
            if encode_pq:
                _append_pq_codes_distributed(index, routed,
                                             books_cache)
        finally:
            routed.routing_cache.unpersist()
    elif n_probe:
        rows = todo.collect()
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        vecs = np.array([np.asarray(r[1], dtype=np.float64)
                         for r in rows])
        pids = index.insert(ids, vecs)
        if encode_pq:
            if index.metric == "cosine":
                vecs = vecs / (np.linalg.norm(vecs, axis=1,
                                              keepdims=True) + 1e-12)
            _append_pq_codes(index, ids, vecs, pids, books_cache)
        n_missing = len(ids)
    else:
        n_missing = 0
    index.save_meta()
    shutil.rmtree(jdir, ignore_errors=True)
    return {"present": int(n_present), "replayed": int(n_missing)}


def _adopt_index_state(index: IVFIndex, published: IVFIndex,
                       hits_base: dict | None = None,
                       qc_base: int | None = None,
                       summary: dict | None = None) -> None:
    """Swap the background-maintained clone's state into the live
    handle — the atomic version publish seen from the ingest loop.
    Everything but the session handle moves over; the PQ books cache
    self-invalidates on its own (it keys on the version dir's sidecar
    files).

    ``hits_base`` / ``qc_base`` (round 15, ADVICE r14 low): searches
    served through the live handle DURING the window accrue
    hits/query_counter the clone never saw; overwriting wholesale
    silently reset split-hotness statistics at every swap. The deltas
    accrued since the window opened are carried onto the adopted
    state — except for partitions the maintain pass split (their hit
    counters were deliberately reset to zero for the fresh
    BasePartition, reference ipynb c1:187-188 — re-adding pre-split
    hits would partially undo the reset) and partitions it merged
    away (their window hits transfer to the keeper, where those
    queries would land post-merge)."""
    live_hits = dict(index.hits)
    live_qc = int(index.query_counter)
    for k, v in published.__dict__.items():
        if k in ("spark", "_window_txn_lock"):
            continue
        setattr(index, k, v)
    if qc_base is not None:
        index.query_counter += max(0, live_qc - int(qc_base))
    if hits_base is None:
        return
    child_of = {int(p): int(c)
                for p, c in (summary or {}).get("splits", [])}
    keeper_of = {int(g): int(k)
                 for k, g in (summary or {}).get("merges", [])}
    reset = set(child_of) | set(child_of.values())
    for pid, h in live_hits.items():
        delta = int(h) - int(hits_base.get(pid, 0))
        if delta <= 0:
            continue
        target = int(pid)
        while target in keeper_of:
            target = keeper_of[target]
        if target in reset or target not in index.hits:
            # split-reset counters stay reset; a pid the adopted
            # state never saw (created by a window insert) is
            # restored with zero hits by the journal replay
            continue
        index.hits[target] = int(index.hits.get(target, 0)) + delta


def _start_async_maintenance(index: IVFIndex,
                             maintain_kwargs: dict | None,
                             distributed_threshold: int | None,
                             encode_pq: bool = True) -> None:
    """Kick off one background maintenance cycle: persist the live
    bookkeeping (plain inserts never save_meta — the clone must see
    exact sizes/centroids), load a CLONE of the current version from
    disk, and run ``maintain(clone)`` on a worker thread. The live
    handle keeps ingesting into the current version; every window
    batch is journaled; ``finish_async_maintenance`` adopts the
    published version and reconciles the journal at the next batch
    boundary.

    The maintain thread pins its Spark jobs to the
    ``qvss-maintenance`` scheduler pool (round 15, VERDICT r14 #3):
    under the session default FIFO scheduler a multi-minute retrain
    stage occupies the executors and ingest micro-batches queue
    behind it — eroding exactly the stall win the async mode buys.
    With ``spark.scheduler.mode=FAIR`` set on the session (see
    SCALING.md — it must be set at session build time), the
    maintenance pool and the ingest batches' ``qvss-ingest`` pool
    (set per batch in ``handle_batch``) time-share the executors
    instead. Under FIFO the properties are inert — no behavior
    change for existing deployments."""
    import threading

    from quake_vector_search_spark.operators.ivf import (
        IVFIndex as _IVF,
    )

    # ONE critical section from the marker write to the window
    # registration: a delete slipping between the clone load and the
    # _async_maint flip would apply to the live handle without being
    # journaled — the swap would resurrect it. The marker goes down
    # FIRST (round 15 second review): cross-handle writers hold
    # DIFFERENT per-handle locks, so only the on-disk marker can
    # refuse them — written after the (seconds-long) clone load, a
    # foreign insert racing the open would pass the guard and land
    # rows the clone snapshot never sees.
    lock = _window_lock(index)
    th = None
    lock.acquire()
    try:
        if getattr(index, "_async_maint", None):
            # atomic re-check (round 15 second review): two threads
            # driving one handle can both see the pre-check clear;
            # without this, the second open would orphan the first
            # window's state and run two maintains on one workdir
            return
        # exclusive arm of the advisory write lock (round 16, ADVICE
        # r15): wait out any in-flight cross-handle write that passed
        # its marker check before this marker lands — its rows reach
        # disk before the clone load below, so the clone sees them;
        # writes starting after this block see the marker and refuse
        with _window_open_fence(index.workdir):
            # a FOREIGN marker standing here means another handle's
            # window is (or may be) open — overwriting it would run
            # two windows on one workdir, each journal-replaying the
            # other's writes (round 16 self-review; the stream attach
            # path clears crash leftovers BEFORE any window opens, so
            # a marker at this point is a live writer or an
            # unrecovered crash — both refuse; re-attach via
            # ingest_stream to recover)
            _refuse_if_foreign_window(index, "open a window")
            _write_window_marker(index)
        try:
            index.save_meta()
            clone = _IVF.load(index.spark, index.workdir,
                              version=index.version)
            st: dict = {"clone": clone, "summary": None,
                        "error": None,
                        "src_version": index.version,
                        "hits_base": dict(index.hits),
                        "qc_base": int(index.query_counter),
                        "encode_pq": bool(encode_pq),
                        "distributed_threshold": distributed_threshold}

            def run() -> None:
                try:
                    from quake_vector_search_spark.operators.maintenance import (  # noqa: E501
                        maintain,
                    )

                    index.spark.sparkContext.setLocalProperty(
                        "spark.scheduler.pool", "qvss-maintenance")
                    st["summary"] = maintain(
                        clone, **(maintain_kwargs or {}))
                except BaseException as exc:
                    # surfaced at the next boundary
                    st["error"] = exc

            # a PLAIN thread, deliberately NOT
            # pyspark.InheritableThread: under pinned-thread mode
            # (the pyspark 3.2+ default) a plain Python thread maps
            # to a FRESH JVM thread with no inherited local
            # properties — which is exactly right here. Inheriting
            # them (round-15 first attempt, caught by the
            # stream_async_maintenance registry row) carries the
            # streaming query's JOB GROUP into the maintain thread,
            # so q.stop() cancels the background maintain's
            # in-flight jobs mid-publish. The fresh thread also
            # scopes the pool property set in run() to the maintain
            # jobs alone.
            th = threading.Thread(target=run,
                                  name="qvss-async-maintain")
            st["thread"] = th
            index._async_maint = st
            _register_open_window(index)
        except BaseException:
            # failed open: no window exists — don't leave a marker
            # that would refuse every future write until a re-attach
            _clear_window_marker(index.workdir)
            th = None
            raise
    finally:
        lock.release()
    if th is not None:
        th.start()


def finish_async_maintenance(index: IVFIndex,
                             books_cache: dict | None = None,
                             encode_pq: bool = True,
                             wait: bool = True) -> dict | None:
    """Complete a pending async maintenance cycle on ``index``: join
    the background thread (when ``wait``), adopt the published
    version, replay the ingest journal. No-op (returns None) when no
    cycle is pending or (``wait=False``) the thread is still running.
    ``ingest_stream`` calls this at every batch boundary; callers
    that stop a stream mid-window call it directly to converge
    deterministically. Re-raises a background maintain() failure —
    the same failure surface the synchronous cadence has."""
    st = getattr(index, "_async_maint", None)
    if not st:
        return None
    th = st.get("thread")
    if th is not None and th.is_alive():
        if not wait:
            return None
        th.join()
    # the SWAP is one critical section against out-of-band deletes
    # (round 15 review finding): without it a delete racing the
    # boundary could mutate state after the adopt snapshot, or write
    # its journal entry after _final_delete_ids resolved and have it
    # rmtree'd unapplied — silent resurrection either way. The join
    # above stays OUTSIDE the lock so deletes keep journaling freely
    # for the whole (potentially minutes-long) background maintain.
    with _window_lock(index):
        cur = getattr(index, "_async_maint", None)
        if cur is not st:
            # the window WE joined was already swapped by a
            # concurrent finisher — and `cur`, if set, is a NEWER
            # window whose maintain may still be running (round 15
            # second review: adopting it here would copy a clone's
            # state mid-mutation and rmtree journals it still needs).
            # Our job — converging the joined window — is done.
            return None
        index._async_maint = None
        if st.get("error") is not None:
            # rows ingested (and deletes applied) during the failed
            # window are safe in the still-current, never-swapped
            # version; both journals are stale bookkeeping. The
            # journals go FIRST, the marker LAST (round 16 second
            # review #4): cleared the other way round, a foreign
            # window opening in the gap could have its freshly
            # journaled writes rmtree'd by these lines.
            import shutil

            _unregister_open_window(index)
            shutil.rmtree(_journal_dir(index), ignore_errors=True)
            shutil.rmtree(_delete_journal_dir(index),
                          ignore_errors=True)
            _clear_window_marker(index.workdir)
            raise st["error"]
        # the marker AND the in-process registry row STAY UP through
        # the journal replays (round 16 review #1 + second review
        # #1): the replays run Spark jobs for seconds-minutes, and
        # with either cleared a second handle — cross-process via the
        # marker, same-process via the registry/pid-probe — could
        # open or attach mid-replay and double-replay the journals
        # this swap is consuming. ``_window_closing`` lets THIS
        # handle's replay writes pass the foreign-window guard (they
        # must not journal — _async_maint is already None — but they
        # are not foreign). On success everything clears; on a
        # mid-replay EXCEPTION the marker deliberately STAYS (second
        # review #3): the insert journal may already be consumed, so
        # the state converges only through the attach-time recovery
        # (whose no-insert-journal fallback applies the remaining
        # deletes delete-wins) — a standing marker makes every write
        # refuse loudly until that recovery runs, exactly like a
        # crash, instead of letting a later window restart the seq
        # counter against the stale journal. A process crash
        # mid-replay leaves the same marker + journals state.
        index._window_closing = True
        ok = False
        try:
            # resolve the sequence-final delete set BEFORE the insert
            # replay consumes (and removes) the insert journal it
            # compares against
            final_deletes = _final_delete_ids(index)
            _adopt_index_state(index, st["clone"],
                               hits_base=st.get("hits_base"),
                               qc_base=st.get("qc_base"),
                               summary=st.get("summary"))
            out = _replay_ingest_journal(
                index, books_cache if books_cache is not None else {},
                encode_pq, summary=st.get("summary"),
                distributed_threshold=st.get("distributed_threshold"))
            # deletes whose stamp outranks every later insert of the
            # same id re-apply AFTER the inserts: insert-then-delete
            # nets out deleted, delete-then-reinsert keeps the
            # re-inserted row (round 15, VERDICT r14 #1)
            out["deletes_replayed"] = _replay_delete_journal(
                index, final_deletes)
            ok = True
        finally:
            index._window_closing = False
            _unregister_open_window(index)
            if ok:
                _clear_window_marker(index.workdir)
        out["version"] = index.version
        return out


# Scale-default boundary for streamed ingest routing (round 14,
# VERDICT r13 missing #1 — the last scale default after round 13's
# _resolve_scale_defaults closed the trainer/books-format pair).
# Below it a micro-batch takes the historical driver path (collect +
# in-process NumPy routing/encode — hundreds of rows beat a Spark
# job); at or above it the batch auto-routes through
# ``insert_distributed`` + the distributed sidecar appender, which
# never move vectors to the driver. 50k rows is ~25 MB of float64 at
# d=64 and ~400 MB at d=1024 — the upper edge of what a
# default-sized driver should materialize per micro-batch, and the
# point where the distributed path's fixed job overhead amortizes.
# Explicit ``distributed_threshold`` values always win; sub-threshold
# behavior is exactly the pre-round-14 default, so bit-pinned
# streamed artifacts stay valid.
AUTO_INGEST_DISTRIBUTED_ROWS = 50_000

# Vector-bytes cap on the routing probe (round 15): the tiered probe
# in handle_batch collects at most this many (id, vector) rows to
# decide small-vs-big — enough that every ordinary micro-batch is
# fully in hand in one job, small enough that a backfill stream of
# always-big batches ships ≤ 8192·d·8 B to the driver per batch
# (4 MB at d=64, 64 MB at d=1024) instead of threshold-sized payloads.
AUTO_PROBE_ROWS = 8_192


def set_maintenance_cadence(index: IVFIndex, n: int | None,
                            maintain_kwargs: dict | None = None,
                            maintain_async: bool = False) -> None:
    """Record (``n`` ≥ 1) or clear (``n=None``) the persisted
    streaming self-maintenance cadence on the index. ``ingest_stream``
    records an explicit cadence itself; this is the explicit-off / out
    -of-band knob editor (the stats.json twin of setting
    ``ood_rebuild_rate`` at sidecar build). Clearing the cadence also
    clears the recorded ``maintain_kwargs`` and ``maintain_async``
    (they only apply to scheduled maintenance); with ``n`` set,
    ``maintain_kwargs`` replaces the recorded kwargs (None here =
    clear them) and ``maintain_async`` records the execution mode
    (round 14 — it rides with the cadence for the same reason the
    kwargs do)."""
    if n is not None and int(n) < 1:
        raise ValueError(
            f"maintenance cadence must be a positive int or None, "
            f"got {n!r}")
    if maintain_kwargs is not None:
        import json as _json

        _json.dumps(maintain_kwargs)   # persisted: must serialize
    index.maintain_every_n_batches = None if n is None else int(n)
    index.maintain_kwargs = (dict(maintain_kwargs)
                             if n is not None and maintain_kwargs
                             else None)
    index.maintain_async = bool(maintain_async) if n is not None \
        else False
    index.save_meta()


def ingest_stream(index: IVFIndex, vectors_stream: DataFrame,
                  checkpoint_dir: str, encode_pq: bool = True,
                  distributed_threshold: int | None = None,
                  maintain_every_n_batches: int | None = None,
                  maintain_kwargs: dict | None = None,
                  maintain_async: bool | None = None):
    """Attach a vector stream to the index. Returns the StreamingQuery;
    caller owns lifecycle (processAllAvailable/stop). With
    ``encode_pq`` (default), micro-batches also keep the version's PQ
    sidecar current — see module docstring.

    ``distributed_threshold`` (round 10, VERDICT r9 #4): batches with
    at least that many rows route through
    ``IVFIndex.insert_distributed`` + the mapInPandas sidecar appender
    instead of the driver-side collect — the BACKFILL path: a replayed
    history or bulk re-ingest arrives as one huge batch that must
    never be collected. Default ``None`` resolves to
    ``AUTO_INGEST_DISTRIBUTED_ROWS`` (round 14, VERDICT r13 missing
    #1): small micro-batches keep the historical driver path (a few
    hundred rows beat a Spark job), while a batch at/above the
    boundary auto-routes distributed with a one-line advisory on
    first engage — a caller attaching a high-volume stream with the
    default signature no longer collects every micro-batch into
    driver memory. An explicit threshold always wins (pass one above
    your largest possible batch to pin every batch to the driver
    path). LOPQ sidecars stay distributed too (round 11, VERDICT r10
    #2): never-seen cells' books train in a grouped-map pass sharing
    the driver appender's kernel, so the distributed path never
    collects vectors for any sidecar flavor.

    ``maintain_every_n_batches`` (round 13, VERDICT r12 missing #2):
    run ``maintain(index, **maintain_kwargs)`` after every N NON-EMPTY
    micro-batches — the Spark twin of the reference driver's
    every-50-queries ``maintain()`` loop (QUAKE_working_demo.ipynb
    c2:80-81). This is what closes the streamed-OOD control loop
    end-to-end: the appenders count drift into ``ood_stats.json``,
    and the scheduled ``maintain(ood_rebuild_rate=...)`` — or the
    knob persisted in the sidecar meta at build — retrains the books when
    the rate crosses it, with no operator in the loop. Default None
    keeps the historical behavior (caller schedules maintenance).
    The books cache self-invalidates on the version bump (it keys on
    the version dir's sidecar tag), so post-maintenance
    batches encode against the refreshed books automatically.

    The cadence is a PERSISTED index knob (round 13, continuity note
    #5): an explicit ``maintain_every_n_batches`` is recorded in the
    index's stats.json (riding every ``save_meta`` republish, like
    ``ood_rebuild_rate`` rides the sidecar meta), and a later
    ``ingest_stream`` call that leaves the arg ``None`` — e.g. a
    restarted stream re-attaching after ``IVFIndex.load`` — resumes
    that cadence without the caller re-passing it. ``maintain_kwargs``
    rides along under the same rule (a resumed cadence without its
    ood_rebuild_min_n etc. would silently maintain with defaults);
    non-JSON-serializable kwargs apply to this stream only, with a
    warning. Only explicit values write; ``None`` reads. There is no
    "explicit off": pass the index through
    ``set_maintenance_cadence(index, None)`` to clear the recorded
    cadence (and its kwargs).

    ``maintain_async`` (round 14, VERDICT r13 #3): run the scheduled
    ``maintain()`` OFF the batch thread. It PERSISTS with the cadence
    (``None`` reads the recorded mode, an explicit value records —
    the same resume rule as the cadence and its kwargs, and for the
    same reason: a restarted stream that resumed the cadence but
    silently reverted to synchronous would re-acquire the ingest
    stall the deployment opted out of). The resolved default (False)
    keeps the synchronous contract — a cadence-triggered retrain blocks the
    stream for the rebuild duration (measured 20-35 s at n=40k on the
    ``streamed_ood.rebuild_s`` bench point; minutes at real scale).
    With it on, the cycle is: persist live bookkeeping → load a CLONE
    of the current version → ``maintain(clone)`` on a worker thread
    while batches keep ingesting into the CURRENT version; every
    window batch's (id, pid) is journaled (16 B/row, vectors never);
    at the first batch boundary after the clone publishes, the live
    handle ADOPTS the new version atomically and the journal is
    reconciled — rows already carried into the new version by the
    link/rewrite passes get their bookkeeping added (outside the
    exactly-recounted split partitions), the rest are re-read from
    the source version's corpus (partition-pruned) and re-inserted
    through the normal paths, so every window row lands in the
    pre- or post-maintenance version exactly once, codes included.
    Contract: writes during a window go through THIS handle —
    same-handle out-of-band deletes are journaled by ``delete``
    itself and re-applied after the swap (insert-then-delete nets
    out deleted), so only writers holding a DIFFERENT handle remain
    outside the contract;
    a background failure re-raises at the next batch boundary; a
    crash mid-window leaves the journal on disk and the next
    ``ingest_stream`` attach replays it against whatever version is
    current (rows and codes are restored; size/centroid exactness
    after a crash keeps the engine's existing crash contract —
    ``recompute_centroids`` is the repair tool). Callers stopping a
    stream mid-window call ``finish_async_maintenance(index)`` to
    converge deterministically."""
    if (maintain_every_n_batches is not None
            and int(maintain_every_n_batches) < 1):
        # fail at the call site, not as a ZeroDivisionError inside
        # foreachBatch on the first non-empty batch
        raise ValueError(
            "maintain_every_n_batches must be a positive int, got "
            f"{maintain_every_n_batches!r} (None = caller schedules "
            "maintenance)")
    _dirty = False
    if maintain_every_n_batches is None:
        # resume the cadence the index was configured with (persisted
        # by a previous ingest_stream on this workdir)
        maintain_every_n_batches = index.maintain_every_n_batches
    elif (int(maintain_every_n_batches)
          != index.maintain_every_n_batches):
        # record the knob on the CURRENT version so a restart resumes
        # it; save_meta is metadata-scale (centroid tables + stats)
        index.maintain_every_n_batches = int(maintain_every_n_batches)
        _dirty = True
    if maintain_kwargs is None:
        # the kwargs ride with the cadence: a resumed cadence without
        # its ood_rebuild_min_n (etc.) would silently maintain with
        # defaults
        maintain_kwargs = index.maintain_kwargs
    elif maintain_every_n_batches is None:
        # kwargs without an effective cadence are inert (maybe_maintain
        # never fires) and must NOT persist: set_maintenance_cadence's
        # invariant is that recorded kwargs exist only alongside a
        # recorded cadence — orphaned kwargs would silently resurface
        # if a cadence is later enabled without its own kwargs
        # (ADVICE r13)
        import warnings as _warnings

        _warnings.warn(
            "ingest_stream: maintain_kwargs given without a "
            "maintenance cadence (no maintain_every_n_batches and "
            "none recorded on the index) — scheduled maintenance "
            "never fires, so the kwargs are unused and not persisted")
    elif maintain_kwargs != index.maintain_kwargs:
        import json as _json
        import warnings as _warnings

        try:
            _json.dumps(maintain_kwargs)
        except (TypeError, ValueError):
            _warnings.warn(
                "ingest_stream: maintain_kwargs is not "
                "JSON-serializable — it applies to THIS stream but "
                "will not persist for a restarted one")
        else:
            index.maintain_kwargs = dict(maintain_kwargs)
            _dirty = True
    if maintain_async is None:
        # resume the recorded execution mode with the cadence
        maintain_async = bool(index.maintain_async)
    elif maintain_every_n_batches is None:
        # async without an effective cadence is inert (maybe_maintain
        # never fires) and must not persist — same gating rule as the
        # kwargs above
        maintain_async = bool(maintain_async)
    elif bool(maintain_async) != index.maintain_async:
        index.maintain_async = bool(maintain_async)
        _dirty = True
    if _dirty:
        index.save_meta()
    auto_threshold = distributed_threshold is None
    if auto_threshold:
        # auto-resolved scale default (round 14): same explicit-wins
        # rule as quantization._resolve_scale_defaults — the advisory
        # fires in handle_batch the first time a batch actually
        # crosses the boundary, not here (most streams never do)
        distributed_threshold = AUTO_INGEST_DISTRIBUTED_ROWS
    id_col, vec_col = index.id_col, index.vec_col
    books_cache: dict = {}
    # Stash the stream's sidecar-books cache on the handle (round 16,
    # ADVICE r15): when a tombstoned-id re-insert inside the write
    # path forces a synchronous window close, the journal replay can
    # reuse this cache instead of re-deriving sidecar state. The
    # cache self-invalidates on version bumps (keys on the version
    # dir's sidecar paths) and REPLACES its contents on re-key — it
    # holds at most ONE version's books, so the handle pins a bounded
    # payload after the stream ends, not an accumulating history.
    index._stream_books_cache = books_cache
    batch_counter = {"n": 0}
    auto_advised = {"done": False}
    if not getattr(index, "_async_maint", None):
        # crash-recovery re-attach (round 14): a previous async
        # window never swapped — reconcile its journals against the
        # current version before any new batch lands (inserts first,
        # then the sequence-final deletes, so insert-then-delete nets
        # out deleted and delete-then-reinsert keeps the row). The
        # final-delete set resolves BEFORE the insert replay removes
        # the journal it compares stamps against; the crashed
        # window's on-disk marker is cleared FIRST — this re-attach
        # IS the documented recovery, and the replay below calls
        # IVFIndex.delete, which refuses while a marker stands.
        # Round 15: if the marker's writer is STILL ALIVE in this
        # process tree, this attach is a second live writer, not a
        # recovery — replaying a live window's journals would corrupt
        # its exactly-once reconciliation, so refuse loudly (the
        # single-writer contract, enforced instead of documented).
        # A second handle in the SAME process shares the pid, so the
        # in-process registry is checked first (review follow-up:
        # the pid probe alone waved same-process second writers
        # through).
        holder_here = _other_handle_window_in_process(index)
        if holder_here is not None:
            raise RuntimeError(
                f"another handle in this process has an async "
                f"maintenance window open on {index.workdir!r} — "
                "single-writer contract: attach the stream to that "
                "handle, or finish_async_maintenance(...) on it "
                "first")
        mpath = _window_marker_path(index.workdir)
        if os.path.exists(mpath):
            import json as _json

            try:
                with open(mpath) as fh:
                    holder = int(_json.load(fh).get("pid", -1))
            except FileNotFoundError:
                holder = -1    # cleared between the exists and read
            except (OSError, ValueError, TypeError, AttributeError):
                # unreadable marker: with atomic writes this should
                # not happen — treat the writer as ALIVE (refuse)
                # rather than recover over a possibly-live window
                raise RuntimeError(
                    f"unreadable async-window marker {mpath!r} — "
                    "refusing to attach over a possibly-live "
                    "window; remove the marker by hand if its "
                    "writer is known dead")
            if holder > 0 and holder != os.getpid():
                try:
                    os.kill(holder, 0)   # signal 0: existence probe
                    alive = True
                except ProcessLookupError:
                    alive = False
                except PermissionError:
                    alive = True
                if alive:
                    raise RuntimeError(
                        f"process {holder} holds an open async "
                        f"maintenance window on {index.workdir!r} "
                        f"(marker: {mpath!r}) — attaching a second "
                        "writer would replay its live journals "
                        "mid-window; stop that stream (or let its "
                        "swap finish) first. If the pid is a stale "
                        "reuse, remove the marker by hand.")
        _clear_window_marker(index.workdir)
        final_deletes = _final_delete_ids(index)
        if (os.path.isdir(_journal_dir(index))
                and os.listdir(_journal_dir(index))):
            _replay_ingest_journal(index, books_cache, encode_pq,
                                   summary=None,
                                   distributed_threshold=(
                                       distributed_threshold))
        _replay_delete_journal(index, final_deletes)

    def maybe_maintain() -> None:
        if maintain_every_n_batches is None:
            return
        batch_counter["n"] += 1
        if batch_counter["n"] % int(maintain_every_n_batches):
            return
        if maintain_async:
            if getattr(index, "_async_maint", None):
                return    # a cycle is in flight — next multiple fires
            _start_async_maintenance(index, maintain_kwargs,
                                     distributed_threshold,
                                     encode_pq=encode_pq)
            return
        from quake_vector_search_spark.operators.maintenance import (
            maintain,
        )

        maintain(index, **(maintain_kwargs or {}))

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # pin this batch's jobs to the ingest pool — with
        # spark.scheduler.mode=FAIR (SCALING.md) it time-shares the
        # executors against a long async-maintain stage instead of
        # queuing behind it; inert under the default FIFO
        index.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "qvss-ingest")
        # adopt a finished async cycle BEFORE routing this batch (so
        # it routes on the fresh layout); a still-running cycle keeps
        # the window open, in which case the insert paths journal the
        # batch themselves (round 15 — self-journaling moved into
        # insert/insert_distributed so out-of-band same-handle writes
        # need no caller cooperation)
        finish_async_maintenance(index, books_cache, encode_pq,
                                 wait=False)
        # TIERED routing probe (round 15, VERDICT r14 #6 + review
        # follow-up): one bounded (id, vector) collect capped at
        # min(threshold, AUTO_PROBE_ROWS) decides the route AND feeds
        # the driver path. An ordinary micro-batch (the hot path)
        # lands under the cap → fully in hand in ONE job. A batch at
        # the cap might still be sub-threshold, so a count-only probe
        # (moves no vectors) settles it: big batches proceed
        # distributed having shipped at most AUTO_PROBE_ROWS vectors
        # to the driver — the first single-read cut shipped up to
        # `threshold` rows (50k × d floats) per big batch, which a
        # backfill stream pays on EVERY batch; mid-band batches
        # (cap..threshold) pay a third job for the full collect the
        # driver path always needed.
        probe_cap = min(distributed_threshold, AUTO_PROBE_ROWS)
        head = (batch_df.select(id_col, vec_col)
                .limit(probe_cap).collect())
        if len(head) >= distributed_threshold:
            big = True      # cap == threshold: the probe already knows
        elif len(head) < probe_cap:
            big = False
        else:
            big = (batch_df.limit(distributed_threshold).count()
                   >= distributed_threshold)
            if not big:
                head = batch_df.select(id_col, vec_col).collect()
        if big:
            if auto_threshold and not auto_advised["done"]:
                import warnings as _warnings

                auto_advised["done"] = True
                _warnings.warn(
                    f"ingest_stream: micro-batch reached "
                    f"{distributed_threshold} rows "
                    f"(AUTO_INGEST_DISTRIBUTED_ROWS); auto-routing "
                    "through insert_distributed + the distributed "
                    "sidecar appender (the driver path would collect "
                    "every batch this size) — pass an explicit "
                    "distributed_threshold to override")
            routed = index.insert_distributed(
                batch_df.select(id_col, vec_col),
                unpersist=False)
            try:
                if encode_pq:
                    _append_pq_codes_distributed(
                        index, routed, books_cache)
            finally:
                # release the routing cache insert_distributed
                # kept alive for us (unpersist=False)
                routed.routing_cache.unpersist()
            maybe_maintain()
            return
        rows = head
        if not rows:
            return
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        vecs = np.array([np.asarray(r[1], dtype=np.float64) for r in rows])
        pids = index.insert(ids, vecs)
        if encode_pq:
            if index.metric == "cosine":
                # the corpus (hence every sidecar's books) stores UNIT
                # vectors — insert() normalized its own copy, so the
                # append must encode the same normalized values or the
                # codes disagree with what the corpus row holds
                vecs = vecs / (np.linalg.norm(vecs, axis=1,
                                              keepdims=True) + 1e-12)
            _append_pq_codes(index, ids, vecs, pids, books_cache)
        maybe_maintain()

    return (vectors_stream.writeStream
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(handle_batch)
            .start())
