"""PQ sidecar on-disk format: golden digests per flavor.

Every flavor of ``build_pq_sidecar`` is built at a fixed seed on a tiny
index and reduced to one digest over what a reader of the version dir
sees: the codes sorted by ``vec_id``, the global or per-cell books, the
global or per-cell rotation, the residual snapshot, the scalar bounds
and ``pq_meta.json``. A carry-forward ``refresh_pq_sidecar`` onto a
copy of the version is digested the same way. The digests in
``tests/data/sidecar_digests.json`` pin the artifacts bit for bit, so a
refactor of the writer or the reader cannot move a code, a book or a
bound unnoticed.

A second, fast-lane test drives the writer's file set and the
maintenance refresh: a rebuild over another flavor leaves exactly the
new flavor's files, and after ``maintain()`` carried artifacts equal
the previous version's while per-cell books cover the new layout.

Regenerate (only when a format change is intended):
    python tests/test_sidecar_format.py --write
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pytest

DIGESTS = os.path.join(os.path.dirname(__file__), "data",
                       "sidecar_digests.json")

# flavor -> (index metric, build_pq_sidecar kwargs)
FLAVORS = {
    "plain": ("l2", {}),
    "residual": ("l2", {"residual": True}),
    "rotate": ("l2", {"rotate": True}),
    "rotate_opq": ("l2", {"rotate": True, "opq_iters": 2}),
    "rotate_residual": ("l2", {"rotate": True, "residual": True}),
    "residual_distributed": ("l2", {"residual": True,
                                    "distributed_train": True}),
    "local": ("l2", {"local": True, "residual": True}),
    "local_rotate": ("l2", {"local": True, "residual": True,
                            "rotate": True}),
    "local_table": ("l2", {"local": True, "residual": True,
                           "books_format": "table"}),
    "sq8": ("l2", {"sq8": True}),
    "sq4": ("l2", {"sq8": True, "sq_bits": 4}),
    "aniso": ("cosine", {"anisotropic": 3.0}),
    "aniso_residual": ("cosine", {"anisotropic": 3.0, "residual": True,
                                  "ood_rebuild_rate": 0.3}),
    "aniso_rotate_residual": ("cosine", {"anisotropic": 3.0,
                                         "residual": True,
                                         "rotate": True}),
    "aniso_rotate_opq": ("cosine", {"anisotropic": 3.0, "rotate": True,
                                    "opq_iters": 2}),
    "aniso_distributed": ("cosine", {"anisotropic": 3.0,
                                     "residual": True,
                                     "distributed_train": True}),
    "aniso_local": ("cosine", {"anisotropic": 3.0, "local": True,
                               "residual": True}),
    "aniso_local_rotate": ("cosine", {"anisotropic": 3.0, "local": True,
                                      "residual": True, "rotate": True,
                                      "opq_iters": 1}),
}


def _h(h, *arrays):
    for a in arrays:
        a = np.ascontiguousarray(np.asarray(a))
        h.update(f"{a.dtype.str}{a.shape}".encode())
        h.update(a.tobytes())


def sidecar_digest(spark, version_dir: str) -> str:
    """md5 over the sidecar artifacts of one version dir, read through
    the public loaders and plain file reads."""
    from quake_vector_search_spark.operators import quantization as qz

    h = hashlib.md5()
    rows = (spark.read.parquet(os.path.join(version_dir, "pq"))
            .select("vec_id", "partition_id", "pq_codes")
            .orderBy("vec_id").collect())
    _h(h, np.array([r["vec_id"] for r in rows], dtype=np.int64),
       np.array([r["partition_id"] for r in rows], dtype=np.int64),
       np.array([r["pq_codes"] for r in rows], dtype=np.int64))
    with open(os.path.join(version_dir, "pq_meta.json")) as fh:
        h.update(json.dumps(json.load(fh), sort_keys=True).encode())
    npy = os.path.join(version_dir, "pq_codebooks.npy")
    if os.path.exists(npy):
        _h(h, np.load(npy))
    rot = os.path.join(version_dir, "pq_rotation.npz")
    if os.path.exists(rot):
        z = np.load(rot)
        _h(h, z["mean"], z["components"])
    books = qz.load_local_books(version_dir)
    if books is not None:
        rots = qz.load_local_rots(version_dir) or {}
        for p in sorted(books):
            _h(h, np.int64(p), books[p])
            if p in rots:
                _h(h, rots[p]["mean"], rots[p]["components"])
    if os.path.exists(os.path.join(version_dir, "pq_centroids.npz")):
        snap = qz.load_residual_snapshot(version_dir)
        for p in sorted(snap):
            _h(h, np.int64(p), snap[p])
    sq = qz.load_sq8_params(version_dir)
    if sq is not None:
        _h(h, sq["vmin"], sq["scale"], np.int64(sq["levels"]))
    return h.hexdigest()


# Moment partials and distributed trainers fold per Spark partition, so
# the bits depend on how rows split into tasks. These settings make that
# split independent of the session's core count.
PINNED_CONF = {"spark.sql.files.minPartitionNum": "4",
               "spark.sql.shuffle.partitions": "4",
               "spark.sql.adaptive.enabled": "false"}


def _flavor_digests(spark, workdir: str, flavor: str) -> dict:
    """(build, carry-refresh) digests of one flavor on a fresh tiny
    index under ``workdir``, with the task split pinned."""
    saved = {k: spark.conf.get(k, None) for k in PINNED_CONF}
    for k, v in PINNED_CONF.items():
        spark.conf.set(k, v)
    try:
        return _build_and_refresh(spark, workdir, flavor)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _build_and_refresh(spark, workdir: str, flavor: str) -> dict:
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        refresh_pq_sidecar,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    metric, kwargs = FLAVORS[flavor]
    corpus = make_dataset(spark, 400, d=16, n_clusters=4, seed=61,
                          partitions=4)
    idx = IVFIndex.build(corpus, os.path.join(workdir, flavor),
                         coarse_k=3, base_k=2, metric=metric)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, **kwargs)
    out = {"build": sidecar_digest(spark, idx.version_dir)}
    # the maintenance republish without a layout change: copy the
    # version minus its sidecar, bump it, and refresh the sidecar from
    # the previous one
    new_dir = os.path.join(idx.workdir, f"v{idx.version + 1:04d}")
    shutil.copytree(idx.version_dir, new_dir, ignore=lambda d, names: [
        n for n in names
        if d == idx.version_dir and n.startswith(("pq", "sq8", "ood"))])
    idx.version += 1
    idx.invalidate_corpus()
    assert refresh_pq_sidecar(idx)
    out["refresh"] = sidecar_digest(spark, idx.version_dir)
    return out


@pytest.mark.parametrize("flavor", sorted(FLAVORS))
def test_sidecar_golden_digest(spark, tmp_path, flavor):
    with open(DIGESTS) as fh:
        want = json.load(fh)[flavor]
    assert _flavor_digests(spark, str(tmp_path), flavor) == want


# flavor -> (index metric, kwargs, sidecar entries of its version dir)
REFRESH_FLAVORS = {
    "plain": ("l2", {}, {"pq_codebooks.npy"}),
    "residual": ("l2", {"residual": True},
                 {"pq_codebooks.npy", "pq_centroids.npz"}),
    "rotate_residual": ("l2", {"rotate": True, "residual": True},
                        {"pq_codebooks.npy", "pq_rotation.npz",
                         "pq_centroids.npz"}),
    "local": ("l2", {"local": True, "residual": True},
              {"pq_local_books.npz", "pq_centroids.npz"}),
    "local_rotate": ("l2", {"local": True, "residual": True,
                            "rotate": True},
                     {"pq_local_books.npz", "pq_centroids.npz"}),
    "sq4": ("l2", {"sq8": True, "sq_bits": 4},
            {"sq8_params.npz", "pq_centroids.npz"}),
    "aniso_residual": ("cosine", {"anisotropic": 3.0, "residual": True},
                       {"pq_codebooks.npy", "pq_centroids.npz"}),
}
SIDECAR_ENTRIES = {"pq", "pq_meta.json", "pq_codebooks.npy",
                   "pq_rotation.npz", "pq_local_books.npz",
                   "pq_local_books_tbl", "sq8_params.npz",
                   "pq_centroids.npz"}


def _arrays(path: str) -> dict:
    z = np.load(path)
    if isinstance(z, np.ndarray):
        return {"": z.tobytes()}
    return {k: z[k].tobytes() for k in z.files}


@pytest.mark.parametrize("flavor", sorted(REFRESH_FLAVORS))
def test_rebuild_replaces_flavor_and_maintain_refreshes(spark, tmp_path,
                                                       flavor):
    """A rebuild over another flavor leaves exactly this flavor's
    files; maintain() then republishes the sidecar on the new layout:
    global books, rotations and scalar bounds carry forward unchanged,
    per-cell books retrain for the new cells."""
    from quake_vector_search_spark.operators.ivf import IVFIndex
    from quake_vector_search_spark.operators.maintenance import maintain
    from quake_vector_search_spark.operators.quantization import (
        build_pq_sidecar,
        load_local_books,
    )
    from quake_vector_search_spark.operators.workload import make_dataset

    metric, kwargs, files = REFRESH_FLAVORS[flavor]
    corpus = make_dataset(spark, 400, d=16, n_clusters=4, seed=67)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf"), coarse_k=3,
                         base_k=2, metric=metric)
    # first a flavor leaving files this one must remove
    prior = ({"rotate": True, "residual": True}
             if kwargs.get("local") or kwargs.get("sq8") else
             {"local": True, "residual": True, "rotate": True,
              "books_format": "table"})
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, **prior)
    build_pq_sidecar(idx, m=4, ksub=16, seed=7, **kwargs)
    sidecar = files | {"pq", "pq_meta.json"}
    assert set(os.listdir(idx.version_dir)) & SIDECAR_ENTRIES == sidecar

    old_dir, old_pids = idx.version_dir, {int(p) for p in idx.part_ids}
    with open(os.path.join(old_dir, "pq_meta.json")) as fh:
        old_meta = json.load(fh)
    out = maintain(idx, split_size=48, merge_size=0)
    assert out["pq_refreshed"] and out["splits"]
    assert set(os.listdir(idx.version_dir)) & SIDECAR_ENTRIES == sidecar
    with open(os.path.join(idx.version_dir, "pq_meta.json")) as fh:
        assert json.load(fh) == old_meta
    assert (spark.read.parquet(os.path.join(idx.version_dir, "pq"))
            .count() == idx.read_corpus().count())
    new_pids = {int(p) for p in idx.part_ids}
    assert new_pids != old_pids
    if kwargs.get("local"):
        assert set(load_local_books(idx.version_dir)) == new_pids
        return
    for f in files - {"pq_centroids.npz"}:
        assert (_arrays(os.path.join(idx.version_dir, f))
                == _arrays(os.path.join(old_dir, f))), f


if __name__ == "__main__":
    import sys
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from quake_vector_search_spark.session import get_spark

    if "--write" not in sys.argv:
        sys.exit("usage: python tests/test_sidecar_format.py --write")
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS",
                                                   "8")))
    with tempfile.TemporaryDirectory() as td:
        got = {f: _flavor_digests(s, td, f) for f in sorted(FLAVORS)}
    os.makedirs(os.path.dirname(DIGESTS), exist_ok=True)
    with open(DIGESTS, "w") as fh:
        json.dump(got, fh, indent=1, sort_keys=True)
        fh.write("\n")
