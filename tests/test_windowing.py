"""Round-16 window-contract tests: the neutral ``windowing`` module
(VERDICT r15 #4 refactor), the mixed-version delete-journal
resolution (ADVICE r15 #2), the advisory write lock closing the
marker check-then-act race (ADVICE r15 #1), and the per-handle
tombstone-frame cache (VERDICT r15 #6)."""

import os
import threading
import time

import numpy as np

from quake_vector_search_spark.operators.ivf import IVFIndex
from quake_vector_search_spark.operators.workload import make_dataset


def test_windowing_reexports_are_the_same_objects():
    """``operators.ivf`` binds the window-contract primitives
    top-level from ``windowing`` (no deferred circular imports left
    for the window contract)."""
    import quake_vector_search_spark.operators.ivf as ivf
    import quake_vector_search_spark.windowing as w

    for name in ("_journal_batch", "_journal_deletes",
                 "_journal_batch_distributed", "_window_lock",
                 "_foreign_write_guard"):
        assert getattr(ivf, name) is getattr(w, name), name


def test_mixed_version_delete_journal_scopes_delete_wins(spark,
                                                         tmp_path):
    """ADVICE r15 #2: one unstamped (pre-round-15) delete-journal
    file must force delete-wins ONLY for its own ids. A stamped
    delete-then-reinsert id in the same window keeps the row; a
    stamped insert-then-delete id stays deleted; the unstamped id is
    delete-wins even though a stamped insert outranks nothing it can
    be compared against."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quake_vector_search_spark.windowing import (
        _delete_journal_dir,
        _final_delete_ids,
        _journal_batch,
        _journal_deletes,
    )

    corpus = make_dataset(spark, 120, d=8, n_clusters=2, seed=161)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_mixed_journal"),
                         coarse_k=2, base_k=1)
    # stamped: 11 insert(0) → delete(1) = stands;
    #          22 delete(2) → insert(3) = outranked (kept)
    _journal_batch(idx, [11], [0], idx.version)
    _journal_deletes(idx, [11])
    _journal_deletes(idx, [22])
    _journal_batch(idx, [22], [0], idx.version)
    # unstamped legacy file for 33 AND 22: 33 has no stamps anywhere;
    # 22's stamped reinsert cannot be ordered against the unstamped
    # delete, so delete-wins must take 22 too (conservative arm)
    d = _delete_journal_dir(idx)
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({idx.id_col: pa.array([22, 33], type=pa.int64())}),
        os.path.join(d, "d_legacy.parquet"))
    assert _final_delete_ids(idx) == [11, 22, 33]


def test_unstamped_only_journal_still_delete_wins(spark, tmp_path):
    """Regression guard for the pre-stamp fallback after the ADVICE
    r15 #2 rescoping: a window whose delete journal is ENTIRELY
    unstamped behaves exactly as before (every journaled id
    delete-wins)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quake_vector_search_spark.windowing import (
        _delete_journal_dir,
        _final_delete_ids,
        _journal_batch,
    )

    corpus = make_dataset(spark, 120, d=8, n_clusters=2, seed=162)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_legacy_journal"),
                         coarse_k=2, base_k=1)
    _journal_batch(idx, [7, 8], [0, 0], idx.version)
    d = _delete_journal_dir(idx)
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.table({idx.id_col: pa.array([7, 9], type=pa.int64())}),
        os.path.join(d, "d_legacy.parquet"))
    assert _final_delete_ids(idx) == [7, 9]


def test_window_open_fence_waits_for_inflight_write(tmp_path):
    """ADVICE r15 #1: the advisory lock's exclusive arm (taken by the
    window open around the marker write) must block while a writer
    holds the shared arm — so a cross-handle write that passed its
    marker check lands on disk before the marker (and the clone load
    that follows it), never straddling the snapshot."""
    from quake_vector_search_spark.windowing import (
        _AdvisoryLock,
        _window_open_fence,
    )

    workdir = str(tmp_path)
    writer_in = threading.Event()
    release_writer = threading.Event()
    fence_acquired_at = {}

    def writer():
        with _AdvisoryLock(workdir, exclusive=False):
            writer_in.set()
            release_writer.wait(timeout=30)

    def opener():
        writer_in.wait(timeout=30)
        with _window_open_fence(workdir):
            fence_acquired_at["t"] = time.monotonic()

    tw = threading.Thread(target=writer)
    to = threading.Thread(target=opener)
    tw.start()
    to.start()
    writer_in.wait(timeout=30)
    time.sleep(0.3)
    # the fence must still be waiting while the shared hold stands
    assert "t" not in fence_acquired_at
    released_at = time.monotonic()
    release_writer.set()
    tw.join(timeout=30)
    to.join(timeout=30)
    assert "t" in fence_acquired_at
    assert fence_acquired_at["t"] >= released_at


def test_shared_guard_admits_concurrent_writers(tmp_path):
    """Two writers hold the shared arm simultaneously (ordinary
    concurrent cross-handle writes must not serialize on each
    other — only the window open excludes them)."""
    from quake_vector_search_spark.windowing import _AdvisoryLock

    workdir = str(tmp_path)
    both_in = threading.Barrier(2, timeout=30)
    ok = []

    def writer():
        with _AdvisoryLock(workdir, exclusive=False):
            both_in.wait()
            ok.append(True)

    ts = [threading.Thread(target=writer) for _ in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=30)
    assert ok == [True, True]


def test_foreign_write_guard_refuses_at_marker(spark, tmp_path):
    """The guard re-runs the marker check under the shared lock and
    refuses a foreign write; the window-holding handle itself passes
    without taking the lock."""
    import pytest

    from quake_vector_search_spark.windowing import (
        _clear_window_marker,
        _foreign_write_guard,
        _write_window_marker,
    )

    corpus = make_dataset(spark, 80, d=8, n_clusters=2, seed=163)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_guard"),
                         coarse_k=2, base_k=1)
    _write_window_marker(idx)
    try:
        with pytest.raises(RuntimeError, match="single-writer"):
            with _foreign_write_guard(idx, "insert"):
                raise AssertionError("guard admitted a foreign write")
        # the window-holding handle bypasses marker + lock entirely
        idx._async_maint = {"thread": None}
        try:
            with _foreign_write_guard(idx, "insert") as g:
                assert g._lock is None
        finally:
            idx._async_maint = None
    finally:
        _clear_window_marker(idx.workdir)


def test_tombstone_frame_cache_keys_on_set_contents(spark, tmp_path):
    """VERDICT r15 #6: the distributed re-insert probe's tombstone
    frame is cached on the handle — repeated probes against an
    unchanged tombstone set reuse ONE frame; mutating the set
    invalidates it."""
    corpus = make_dataset(spark, 120, d=8, n_clusters=2, seed=164)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_tombframe"),
                         coarse_k=2, base_k=1)
    idx.delete([3, 4])
    probe_df = spark.createDataFrame(
        [(int(1000 + i),) for i in range(5)], [idx.id_col])
    assert idx._reinsert_probe_hit(probe_df) is False
    frame1 = idx._tomb_frame
    assert idx._reinsert_probe_hit(probe_df) is False
    assert idx._tomb_frame is frame1          # cache hit
    idx.delete([5])
    hit_df = spark.createDataFrame([(5,)], [idx.id_col])
    assert idx._reinsert_probe_hit(hit_df) is True
    assert idx._tomb_frame is not frame1      # set mutated → rekeyed


def test_reinsert_closes_window_and_reuses_outside_lock(spark,
                                                        tmp_path):
    """ADVICE r15 #3 behavior pin: a tombstoned-id re-insert during
    an open async window still closes the window first (the staged
    purge must not race the background publish) — converging to
    exactly-once — and the close happens without deadlock from the
    pre-lock join path."""
    from quake_vector_search_spark.operators.knn import knn_bruteforce

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=165)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_reinsert16"),
                         coarse_k=2, base_k=2)
    victim = 17
    idx.delete([victim])
    assert victim in idx.tombstones
    from quake_vector_search_spark.streaming.ingest import (
        _start_async_maintenance,
    )

    _start_async_maintenance(idx, None, None, encode_pq=False)
    assert getattr(idx, "_async_maint", None)
    vec = np.full((1, 8), 0.5, dtype=np.float64)
    idx.insert(np.array([victim]), vec)
    # the insert closed the window synchronously (pre-lock join)
    assert getattr(idx, "_async_maint", None) is None
    assert victim not in idx.tombstones
    # exactly-once: the id is searchable with its NEW vector
    res = knn_bruteforce(idx.read_corpus(),
                         (np.array([0]), vec),
                         k=1, id_col=idx.id_col, vec_col=idx.vec_col)
    assert [int(r[idx.id_col]) for r in res.collect()] == [victim]


def test_window_open_refuses_over_foreign_marker(spark, tmp_path):
    """Round-16 self-review: ``_start_async_maintenance`` must not
    write its marker over a FOREIGN one — that would run two windows
    on one workdir, each journal-replaying the other's writes. A
    marker at open time is a live writer or an unrecovered crash;
    both refuse (the stream attach path clears crash leftovers
    BEFORE any window opens)."""
    import json

    import pytest

    from quake_vector_search_spark.streaming.ingest import (
        _start_async_maintenance,
    )
    from quake_vector_search_spark.windowing import _window_marker_path

    corpus = make_dataset(spark, 80, d=8, n_clusters=2, seed=166)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_open_guard"),
                         coarse_k=2, base_k=1)
    with open(_window_marker_path(idx.workdir), "w") as fh:
        json.dump({"pid": 999_999_999, "src_version": 0}, fh)
    with pytest.raises(RuntimeError, match="single-writer"):
        _start_async_maintenance(idx, None, None, encode_pq=False)
    assert getattr(idx, "_async_maint", None) is None
    os.remove(_window_marker_path(idx.workdir))
    # with the marker gone the open proceeds normally
    _start_async_maintenance(idx, None, None, encode_pq=False)
    assert getattr(idx, "_async_maint", None)
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
    )

    finish_async_maintenance(idx)
    assert getattr(idx, "_async_maint", None) is None
    assert not os.path.exists(_window_marker_path(idx.workdir))


def test_distributed_reinsert_probe_runs_once_per_batch(spark,
                                                        tmp_path):
    """The pre-lock window-close check and the in-lock fallback share
    one probe verdict via the probe token: in the steady streaming
    state (window open, tombstones standing, batch clean) the
    tombstone probe job runs ONCE per insert_distributed call, not
    twice."""
    from quake_vector_search_spark.streaming.ingest import (
        finish_async_maintenance,
        _start_async_maintenance,
    )

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=167)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_probe_once"),
                         coarse_k=2, base_k=2)
    idx.delete([3, 4])
    _start_async_maintenance(idx, None, None, encode_pq=False)
    try:
        calls = {"n": 0}
        real = idx._reinsert_probe_hit

        def counting(df):
            calls["n"] += 1
            return real(df)

        idx._reinsert_probe_hit = counting
        clean = spark.createDataFrame(
            [(int(7000 + i),
              [float(i % 5)] * 8) for i in range(6)],
            "vec_id long, embedding array<float>")
        idx.insert_distributed(clean)
        assert calls["n"] == 1, calls
    finally:
        del idx._reinsert_probe_hit
        while getattr(idx, "_async_maint", None):
            finish_async_maintenance(idx)


class _FakeHandle:
    """Minimal stand-in for a second IVFIndex handle on the same
    workdir (only what _other_handle_window_in_process reads)."""

    def __init__(self, workdir):
        self.workdir = workdir


def test_marker_stands_through_swap_replays(spark, tmp_path):
    """Round-16 review #1: the window marker must stay on disk while
    the swap replays the journals — with it already cleared, a
    foreign handle could open a fresh window mid-replay (its clone
    missing the journaled deletes) and the replay's own delete()
    would refuse at that marker, aborting the swap. During the
    replay the handle is flagged ``_window_closing`` so its own
    writes pass the foreign-window guard."""
    import quake_vector_search_spark.streaming.ingest as ing
    from quake_vector_search_spark.streaming.ingest import (
        _start_async_maintenance,
        finish_async_maintenance,
    )
    from quake_vector_search_spark.windowing import _window_marker_path

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=168)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_marker_replay"),
                         coarse_k=2, base_k=2)
    _start_async_maintenance(idx, None, None, encode_pq=False)
    # journal an out-of-band delete so the swap has a replay to run
    idx.delete([5])
    seen = {}
    real_replay = ing._replay_ingest_journal

    def spy(index, *a, **kw):
        seen["marker_up"] = os.path.exists(
            _window_marker_path(index.workdir))
        seen["closing"] = bool(getattr(index, "_window_closing",
                                       False))
        # the in-process registry row must also survive the replay
        # (round 16 second review: a same-process attach consults it
        # before trusting the pid probe)
        seen["other_handle_sees_holder"] = (
            ing._other_handle_window_in_process(
                _FakeHandle(index.workdir)) is index)
        return real_replay(index, *a, **kw)

    ing._replay_ingest_journal = spy
    try:
        finish_async_maintenance(idx)
    finally:
        ing._replay_ingest_journal = real_replay
    assert seen == {"marker_up": True, "closing": True,
                    "other_handle_sees_holder": True}
    # after the swap: marker cleared, flag down, delete applied
    assert not os.path.exists(_window_marker_path(idx.workdir))
    assert not getattr(idx, "_window_closing", False)
    assert idx.read_corpus().where("vec_id = 5").count() == 0


def test_probe_hit_handles_emptied_tombstone_set(spark, tmp_path):
    """Round-16 review #3: the tombstone set can empty between the
    caller's truthiness check (outside the lock) and the probe's
    snapshot — the probe must return False, not crash
    createDataFrame's schema inference on an empty list."""
    corpus = make_dataset(spark, 80, d=8, n_clusters=2, seed=169)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_empty_probe"),
                         coarse_k=2, base_k=1)
    assert idx.tombstones == set()
    df = spark.createDataFrame([(1,)], [idx.id_col])
    assert idx._reinsert_probe_hit(df) is False


def test_replay_exception_leaves_marker_for_recovery(spark,
                                                     tmp_path):
    """Round-16 second review #3: a mid-replay EXCEPTION must leave
    the marker STANDING — the insert journal may already be
    consumed, so the state converges only through the attach-time
    recovery; clearing the marker would let a later window restart
    the seq counter against the stale delete journal and wrongly
    re-delete a re-inserted id. Writes refuse loudly until the
    recovery runs, exactly like a crash."""
    import pytest

    import quake_vector_search_spark.streaming.ingest as ing
    from quake_vector_search_spark.streaming.ingest import (
        _start_async_maintenance,
        finish_async_maintenance,
    )
    from quake_vector_search_spark.windowing import (
        _clear_window_marker,
        _window_marker_path,
    )

    corpus = make_dataset(spark, 200, d=8, n_clusters=3, seed=170)
    idx = IVFIndex.build(corpus, str(tmp_path / "ivf_replay_exc"),
                         coarse_k=2, base_k=2)
    _start_async_maintenance(idx, None, None, encode_pq=False)
    real_replay = ing._replay_ingest_journal

    def boom(index, *a, **kw):
        raise RuntimeError("synthetic replay failure")

    ing._replay_ingest_journal = boom
    try:
        with pytest.raises(RuntimeError, match="synthetic replay"):
            finish_async_maintenance(idx)
    finally:
        ing._replay_ingest_journal = real_replay
    # marker stands; the closing flag is down; writes refuse
    assert os.path.exists(_window_marker_path(idx.workdir))
    assert not getattr(idx, "_window_closing", False)
    with pytest.raises(RuntimeError, match="single-writer"):
        idx.delete([3])
    _clear_window_marker(idx.workdir)
