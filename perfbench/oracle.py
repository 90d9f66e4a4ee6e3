"""Brute-force oracle over the benchmark's own model of the live set."""

from __future__ import annotations

import numpy as np


class LiveSet:
    """Ids and vectors the index should hold: the generated corpus, minus
    the ids deleted so far, plus the rows inserted so far."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.vecs = np.asarray(vecs, dtype=np.float64)
        self.alive = np.ones(len(self.ids), dtype=bool)
        self.deleted: set[int] = set()
        self._pos = {int(i): p for p, i in enumerate(self.ids)}

    def __len__(self) -> int:
        return int(self.alive.sum())

    def delete(self, ids) -> None:
        for i in ids:
            self.alive[self._pos[int(i)]] = False
            self.deleted.add(int(i))

    def insert(self, ids, vecs) -> None:
        base = len(self.ids)
        self.ids = np.concatenate([self.ids, np.asarray(ids, np.int64)])
        self.vecs = np.vstack([self.vecs, np.asarray(vecs, np.float64)])
        self.alive = np.concatenate([self.alive,
                                     np.ones(len(ids), dtype=bool)])
        for j, i in enumerate(ids):
            self._pos[int(i)] = base + j

    def topk(self, qmat: np.ndarray, k: int) -> np.ndarray:
        """Exact top-k live ids per query, ties broken by id: [nq, k]."""
        live = np.flatnonzero(self.alive)
        x = self.vecs if len(live) == len(self.ids) else self.vecs[live]
        q = np.asarray(qmat, dtype=np.float64)
        d2 = ((q * q).sum(1)[:, None] + (x * x).sum(1)[None, :]
              - 2.0 * (q @ x.T))
        kk = min(k + 8, d2.shape[1] - 1)
        cand = np.argpartition(d2, kk, axis=1)[:, :kk + 1]
        out = np.empty((len(q), k), dtype=np.int64)
        for r in range(len(q)):
            c = cand[r]
            order = np.lexsort((self.ids[live[c]], d2[r, c]))[:k]
            out[r] = self.ids[live[c[order]]]
        return out

    def check(self, qids, qmat, rows, k: int) -> tuple[float, list[str]]:
        """Recall@k of ``rows`` = (query_id, vec_id, dist, rank) arrays
        against the exact top-k, and every contract violation found:
        not exactly k rows per query, bad ranks, duplicate, deleted or
        unknown ids, or a distance that is not the true one."""
        rq, rv, rd, rr = rows
        problems: list[str] = []
        truth = self.topk(qmat, k)
        hits = 0
        order = np.lexsort((rr, rq))
        rq, rv, rd, rr = rq[order], rv[order], rd[order], rr[order]
        starts = np.searchsorted(rq, qids)
        ends = np.searchsorted(rq, qids, side="right")
        if len(rq) != len(qids) * k:
            problems.append(f"{len(rq)} rows for {len(qids)}x{k}")
        for qi, (s, e) in enumerate(zip(starts, ends)):
            got = rv[s:e]
            if e - s != k or list(rr[s:e]) != list(range(1, k + 1)):
                problems.append(f"query {qids[qi]}: {e - s} rows")
                continue
            if len(set(got.tolist())) != k:
                problems.append(f"query {qids[qi]}: duplicate ids")
            pos = [self._pos.get(int(i)) for i in got]
            if any(p is None or not self.alive[p] for p in pos):
                bad = [int(i) for i, p in zip(got, pos)
                       if p is None or not self.alive[p]]
                problems.append(f"query {qids[qi]}: dead or unknown {bad}")
                continue
            true_d = np.linalg.norm(self.vecs[pos] - qmat[qi], axis=1)
            if not np.allclose(rd[s:e], true_d, rtol=1e-5, atol=1e-4):
                problems.append(f"query {qids[qi]}: wrong distances")
            hits += len(np.intersect1d(got, truth[qi]))
        return hits / (len(qids) * k), problems
