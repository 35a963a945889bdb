"""Independent numpy oracle for every op the benchmark runs.

Same semantics as ``operators.spatial``: inclusive rectangle bounds on
both axes, ``get`` returns every entity at exactly (x, y), ``knn``
orders by (dist_sq, id, x, y) and keeps the first k. Results are
compared as exact tuples, so a wrong row, a missing row or a wrong order
at the k boundary all count as a failed op.
"""

from __future__ import annotations

import numpy as np

from workloads import Op, Points


class Oracle:
    """Answers reads over the first ``n`` rows of ``table`` (rows are only
    ever appended, so a prefix is the table as a past reader saw it)."""

    def __init__(self, table: Points):
        self.table = table

    def _prefix(self, n: int | None):
        t = self.table
        n = len(t) if n is None else n
        return t.id[:n], t.x[:n], t.y[:n]

    def answer(self, op: Op, n: int | None = None):
        ids, xs, ys = self._prefix(n)
        if op.kind == "get":
            qx, qy = op.args
            m = (xs == qx) & (ys == qy)
            return sorted(zip(ids[m].tolist(), xs[m].tolist(), ys[m].tolist()))
        if op.kind in ("range", "count"):
            (x0, x1), (y0, y1) = op.args
            m = (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
            if op.kind == "count":
                return int(m.sum())
            return sorted(zip(ids[m].tolist(), xs[m].tolist(), ys[m].tolist()))
        qx, qy, k = op.args
        dx = xs.astype(np.int64) - qx
        dy = ys.astype(np.int64) - qy
        d = dx * dx + dy * dy
        if k < len(d):
            kth = np.partition(d, k - 1)[k - 1]
            cand = np.flatnonzero(d <= kth)
        else:
            cand = np.arange(len(d))
        order = np.lexsort((ys[cand], xs[cand], ids[cand], d[cand]))[:k]
        c = cand[order]
        return list(zip(ids[c].tolist(), xs[c].tolist(), ys[c].tolist(), d[c].tolist()))


def normalize(op: Op, rows) -> object:
    """Spark result rows in the oracle's shape."""
    if op.kind == "count":
        return int(rows[0][0])
    if op.kind == "knn":
        return [(r.id, r.x, r.y, r.dist_sq) for r in rows]
    return sorted((r.id, r.x, r.y) for r in rows)


def zvalues(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Morton code of each (x, y): x bits on odd positions, y on even
    (``zorder.zorder_encode_py``), as int64."""

    def spread(v: np.ndarray) -> np.ndarray:
        v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
        for shift, mask in (
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ):
            v = (v | (v << np.uint64(shift))) & np.uint64(mask)
        return v

    return ((spread(x) << np.uint64(1)) | spread(y)).astype(np.int64)
