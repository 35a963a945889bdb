"""Seeded inputs of the point-store benchmark.

Everything a run needs is generated here, before the timed window, from
the ``--seed`` argument alone: the points each table is built from, the
per-client read sequences and the ingest batches. The program under test
only ever receives these generated values.

Three workloads (sizes in :data:`WORKLOADS`; ``toy`` scale is the
self-check's):

- ``read_uniform``: the FIXTURES.md ``points`` view, computed from a
  synthetic ``lineitem`` with the fixture's column distributions, so the
  table has the fixture's shape (domain [0, 4095]², non-unique ids).
- ``read_hotspot``: points over the full 31-bit domain, ~90% in Gaussian
  hotspots of varied spread, the rest uniform background.
- ``ingest_hotspot``: a hotspot seed table plus 1,000-point hotspot
  batches with explicit unique ids.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DOMAIN_MAX = 2**31 - 1
FIXTURE_SIDE = 4096
READ_MIX = (("get", 0.3), ("range", 0.3), ("knn", 0.3), ("count", 0.1))
GET_EXISTING = 0.8  # share of gets aimed at a stored coordinate
RANGE_ROWS = 100  # target rows returned by a range op
COUNT_AREA = 1 / 16  # count rectangle, as a share of the domain's area
KNN_K = 10
HOTSPOTS = 32
# The hotspot map (centres, spreads, weights) is part of a workload's
# definition, fixed across seeds; ``--seed`` draws the points, batches and
# queries from it. A per-seed map would change the trie depth and the
# insert cost from run to run, and the spread between runs with it.
HOTSPOT_MAP_SEED = 20_241_016
HOTSPOT_SHARE = 0.9
QUERY_HOTSPOT_SHARE = 0.8
BATCH_POINTS = 1000
COMPACT_EVERY = 4  # ingest batches between compact_points_table calls
# reads after each ingest batch: every kind of the mix 4 times, so that a
# 15 s run, which fits about three batches, holds enough reads for a median
INGEST_READS_PER_STEP = 16
OPS_PER_CLIENT = 4000  # far more than a 60 s window can run
INGEST_BATCHES = 64  # likewise


@dataclass(frozen=True)
class Spec:
    kind: str  # "fixture" | "hotspot"
    points: int  # points in the served / seed table
    clients: int
    ingest: bool = False


WORKLOADS = {
    "full": {
        "read_uniform": Spec("fixture", 300_000, clients=2),
        "read_hotspot": Spec("hotspot", 100_000, clients=2),
        "ingest_hotspot": Spec("hotspot", 50_000, clients=1, ingest=True),
    },
    "toy": {
        "read_uniform": Spec("fixture", 6_000, clients=2),
        "read_hotspot": Spec("hotspot", 10_000, clients=2),
        "ingest_hotspot": Spec("hotspot", 10_000, clients=1, ingest=True),
    },
}


@dataclass
class Points:
    """Column arrays of one table (ids int64, coordinates int32)."""

    id: np.ndarray
    x: np.ndarray
    y: np.ndarray

    def __len__(self) -> int:
        return len(self.id)

    @staticmethod
    def concat(parts: list["Points"]) -> "Points":
        return Points(
            np.concatenate([p.id for p in parts]),
            np.concatenate([p.x for p in parts]),
            np.concatenate([p.y for p in parts]),
        )


def lineitem(rng: np.random.Generator, n_rows: int) -> dict[str, np.ndarray]:
    """Synthetic ``lineitem`` key columns with the fixture's distributions:
    every key uniform and independent, orderkey in [0, 1.5M·sf), partkey
    in [0, 200K·sf), suppkey in [0, 10K·sf), linenumber in [1, 7]."""
    sf = n_rows / 6_000_000
    return {
        "l_orderkey": rng.integers(0, max(1, int(1_500_000 * sf)), n_rows),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n_rows),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n_rows),
        "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
    }


def fixture_points(li: dict[str, np.ndarray]) -> Points:
    """The FIXTURES.md ``points`` view, evaluated in numpy (the oracle's
    copy of the table the benchmark builds through Spark)."""
    ok = li["l_orderkey"]
    return Points(
        ok * 8 + li["l_linenumber"],
        (li["l_partkey"] % FIXTURE_SIDE).astype(np.int32),
        ((li["l_suppkey"] * 997 + ok) % FIXTURE_SIDE).astype(np.int32),
    )


class Hotspots:
    """~32 Gaussian hotspots of varied spread over the 31-bit domain plus
    a uniform background; also serves the local density the range
    rectangles are sized from."""

    def __init__(self):
        rng = np.random.default_rng(HOTSPOT_MAP_SEED)
        self.mu = rng.uniform(2**26, DOMAIN_MAX - 2**26, size=(HOTSPOTS, 2))
        # spreads from ~4 K to ~16 M: deep, narrow tries next to wide ones
        self.sigma = 2.0 ** rng.uniform(12, 24, size=HOTSPOTS)
        w = rng.pareto(1.5, size=HOTSPOTS) + 0.2
        self.weight = w / w.sum()

    def sample(self, rng: np.random.Generator, n: int, hot_share: float) -> np.ndarray:
        """``n`` (x, y) float centres, ``hot_share`` of them from hotspots."""
        hot = rng.random(n) < hot_share
        h = rng.choice(HOTSPOTS, size=n, p=self.weight)
        xy = self.mu[h] + rng.standard_normal((n, 2)) * self.sigma[h, None]
        xy[~hot] = rng.uniform(0, DOMAIN_MAX, size=(int((~hot).sum()), 2))
        return np.clip(np.rint(xy), 0, DOMAIN_MAX)

    def points(self, rng: np.random.Generator, n: int, first_id: int) -> Points:
        xy = self.sample(rng, n, HOTSPOT_SHARE).astype(np.int32)
        return Points(np.arange(first_id, first_id + n, dtype=np.int64), xy[:, 0], xy[:, 1])

    def density(self, xy: np.ndarray, n_points: int) -> np.ndarray:
        """Expected points per unit area at each centre."""
        d2 = ((xy[:, None, :] - self.mu[None, :, :]) ** 2).sum(axis=2)
        s2 = self.sigma[None, :] ** 2
        hot = (self.weight[None, :] * np.exp(-d2 / (2 * s2)) / (2 * np.pi * s2)).sum(axis=1)
        return n_points * (HOTSPOT_SHARE * hot + (1 - HOTSPOT_SHARE) / float(DOMAIN_MAX) ** 2)


@dataclass(frozen=True)
class Op:
    """One read: ``get`` (x, y), ``range``/``count`` (rx, ry) inclusive,
    ``knn`` (x, y, k)."""

    kind: str
    args: tuple


def _rect(cx: float, cy: float, half: float, hi: int) -> tuple:
    half = max(0, int(half))
    cx, cy = int(cx), int(cy)
    return ((max(cx - half, 0), min(cx + half, hi)), (max(cy - half, 0), min(cy + half, hi)))


def read_ops(
    rng: np.random.Generator,
    spec: Spec,
    table: Points,
    hotspots: Hotspots | None,
    n: int,
    kinds: np.ndarray | None = None,
) -> list[Op]:
    """``n`` reads drawn from :data:`READ_MIX` (or of the given kinds)."""
    if kinds is None:
        names = [k for k, _ in READ_MIX]
        kinds = rng.choice(names, size=n, p=[p for _, p in READ_MIX])
    hi = FIXTURE_SIDE - 1 if hotspots is None else DOMAIN_MAX
    if hotspots is None:
        centres = rng.uniform(0, hi, size=(n, 2))
        density = np.full(n, len(table) / float(FIXTURE_SIDE) ** 2)
    else:
        centres = hotspots.sample(rng, n, QUERY_HOTSPOT_SHARE)
        density = hotspots.density(centres, len(table))
    range_half = np.sqrt(RANGE_ROWS / density) / 2
    count_half = (hi + 1) * np.sqrt(COUNT_AREA) / 2
    picks = rng.integers(0, len(table), size=n)
    existing = rng.random(n) < GET_EXISTING
    ops = []
    for i, kind in enumerate(kinds):
        cx, cy = centres[i]
        if kind == "get":
            if existing[i]:
                p = picks[i]
                args = (int(table.x[p]), int(table.y[p]))
            else:
                args = (int(cx), int(cy))
        elif kind == "range":
            args = _rect(cx, cy, range_half[i], hi)
        elif kind == "count":
            args = _rect(cx, cy, count_half, hi)
        else:
            args = (int(cx), int(cy), KNN_K)
        ops.append(Op(str(kind), args))
    return ops
