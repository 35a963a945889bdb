"""Spatial operator tests: inclusive-bounds edges, kNN vs brute force,
the kNN plan each frame picks, the z-cover pruning rule at the domain's
edges (SURVEY.md §5)."""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark import hilbert as H
from tiny_md_hbase_spark.operators import serving, spatial
from tiny_md_hbase_spark.sources import points
from tiny_md_hbase_spark.sources.writer import with_zvalue, write_points_zsorted


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    return points(spark, sf_dir).cache()


def test_points_view_invariants(pts):
    row = pts.agg(
        F.count("*").alias("n"),
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
        F.min("y").alias("miny"),
        F.max("y").alias("maxy"),
    ).collect()[0]
    # note: FIXTURES.md claims unique ids, but the generated lineitem has
    # duplicate (l_orderkey, l_linenumber) pairs — ids repeat; the engine
    # treats points as a multiset (reference Bucket.java:40-47 semantics)
    assert row.n > 0
    assert 0 <= row.minx and row.maxx <= 4095
    assert 0 <= row.miny and row.maxy <= 4095


def test_range_inclusive_both_ends(spark):
    df = spark.createDataFrame(
        [(1, 10, 10), (2, 20, 20), (3, 10, 20), (4, 9, 10), (5, 21, 20), (6, 15, 15)],
        "id long, x int, y int",
    )
    got = {r.id for r in spatial.range_query(df, (10, 20), (10, 20)).collect()}
    assert got == {1, 2, 3, 6}  # endpoints in, outside-by-one out


def test_prune_rule_outside_the_z_domain(spark, tmp_path, monkeypatch):
    """A negative lower bound skips the z cover (rows with a negative
    coordinate have no z in the non-negative domain) and an upper bound
    past the int domain is clipped, so the Spark plan over a stored
    zvalue answers exactly what the plain rectangle filter answers."""
    from tiny_md_hbase_spark.operators import serving
    from tiny_md_hbase_spark.sources.writer import with_zvalue

    rows = [(1, -3, 5), (2, 1000, 5), (3, 0, 0), (4, 7, 10), (5, 2**31 - 1, 3), (6, 5, -2)]
    path = str(tmp_path / "pts")
    with_zvalue(spark.createDataFrame(rows, "id long, x int, y int")).write.parquet(path)
    table = spark.read.parquet(path)
    monkeypatch.setattr(serving, "MAX_FILES", 0)  # force the Spark plan

    def plain(rx, ry):
        want = table.filter(spatial.rect_predicate(rx, ry)).select("id", "x", "y")
        return sorted(tuple(r) for r in want.collect())

    for rx, ry in [((-5, 10), (0, 10)), ((0, 2**32), (0, 10)), ((-5, 2**32), (-5, 2**32))]:
        want = plain(rx, ry)
        assert want
        assert sorted(tuple(r) for r in spatial.range_query(table, rx, ry).collect()) == want
        assert spatial.range_count(table, rx, ry).collect()[0].cnt == len(want)
    for x, y in [(-3, 5), (1000, 5), (5, -2), (2**32, 5)]:
        got = sorted(tuple(r) for r in spatial.point_get(table, x, y).collect())
        assert got == plain((x, x), (y, y))


def test_knn_matches_bruteforce(pts):
    k = 10
    qx = qy = 2048
    got = spatial.knn(pts, qx, qy, k).collect()
    brute = sorted(
        ((r.x - qx) ** 2 + (r.y - qy) ** 2, r.id, r.x, r.y) for r in pts.collect()
    )[:k]
    assert [(r.dist_sq, r.id) for r in got] == [(d, i) for d, i, _, _ in brute]
    # dist column is the Euclidean distance of dist_sq
    for r in got:
        assert r.dist == pytest.approx(r.dist_sq**0.5)


def test_knn_indexed_matches_plain(spark, pts, tmp_path, monkeypatch):
    """The knn_indexed driver key's shape on a written z-sorted table:
    served, and through the Spark rounds at the default radius and at
    radii of 1 and 64, knn answers what the full scan answers."""
    path = str(tmp_path / "pts")
    write_points_zsorted(pts, path, num_partitions=8)
    zt = spark.read.parquet(path)
    plain = [tuple(r) for r in spatial.knn(pts, 2048, 2048, 10).collect()]
    assert [tuple(r) for r in spatial.knn(zt, 2048, 2048, 10).collect()] == plain
    monkeypatch.setattr(serving, "MAX_FILES", 0)
    for radius in (spatial._KNN_RADIUS, 1, 64):
        monkeypatch.setattr(spatial, "_KNN_RADIUS", radius)
        got, ran = _knn_jobs(spark, lambda: spatial.knn(zt, 2048, 2048, 10))
        assert got == plain and ran <= 2, radius


def _knn_jobs(spark, op) -> tuple[list[tuple], int]:
    """The rows of ``op()`` and the Spark jobs that building and
    collecting them ran, counted through a job group."""
    sc = spark.sparkContext
    group = f"knn-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = [tuple(r) for r in op().collect()]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def _matrix_rows(negative: bool) -> list[tuple[int, int, int]]:
    """A dense cluster around (100, 100) with repeated cells, a sparse
    background on [0, 1000), two lone rows near (1500, 1500), one at
    (2, 2), and (``negative``) rows with a negative coordinate next to
    the origin."""
    rng = np.random.default_rng(7)
    xy = np.clip(rng.normal(100, 6, (150, 2)).round(), 0, None).astype(int).tolist()
    xy += rng.integers(0, 1000, (40, 2)).tolist()
    xy += xy[:10]  # several ids on one cell
    xy += [(1503, 1503), (1504, 1500), (2, 2)]
    if negative:
        xy += [(-3, 5), (-40, -2), (6, -1)]
    return [(i, int(x), int(y)) for i, (x, y) in enumerate(xy)]


@pytest.fixture(scope="module")
def knn_frames(spark, tmp_path_factory):
    """The frames knn plans over: no curve column (full scan), a stored
    zvalue or h (pruned rounds), and a z-sorted parquet table, whose
    reads the tests keep off the serving path."""
    schema = "id long, x int, y int"
    with_neg = spark.createDataFrame(_matrix_rows(True), schema)
    on_grid = spark.createDataFrame(_matrix_rows(False), schema)
    path = str(tmp_path_factory.mktemp("knn_matrix") / "pts")
    write_points_zsorted(with_neg, path, num_partitions=3)
    return {
        "plain": with_neg.localCheckpoint(),
        "zvalue": with_zvalue(with_neg).localCheckpoint(),
        "h": H.hilbert_encode(on_grid).localCheckpoint(),
        "zsorted": spark.read.parquet(path),
    }


# (query x, query y, k, _KNN_RADIUS, Spark jobs on a frame with a curve key)
_KNN_CASES = {
    "dense": (100, 100, 5, 16, 1),  # round 1 answers
    # round 1's square holds only (1503, 1503), at 18 > 3**2; the nearer
    # (1504, 1500), at 16, lies outside it
    "round2": (1500, 1500, 1, 3, 2),
    "k_over_n": (100, 100, 500, 16, 2),  # round 1 is short: full scan
    "k_zero": (100, 100, 0, 16, None),
    "negative": (0, 3, 3, 16, 1),  # frames without h
}


@pytest.mark.parametrize(
    "frame, case",
    [
        (frame, case)
        for frame in ("plain", "zvalue", "h", "zsorted")
        for case in sorted(_KNN_CASES)
        # an h-keyed frame holds the order-12 grid only
        if (frame, case) != ("h", "negative")
    ],
)
def test_knn_plan_matrix(spark, knn_frames, monkeypatch, frame, case):
    """knn over each frame answers the full-scan plan's rows, in its
    order, within two Spark jobs: one for a frame without a curve key,
    and on a curve-keyed frame one per round it needed."""
    qx, qy, k, radius, jobs = _KNN_CASES[case]
    pts = knn_frames[frame]
    want = [tuple(r) for r in spatial._knn_plan(pts, qx, qy, k).collect()]
    monkeypatch.setattr(serving, "MAX_FILES", 0)
    monkeypatch.setattr(spatial, "_KNN_RADIUS", radius)
    got, ran = _knn_jobs(spark, lambda: spatial.knn(pts, qx, qy, k))
    assert got == want
    assert len(got) == min(k, pts.count())
    if case == "negative":
        assert (-3, 5) in {(r[1], r[2]) for r in got}
    assert ran <= 2
    if frame == "plain":
        assert ran <= 1
    elif jobs is not None:
        assert ran == jobs


@pytest.mark.parametrize("curve", [False, True])
def test_knn_null_coordinate_ranks_last(spark, curve):
    """A row with a null coordinate has a null ``dist_sq``; it ranks
    after every row with a distance, as in the DuckDB oracle's
    ``ORDER BY``, on the full-scan plan and through the pruned rounds."""
    df = spark.createDataFrame(
        [(1, None, 5), (2, 5, 5), (3, 6, 6)], "id long, x int, y int"
    )
    if curve:
        df = with_zvalue(df)
    assert [tuple(r) for r in spatial.knn(df, 5, 5, 1).collect()] == [(2, 5, 5, 0, 0.0)]
    got = [tuple(r)[:3] for r in spatial.knn(df, 5, 5, 3).collect()]
    assert got == [(2, 5, 5), (3, 6, 6), (1, None, 5)]


def test_knn_fewer_than_k(spark):
    df = spark.createDataFrame([(1, 0, 0), (2, 1, 1)], "id long, x int, y int")
    assert spatial.knn(df, 5, 5, 10).count() == 2


def test_point_get_multi_entity(spark):
    # several ids at the same cell -> all returned (Bucket.java:40-47 multiset)
    df = spark.createDataFrame(
        [(1, 7, 7), (2, 7, 7), (3, 8, 7)], "id long, x int, y int"
    )
    got = {r.id for r in spatial.point_get(df, 7, 7).collect()}
    assert got == {1, 2}


def test_point_get_lookup_self_contained(pts):
    out = spatial.point_get_lookup(pts).collect()
    min_id_row = pts.orderBy("id").limit(1).collect()[0]
    assert any(r.id == min_id_row.id for r in out)
    assert all((r.x, r.y) == (min_id_row.x, min_id_row.y) for r in out)


def test_distance_join_matches_bruteforce(pts):
    import numpy as np

    radius = 4
    rows = pts.collect()
    arr = np.array([(r.id, r.x, r.y) for r in rows], dtype=np.int64)
    d2 = (arr[:, 1][:, None] - arr[:, 1]) ** 2 + (arr[:, 2][:, None] - arr[:, 2]) ** 2
    tuples = [tuple(t) for t in arr]
    expect = set()
    ii, jj = np.nonzero(d2 <= radius * radius)
    for i, j in zip(ii, jj):
        a, b = tuples[i], tuples[j]
        if a < b:
            expect.add((a, b, int(d2[i, j])))
    got = {
        ((r.id_a, r.x_a, r.y_a), (r.id_b, r.x_b, r.y_b), r.dist_sq)
        for r in spatial.distance_join(pts, radius).collect()
    }
    assert got == expect


def test_distance_join_cell_edges(spark):
    # pair straddling a cell boundary must still meet via the neighborhood
    df = spark.createDataFrame(
        [(1, 3, 0), (2, 4, 0), (3, 100, 100), (4, 0, 3), (5, 0, 4)],
        "id long, x int, y int",
    )
    got = {(r.id_a, r.id_b) for r in spatial.distance_join(df, 2).collect()}
    assert got == {(1, 2), (4, 5)}


def test_knn_join_matches_per_query_knn(spark, pts, monkeypatch):
    """Each probe's rows equal knn's, in order, within two Spark jobs.
    At a radius of 14 over sf0.001 the probes land in all three round-1
    outcomes: k hits within the radius (qid 2), the k-th beyond it
    (qid 1), and fewer than k hits (qids 0 and 3)."""
    qs = [(0, 100, 1000), (1, 150, 2000), (2, 50, 3000), (3, 4000, 100)]
    k = 7
    want = {
        qid: [(r.id, r.x, r.y, r.dist_sq) for r in spatial.knn(pts, qx, qy, k).collect()]
        for qid, qx, qy in qs
    }
    for radius in (14, spatial._KNN_RADIUS, 128):
        monkeypatch.setattr(spatial, "_KNN_RADIUS", radius)
        got, ran = _knn_jobs(spark, lambda: spatial.knn_join(pts, qs, k))
        assert ran <= 2, radius
        by_qid = {}
        for qid, *row in got:
            by_qid.setdefault(qid, []).append(tuple(row))
        assert by_qid == want, radius


def test_knn_join_round_outcomes(spark, knn_frames, monkeypatch):
    """Over every matrix frame, a batch whose probes land in the three
    round-1 outcomes (at a radius of 3: the dense cluster answers, the
    k-th hit near (1500, 1500) lies beyond the radius, (3000, 3000) has
    no hit) answers each probe's full-scan rows within two Spark jobs."""
    qs = [(0, 100, 100), (1, 1500, 1500), (2, 3000, 3000)]
    monkeypatch.setattr(serving, "MAX_FILES", 0)
    monkeypatch.setattr(spatial, "_KNN_RADIUS", 3)
    for name, pts in knn_frames.items():
        want = [
            (qid, *r[:4]) for qid, qx, qy in qs for r in spatial._knn_plan(pts, qx, qy, 1).collect()
        ]
        got, ran = _knn_jobs(spark, lambda: spatial.knn_join(pts, qs, 1))
        assert got == want and ran <= 2, name


def test_knn_join_probe_at_the_int_edge(spark):
    """The window of a probe at the int domain's edge is computed in
    Python integers: no ANSI ARITHMETIC_OVERFLOW."""
    df = spark.createDataFrame([(1, 0, 0), (2, 1, 1), (3, 5, 5)], "id long, x int, y int")
    got = [tuple(r) for r in spatial.knn_join(df, [(0, 2**31 - 1, 2**31 - 2)], 2).collect()]
    d = [(2**31 - 1 - v) ** 2 + (2**31 - 2 - v) ** 2 for v in (5, 1)]
    assert got == [(0, 3, 5, 5, d[0]), (0, 2, 1, 1, d[1])]
    assert spatial.knn_join(df, [(0, 2**31 - 1, 2**31 - 2)], 0).count() == 0


def test_range_filter_stats(pts):
    """range_filter_stats (RangeFilter.java:81-90): n_scanned counts the
    z-window candidates, n_hits the exact-rectangle survivors; hits must
    equal the plain rectangle count and never exceed scanned."""
    from tiny_md_hbase_spark.operators.spatial import (
        range_count,
        range_filter_stats,
    )

    rx, ry = (512, 1535), (1024, 3071)
    row = range_filter_stats(pts, rx, ry).collect()[0]
    exact = range_count(pts, rx, ry).collect()[0].cnt
    assert row.n_hits == exact
    assert row.n_scanned >= row.n_hits


def test_range_filter_stats_past_the_int_domain(spark):
    """An upper bound at or past 2**32 is clipped to the int domain, not
    wrapped to a z window that misses the rectangle's rows."""
    from tiny_md_hbase_spark.zorder import zorder_encode_py

    with pytest.raises(ValueError):
        zorder_encode_py(2**32, 0)
    assert spatial.z_window((0, 2**32), (0, 10)) == (0, zorder_encode_py(2**31 - 1, 10))
    df = spark.createDataFrame([(1, 1000, 5), (2, 3, 20)], "id long, x int, y int")
    row = spatial.range_filter_stats(df, (0, 2**32), (0, 10)).collect()[0]
    assert (row.n_scanned, row.n_hits) == (2, 1)


# --- convex polygon query -------------------------------------------------

def test_polygon_query_matches_python_reference(spark, sf_dir):
    """Convex CCW quad over the sf0.001-populated x band vs an exact
    in-Python half-plane check (the entry's pinned pentagon sits in the
    wider sf0.01 band)."""
    from tiny_md_hbase_spark.sources import points as load_points

    V = [(0, 1000), (180, 500), (199, 3000), (20, 3500)]

    def inside(px, py):
        n = len(V)
        for i in range(n):
            x1, y1 = V[i]
            x2, y2 = V[(i + 1) % n]
            if (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) < 0:
                return False
        return True

    pts = load_points(spark, sf_dir)
    got = {(r.id, r.x, r.y) for r in spatial.polygon_query(pts, V).collect()}
    want = {
        (r.id, r.x, r.y)
        for r in pts.collect()
        if inside(r.x, r.y)
    }
    assert got == want and got


def test_polygon_query_rectangle_degenerates_to_range_query(spark, sf_dir):
    """An axis-aligned CCW rectangle polygon returns exactly the
    rectangle query's rows."""
    from tiny_md_hbase_spark.sources import points as load_points

    rx, ry = (512, 1535), (1024, 3071)
    V = [(rx[0], ry[0]), (rx[1], ry[0]), (rx[1], ry[1]), (rx[0], ry[1])]
    pts = load_points(spark, sf_dir)
    got = {(r.id, r.x, r.y) for r in spatial.polygon_query(pts, V).collect()}
    want = {
        (r.id, r.x, r.y) for r in spatial.range_query(pts, rx, ry).collect()
    }
    assert got == want


def test_polygon_query_pushes_bbox_to_scan(spark, sf_dir, tmp_path):
    """On a MATERIALIZED points table the bounding box reaches the
    parquet scan as pushed filters (on the derived lineitem view x/y
    are computed columns, so nothing can push); the half-plane tests
    stay row-local — no shuffle on either layout."""
    from tiny_md_hbase_spark import plans as P
    from tiny_md_hbase_spark.sources import points as load_points

    V = [(0, 1000), (180, 500), (199, 3000), (20, 3500)]
    load_points(spark, sf_dir).write.parquet(f"{tmp_path}/pts")
    q = spatial.polygon_query(spark.read.parquet(f"{tmp_path}/pts"), V)
    pushed = " ".join(P.pushed_filters(q))
    assert "x" in pushed and "y" in pushed
    assert P.exchange_count(q) == 0


def test_polygon_query_rejects_degenerate(spark, sf_dir):
    from tiny_md_hbase_spark.sources import points as load_points

    with pytest.raises(ValueError):
        spatial.polygon_query(load_points(spark, sf_dir), [(0, 0), (1, 1)])


def test_polygon_query_rejects_cw_and_concave(spark, sf_dir):
    """Clockwise rings (shapefile convention) and reflex vertices fail
    loudly instead of silently returning 0 rows."""
    from tiny_md_hbase_spark.sources import points as load_points

    pts = load_points(spark, sf_dir)
    ccw = [(0, 1000), (180, 500), (199, 3000), (20, 3500)]
    with pytest.raises(ValueError, match="counter-clockwise"):
        spatial.polygon_query(pts, list(reversed(ccw)))
    concave = [(0, 0), (100, 0), (50, 30), (100, 100), (0, 100)]
    with pytest.raises(ValueError, match="convex"):
        spatial.polygon_query(pts, concave)


# ---- skyline -------------------------------------------------------------


def test_skyline_matches_bruteforce_on_random_points(spark):
    import random

    from tiny_md_hbase_spark.operators import spatial as SP

    for seed in (5, 19, 37):
        rng = random.Random(seed)
        pts = [
            (i, rng.randrange(40), rng.randrange(40)) for i in range(150)
        ]
        # plant exact coordinate duplicates (both must survive together)
        pts += [(1000, pts[0][1], pts[0][2]), (1001, 0, rng.randrange(40))]
        want = sorted(
            (x, y, i)
            for i, x, y in pts
            if not any(
                (qx <= x and qy <= y and (qx < x or qy < y))
                for _, qx, qy in pts
            )
        )
        want = [(i, x, y) for x, y, i in want]
        df = spark.createDataFrame(pts, "id long, x int, y int")
        got = [(r.id, r.x, r.y) for r in SP.skyline(df).collect()]
        assert got == want, seed


def test_skyline_staircase_and_duplicates(spark):
    """A strict staircase is entirely on the skyline; any point on or
    above the staircase's dominated region is excluded; coordinate
    duplicates of a skyline point all survive."""
    from tiny_md_hbase_spark.operators import spatial as SP

    stairs = [(1, 0, 30), (2, 10, 20), (3, 20, 10), (4, 30, 0)]
    extra = [
        (5, 10, 20),   # duplicate of (10, 20): survives
        (6, 10, 21),   # same x, worse y: dominated
        (7, 11, 20),   # worse x, same y: dominated
        (8, 25, 25),   # interior: dominated
    ]
    df = spark.createDataFrame(stairs + extra, "id long, x int, y int")
    got = [(r.id, r.x, r.y) for r in SP.skyline(df).collect()]
    assert got == [
        (1, 0, 30), (2, 10, 20), (5, 10, 20), (3, 20, 10), (4, 30, 0)
    ]


def test_skyline_wide_distinct_x_crosses_partition_boundaries(spark):
    """Correctness of the two-phase prefix min when the distinct-x table
    genuinely spans many range partitions: ~20k distinct x (≫ the 8
    partitions of the test session), frontier points planted at
    irregular positions so several fall in non-first partitions and the
    cross-partition carry is load-bearing (a dropped or misaligned
    carry would admit dominated points from later partitions)."""
    import random

    from tiny_md_hbase_spark.operators import spatial as SP

    rng = random.Random(101)
    n = 20_000
    # strictly decreasing frontier y at irregular x, plus dominated noise
    pts = []
    for i in range(n):
        x = i * 7 + rng.randrange(3)  # ~20k distinct x values
        y = (n - i) * 5 + rng.randrange(2000)  # noisy, loosely decreasing
        pts.append((i, x, y))
    per_x_min: dict[int, int] = {}
    for _, x, y in pts:
        per_x_min[x] = min(y, per_x_min.get(x, y))
    best = None
    frontier = set()
    for x in sorted(per_x_min):
        if best is None or per_x_min[x] < best:
            frontier.add((x, per_x_min[x]))
            best = per_x_min[x]
    want = sorted((x, y, i) for i, x, y in pts if (x, y) in frontier)
    want = [(i, x, y) for x, y, i in want]
    df = spark.createDataFrame(pts, "id long, x int, y int").repartition(16)
    got = [(r.id, r.x, r.y) for r in SP.skyline(df).collect()]
    assert got == want
