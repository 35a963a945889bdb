"""Spatial operator tests: inclusive-bounds edges, kNN vs brute force,
the z-cover pruning rule at the domain's edges (SURVEY.md §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators import spatial
from tiny_md_hbase_spark.sources import points


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


def test_knn_indexed_matches_plain(spark, pts, sf_dir):
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        load_points_zsorted,
        write_points_zsorted,
    )

    path = tempfile.mkdtemp(prefix="knnidx_") + "/pts"
    write_points_zsorted(pts, path, num_partitions=8)
    zt = load_points_zsorted(spark, path)
    plain = [(r.dist_sq, r.id) for r in spatial.knn(pts, 2048, 2048, 10).collect()]
    accel = [
        (r.dist_sq, r.id)
        for r in spatial.knn_indexed(zt, 2048, 2048, 10, domain_max=4095).collect()
    ]
    assert accel == plain
    # tiny radius start forces several expansion rounds; still exact
    accel2 = [
        (r.dist_sq, r.id)
        for r in spatial.knn_indexed(
            zt, 2048, 2048, 10, initial_radius=1, domain_max=4095
        ).collect()
    ]
    assert accel2 == plain


def test_knn_indexed_fewer_than_k(spark):
    df = spark.createDataFrame([(1, 5, 5), (2, 9, 9)], "id long, x int, y int")
    got = spatial.knn_indexed(df, 0, 0, 10, domain_max=15).collect()
    assert len(got) == 2


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


def test_knn_join_matches_per_query_knn(pts):
    qs = [(0, 512, 512), (1, 2048, 2048), (2, 4000, 100)]
    k = 7
    # tiny initial radius forces at least one widening round
    got = spatial.knn_join(pts, qs, k, initial_radius=2, domain_max=4095)
    by_qid = {}
    for r in got.collect():
        by_qid.setdefault(r.qid, []).append((r.dist_sq, r.id, r.x, r.y))
    for qid, qx, qy in qs:
        expect = [
            (r.dist_sq, r.id, r.x, r.y)
            for r in spatial.knn(pts, qx, qy, k).collect()
        ]
        assert by_qid[qid] == expect


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
