"""Hilbert codec: production (chained-projection) and reference (fold)
forms vs the driver-side python reference, their mutual equivalence,
exact roundtrip, unit-step adjacency (the locality property Z-order
lacks), bijection, and plan shape (pure projection, no shuffle)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark import hilbert as H
from tiny_md_hbase_spark.sources.tables import points


def test_hilbert_encode_matches_python_reference(spark, sf_dir):
    pts = points(spark, sf_dir).limit(2000)
    rows = H.hilbert_encode(pts).collect()
    assert rows
    for r in rows:
        assert r.h == H.hilbert_encode_py(r.x, r.y)


def test_hilbert_decode_matches_python_reference(spark):
    random.seed(11)
    ds = [(i, random.randrange(4096 * 4096)) for i in range(1500)]
    df = spark.createDataFrame(ds, "id long, d long")
    for r in H.hilbert_decode(df).collect():
        assert (r.x, r.y) == H.hilbert_decode_py(r.d)


def test_hilbert_production_form_equals_fold_form(spark, sf_dir):
    # the chained-projection hot path and the single-aggregate-fold
    # reference are the same function — checked value-for-value
    pts = points(spark, sf_dir).limit(3000)
    prod = H.hilbert_encode(pts).select("id", "h")
    fold = pts.select("id", H.hilbert_encode_col("x", "y").alias("h"))
    assert prod.exceptAll(fold).isEmpty() and fold.exceptAll(prod).isEmpty()
    ds = pts.select("id", (F.col("id") % (4096 * 4096)).alias("d"))
    dprod = H.hilbert_decode(ds).select("id", "x", "y")
    dfold = ds.select("id", H.hilbert_decode_col("d").alias("p")).select(
        "id", F.col("p.x").alias("x"), F.col("p.y").alias("y")
    )
    assert dprod.exceptAll(dfold).isEmpty() and dfold.exceptAll(dprod).isEmpty()


def test_hilbert_roundtrip_on_points(spark, sf_dir):
    # set-compare via exceptAll, NOT a filter over the live chain — a
    # predicate placed directly above the un-materialized 24-round
    # encode∘decode chain trips Catalyst's guard-less predicate-pushdown
    # substitution (~3^rounds growth; see the module docstring's usage
    # contract). exceptAll exercises the same equality without it.
    pts = points(spark, sf_dir)
    enc = H.hilbert_encode(pts)  # keeps x, y, appends h
    dec = H.hilbert_decode(enc.select("id", "h"), d="h")
    orig = pts.select("id", F.col("x").cast("long").alias("x"),
                      F.col("y").cast("long").alias("y"))
    back = dec.select("id", "x", "y")
    assert back.exceptAll(orig).isEmpty() and orig.exceptAll(back).isEmpty()


def test_hilbert_unit_step_adjacency(spark):
    # consecutive curve positions are ALWAYS one grid step apart — the
    # defining locality property (Z-order violates it at every Z jump)
    df = spark.range(0, 4096).select(F.col("id").alias("id"), F.col("id").alias("d"))
    dec = H.hilbert_decode(df).select("d", "x", "y")
    a, b = dec.alias("a"), dec.alias("b")
    steps = a.join(b, F.col("a.d") + 1 == F.col("b.d")).select(
        (
            F.abs(F.col("a.x") - F.col("b.x"))
            + F.abs(F.col("a.y") - F.col("b.y"))
        ).alias("step")
    )
    assert steps.filter("step != 1").count() == 0
    assert steps.count() == 4095


def test_hilbert_is_a_bijection_on_a_subgrid(spark):
    # every d in [0, 64*64) maps to a distinct cell and back (order-6);
    # the inverse check is an exceptAll set-compare, not a filter over
    # the live chain (module docstring usage contract)
    df = spark.range(0, 64 * 64).select(F.col("id").alias("id"), F.col("id").alias("d"))
    dec = H.hilbert_decode(df, bits=6)
    assert dec.select("x", "y").distinct().count() == 64 * 64
    back = H.hilbert_encode(dec.select("id", "d", "x", "y"), bits=6)
    got = back.select("id", F.col("h").alias("d"))
    assert got.exceptAll(back.select("id", "d")).isEmpty()


def test_hilbert_encode_plan_is_pure_projection(spark, sf_dir):
    pts = points(spark, sf_dir)
    plan = (
        H.hilbert_encode(pts)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # chained scalar projections: no shuffle


def test_hilbert_rejects_internal_column_collision(spark):
    df = spark.createDataFrame([(1, 2, 3)], "x int, y int, _hilbert_x int")
    with pytest.raises(ValueError, match="internal column"):
        H.hilbert_encode(df)


# ---------------------------------------------------------------------------
# hilbert_cover_py and the h cover of spatial._prune (index-guided range scan)
# ---------------------------------------------------------------------------


def test_hilbert_cover_invariants_exhaustive_order5():
    # for random rectangles on the 32x32 grid: intervals sorted and
    # disjoint, count within budget, and EVERY in-rect cell's index
    # falls inside some interval (the lossless-superset contract)
    random.seed(3)
    bits = 5
    for _ in range(120):
        x1, x2 = sorted(random.randrange(32) for _ in range(2))
        y1, y2 = sorted(random.randrange(32) for _ in range(2))
        for mi in (4, 8, 64):
            cov = H.hilbert_cover_py((x1, x2), (y1, y2), mi, bits)
            assert len(cov) <= mi
            assert all(cov[i][0] > cov[i - 1][1] for i in range(1, len(cov)))
            for x in range(x1, x2 + 1):
                for y in range(y1, y2 + 1):
                    h = H.hilbert_encode_py(x, y, bits)
                    assert any(lo <= h <= hi for lo, hi in cov)


def test_hilbert_cover_is_exact_at_full_budget():
    # un-coalesced cover has ZERO false-positive cells: covered == area
    bits = 5
    cov = H.hilbert_cover_py((3, 17), (5, 22), 64, bits)
    assert sum(hi - lo + 1 for lo, hi in cov) == 15 * 18


def test_hilbert_cover_empty_and_degenerate():
    assert H.hilbert_cover_py((5, 3), (0, 1), 16, 5) == []
    cov = H.hilbert_cover_py((7, 7), (9, 9), 16, 5)  # single cell
    h = H.hilbert_encode_py(7, 9, 5)
    assert cov == [(h, h)]
    full = H.hilbert_cover_py((0, 31), (0, 31), 16, 5)  # whole grid
    assert full == [(0, 32 * 32 - 1)]


def test_range_query_hilbert_equals_plain_rect(spark, sf_dir):
    """range_query on an h-keyed frame adds the Hilbert cover to its
    residual rectangle and answers the plain rectangle query."""
    from tiny_md_hbase_spark.operators import spatial

    pts = points(spark, sf_dir)
    rx, ry = (512, 1535), (1024, 3071)
    enc = H.hilbert_encode(pts).localCheckpoint()
    assert "`h` BETWEEN" in str(spatial._prune(enc, rx, ry))
    got = spatial.range_query(enc, rx, ry)
    want = spatial.range_query(pts, rx, ry)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_prune_adds_h_cover_only_over_an_h_column(spark, sf_dir):
    """The Hilbert cover filters only a frame with an ``h`` column; over
    a frame without a curve key the rectangle alone remains."""
    from tiny_md_hbase_spark.operators import spatial

    pts = points(spark, sf_dir)
    plain = str(spatial._prune(pts, (0, 10), (0, 10)))
    assert "BETWEEN" in plain and "`h`" not in plain
    with_h = str(spatial._prune(pts.withColumn("h", F.lit(0).cast("long")), (0, 10), (0, 10)))
    assert "`h` BETWEEN" in with_h


def test_knn_hilbert_equals_plain_knn(spark, sf_dir, monkeypatch):
    """knn's rounds over an h-keyed frame, with windows past the grid's
    edges at the corner queries, answer what knn over the plain frame
    answers."""
    from tiny_md_hbase_spark.operators import spatial

    pts = points(spark, sf_dir)
    enc = H.hilbert_encode(pts).localCheckpoint()
    for radius in (spatial._KNN_RADIUS, 1, 64):
        monkeypatch.setattr(spatial, "_KNN_RADIUS", radius)
        for q in ((2048, 2048), (10, 4090), (4095, 0)):
            got = [tuple(r) for r in spatial.knn(enc, *q, 7).collect()]
            want = [tuple(r) for r in spatial.knn(pts, *q, 7).collect()]
            assert got == want, (radius, q)


def test_hilbert_rejects_output_column_collision(spark):
    df = spark.createDataFrame([(1, 2, 3)], "x int, y int, h long")
    with pytest.raises(ValueError, match="output column"):
        H.hilbert_encode(df)
    dd = spark.createDataFrame([(7, 1)], "d long, x int")
    with pytest.raises(ValueError, match="output column"):
        H.hilbert_decode(dd)
