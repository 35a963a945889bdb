"""Codec tests: the reference's golden vectors (UtilsTest.java:29-70 in
shojinishimura/Tiny-MD-HBase) ported verbatim, plus Hypothesis round-trip
properties, run both driver-side (pure Python twins) and Spark-side
(Column expressions)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tiny_md_hbase_spark import zorder as Z

MAX_COORD = 2**31 - 1
coords = st.integers(min_value=0, max_value=MAX_COORD)


# --- golden vectors (UtilsTest.java) -------------------------------------

def test_bitwise_zip_golden():
    # UtilsTest.testBitwiseZip: zip(0x0000FFFF, 0x00FF00FF) ==
    # bytes {00 00 55 55 AA AA FF FF} big-endian == 0x00005555AAAAFFFF
    assert Z.zorder_encode_py(0x0000FFFF, 0x00FF00FF) == 0x00005555AAAAFFFF


def test_bitwise_unzip_golden():
    # UtilsTest.testBitwiseUnzip: round-trip of the golden pair
    z = Z.zorder_encode_py(0x0000FFFF, 0x00FF00FF)
    assert Z.zorder_decode_py(z) == (0x0000FFFF, 0x00FF00FF)


def test_makegap_golden():
    # UtilsTest.testMakegap0/1: reference makeGap spreads the UPPER 16 bits
    # into 32 bits. Our spread is full-width (bit i -> bit 2i); the
    # equivalent assertions on our primitive:
    assert Z._spread_py(0x0000FFFF) == 0x55555555
    assert (Z._spread_py(0xFFFF0000 >> 16) << 1) & 0xFFFFFFFF == 0xAAAAAAAA


def test_make_mask_golden(spark):
    # UtilsTest.testMakeMask: makeMask(1)=0x80.., makeMask(8)=0xFF00..,
    # makeMask(9)=0xFF80..
    rows = (
        spark.range(1)
        .select(
            Z.make_mask(1).alias("m1"),
            Z.make_mask(8).alias("m8"),
            Z.make_mask(9).alias("m9"),
            Z.make_mask(64).alias("m64"),
            Z.make_mask(0).alias("m0"),
            Z.make_mask(-3).alias("mneg"),
        )
        .collect()[0]
    )
    as_u64 = lambda v: v & 0xFFFFFFFFFFFFFFFF
    assert as_u64(rows.m1) == 0x8000000000000000
    assert as_u64(rows.m8) == 0xFF00000000000000
    assert as_u64(rows.m9) == 0xFF80000000000000
    assert as_u64(rows.m64) == 0xFFFFFFFFFFFFFFFF
    # out-of-domain guard: pl <= 0 is the empty prefix -> mask 0 (matches
    # everything); without the guard shiftleft(-1, 64) wraps to -1 and a
    # prefix equi-join would silently drop every probe
    assert rows.m0 == 0 and rows.mneg == 0


# --- python-twin properties ----------------------------------------------

@given(coords, coords)
@settings(max_examples=300, deadline=None)
def test_roundtrip_py(x, y):
    assert Z.zorder_decode_py(Z.zorder_encode_py(x, y)) == (x, y)


@given(coords, coords)
@settings(max_examples=300, deadline=None)
def test_z_nonnegative_and_monotone_on_axes(x, y):
    z = Z.zorder_encode_py(x, y)
    assert 0 <= z < 2**63  # signed-long-safe (SURVEY.md §1.4)
    # Morton is monotone in each axis with the other held fixed
    if x < MAX_COORD:
        assert Z.zorder_encode_py(x + 1, y) > z
    if y < MAX_COORD:
        assert Z.zorder_encode_py(x, y + 1) > z


def test_rejects_negative():
    with pytest.raises(ValueError):
        Z.zorder_encode_py(-1, 0)


# --- spark-side equivalence ----------------------------------------------

def test_spark_matches_python_twin(spark):
    import random

    rng = random.Random(42)
    pts = [(rng.randint(0, MAX_COORD), rng.randint(0, MAX_COORD)) for _ in range(500)]
    pts += [(0, 0), (MAX_COORD, MAX_COORD), (0x0000FFFF, 0x00FF00FF), (1, 0), (0, 1)]
    df = spark.createDataFrame(pts, "x int, y int")
    out = df.select(
        "x",
        "y",
        Z.zvalue("x", "y").alias("z"),
    ).withColumns({"rx": Z.z_x("z"), "ry": Z.z_y("z")})
    for r in out.collect():
        assert r.z == Z.zorder_encode_py(r.x, r.y)
        assert (r.rx, r.ry) == (r.x, r.y)


def test_spark_prefix_ops(spark):
    z = Z.zorder_encode_py(0x0000FFFF, 0x00FF00FF)  # 0x00005555AAAAFFFF
    df = spark.range(1).select(F.lit(z).alias("z"))
    row = df.select(
        Z.prefix_match("z", F.lit(z), 64).alias("pm_full"),
        Z.prefix_match("z", F.lit(0), 16).alias("pm16"),
        Z.prefix_match("z", F.lit(0), 18).alias("pm18"),
        Z.set_bit(F.lit(0).cast("long"), 0).alias("sb0"),
        Z.set_bit(F.lit(0).cast("long"), 63).alias("sb63"),
        Z.prefix_render("z", 4).alias("name4"),
    ).collect()[0]
    assert row.pm_full is True
    assert row.pm16 is True  # top 16 bits of z are zero
    assert row.pm18 is False  # bit 46 (18th from MSB, 0x5555... pattern) is 1
    assert (row.sb0 & 0xFFFFFFFFFFFFFFFF) == 0x8000000000000000
    assert row.sb63 == 1
    assert row.name4 == "0000" + "*" * 60


def test_sql_twin_matches(spark):
    """zvalue_sql (the DuckDB oracle text) evaluates identically in Spark SQL."""
    sql = Z.zvalue_sql("x", "y")
    df = spark.createDataFrame(
        [(0x0000FFFF, 0x00FF00FF), (0, 0), (12345, 67890), (MAX_COORD, MAX_COORD)],
        "x int, y int",
    )
    df.createOrReplaceTempView("_zin")
    rows = spark.sql(f"SELECT x, y, {sql} AS z FROM _zin").collect()
    for r in rows:
        assert r.z == Z.zorder_encode_py(r.x, r.y)


def test_sql_twin_matches_duckdb():
    """And identically in DuckDB itself (the actual oracle engine)."""
    duckdb = pytest.importorskip("duckdb")
    sql = Z.zvalue_sql("x", "y")
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT x, y, {sql} AS z FROM (VALUES (65535, 16711935), (0, 0), "
        f"(12345, 67890), (2147483647, 2147483647)) AS t(x, y)"
    ).fetchall()
    for x, y, z in rows:
        assert z == Z.zorder_encode_py(x, y)


# --- z-interval cover -----------------------------------------------------

@given(
    st.integers(min_value=0, max_value=4000),
    st.integers(min_value=0, max_value=4000),
    st.integers(min_value=0, max_value=4000),
    st.integers(min_value=0, max_value=4000),
)
@settings(max_examples=60, deadline=None)
def test_z_cover_properties(x0, w, y0, h):
    rx, ry = (x0, x0 + w), (y0, y0 + h)
    cover = Z.z_cover_py(rx, ry, max_intervals=32)
    assert 1 <= len(cover) <= 32
    # disjoint, sorted, within the single z-window
    lo, hi = Z.zorder_encode_py(rx[0], ry[0]), Z.zorder_encode_py(rx[1], ry[1])
    for (a0, a1), (b0, b1) in zip(cover, cover[1:]):
        assert a0 <= a1 < b0 <= b1
    # every in-rectangle corner/sample point's z is covered
    xs = {rx[0], rx[1], (rx[0] + rx[1]) // 2}
    ys = {ry[0], ry[1], (ry[0] + ry[1]) // 2}
    for px in xs:
        for py in ys:
            z = Z.zorder_encode_py(px, py)
            assert any(a <= z <= b for a, b in cover)
    # never looser than the single z-window
    assert cover[0][0] >= lo
    assert cover[-1][1] <= hi


def test_z_cover_tighter_than_window():
    # thin horizontal band straddling a high z split: the single window
    # covers nearly the whole keyspace; the cover keeps a tiny fraction
    rx, ry = (0, 4095), (2047, 2048)
    lo, hi = Z.zorder_encode_py(rx[0], ry[0]), Z.zorder_encode_py(rx[1], ry[1])
    cover = Z.z_cover_py(rx, ry, max_intervals=64)
    covered = sum(b - a + 1 for a, b in cover)
    assert covered < (hi - lo + 1) / 10
    # and refining further keeps tightening
    finer = sum(b - a + 1 for a, b in Z.z_cover_py(rx, ry, max_intervals=256))
    assert finer < covered / 2


def test_z_cover_degenerate():
    assert Z.z_cover_py((5, 4), (0, 0)) == []
    z = Z.zorder_encode_py(7, 9)
    cover = Z.z_cover_py((7, 7), (9, 9))
    assert any(a <= z <= b for a, b in cover)


def test_coalesce_intervals():
    ivs = [(10, 12), (0, 3), (4, 5), (20, 20), (30, 31), (11, 14)]
    # sorted, touching and overlapping intervals merged
    assert Z.coalesce_intervals(ivs, 10) == [(0, 5), (10, 14), (20, 20), (30, 31)]
    # then the smallest gaps (5 and 6) close first
    assert Z.coalesce_intervals(ivs, 2) == [(0, 20), (30, 31)]
    assert Z.coalesce_intervals(ivs, 1) == [(0, 31)]
    assert Z.coalesce_intervals([], 4) == []


def test_z_cover_kernel_is_exact_at_full_refinement():
    # with budget to spare, the kernel's cells hold exactly the
    # rectangle's points (the Hilbert twin is pinned in test_hilbert.py)
    rx, ry = (3, 17), (5, 22)
    cells = Z.cover_cells(rx, ry, 64, Z.zorder_decode_py, 32)
    pts = {Z.zorder_decode_py(i) for a, b in cells for i in range(a, b + 1)}
    assert pts == {(x, y) for x in range(rx[0], rx[1] + 1) for y in range(ry[0], ry[1] + 1)}
