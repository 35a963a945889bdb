"""Index tests (SURVEY.md §5.3): structural invariants after build, exact
equivalence with an independent one-bit-at-a-time Python recursion, floor
lookup semantics, and rendering."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from trie_oracle import index_build_py

from tiny_md_hbase_spark.operators import index as IX
from tiny_md_hbase_spark.sources import points
from tiny_md_hbase_spark.zorder import zorder_encode_py

THRESHOLD = 10


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    pts = points(spark, sf_dir)
    idx = IX.index_build(pts, threshold=THRESHOLD)
    return pts, idx, idx.collect()


def test_matches_python_reference(spark, built):
    pts, _, rows = built
    cell_counts = [
        (r.z, r.c) for r in IX.cells(pts).collect()
    ]
    expected = index_build_py(cell_counts, threshold=THRESHOLD)
    got = sorted((r.bucket_z, r.pl, r.size) for r in rows)
    assert got == expected


def test_invariants(built):
    pts, _, rows = built
    n_points = pts.count()
    # sizes are exact and sum to the row count
    assert sum(r.size for r in rows) == n_points
    # every bucket within threshold unless at max depth
    for r in rows:
        assert r.size <= THRESHOLD or r.pl == IX.MAX_DEPTH
        assert IX.ROOT_PL <= r.pl <= IX.MAX_DEPTH
        # bucket key has no bits below its prefix
        if r.pl < 64:
            assert r.bucket_z & ((1 << (64 - r.pl)) - 1) == 0
    # disjoint + coverage of the [00*] domain: walking buckets in z order,
    # each starts exactly where the previous ended
    spans = sorted((r.bucket_z, r.bucket_z + (1 << (64 - r.pl))) for r in rows)
    cursor = 0
    for lo, hi in spans:
        assert lo == cursor, f"gap/overlap at {lo:#x} (expected {cursor:#x})"
        cursor = hi
    assert cursor == 1 << 62  # whole [00*...*] root subspace


def test_empty_input_seeds_root(spark):
    empty = spark.createDataFrame([], "id long, x int, y int")
    rows = IX.index_build(empty).collect()
    assert [(r.bucket_z, r.pl, r.size) for r in rows] == [(0, IX.ROOT_PL, 0)]


def test_small_input_single_bucket(spark):
    df = spark.createDataFrame(
        [(i, i, i) for i in range(5)], "id long, x int, y int"
    )
    rows = IX.index_build(df).collect()
    assert [(r.bucket_z, r.pl, r.size) for r in rows] == [(0, IX.ROOT_PL, 5)]


def test_identical_cell_pileup_stops_at_max_depth(spark):
    # > threshold points on one cell can never split apart: the reference
    # chains empty siblings down to pl=64 (Index.java:201-203)
    df = spark.createDataFrame(
        [(i, 7, 9) for i in range(15)], "id long, x int, y int"
    )
    rows = sorted(IX.index_build(df).collect(), key=lambda r: (r.bucket_z, r.pl))
    z = zorder_encode_py(7, 9)
    full = [r for r in rows if r.size == 15]
    assert len(full) == 1 and full[0].bucket_z == z and full[0].pl == 64
    assert all(r.size == 0 for r in rows if r.bucket_z != z)
    # chain: one empty sibling per level from 3..64
    assert len(rows) == 1 + (64 - IX.ROOT_PL)


def test_floor_lookup(spark, built):
    _, idx, rows = built
    probe = zorder_encode_py(2048, 2048)
    got = IX.floor_lookup(idx, probe).collect()
    expected = max(r.bucket_z for r in rows if r.bucket_z <= probe)
    assert len(got) == 1 and got[0].bucket_z == expected
    # the probe falls inside the bucket's span (coverage ⇒ ownership)
    r = got[0]
    assert r.bucket_z <= probe < r.bucket_z + (1 << (64 - r.pl))


def test_floor_lookup_batch(spark, built):
    _, idx, rows = built
    coords = [(0, 0), (100, 7), (2048, 2048), (4095, 4095)]
    probes = spark.createDataFrame(
        [(zorder_encode_py(x, y),) for x, y in coords], "z long"
    )
    got = {r.z: r.bucket_z for r in IX.floor_lookup_batch(idx, probes).collect()}
    assert len(got) == len(coords)  # complete cover: every probe resolves
    for z, bz in got.items():
        assert bz == max(r.bucket_z for r in rows if r.bucket_z <= z)


def test_floor_lookup_batch_drops_out_of_cover_probe(spark, built):
    """A probe OUTSIDE the index's [00*] cover (impossible against a
    complete index over real data, since x,y <= 4095 keeps every z below
    2^24) is dropped, not floored to an unrelated preceding bucket — the
    documented divergence from getRowOrBefore (Index.java:115-122)."""
    _, idx, _ = built
    probes = spark.createDataFrame(
        [(zorder_encode_py(2048, 2048),), (1 << 62,)], "z long"
    )
    got = IX.floor_lookup_batch(idx, probes).collect()
    assert len(got) == 1
    assert got[0].z == zorder_encode_py(2048, 2048)


def test_floor_lookup_batch_is_equi_join(spark, built):
    """The batch floor lookup must be the prefix equi-join, never the
    O(|probes| x |buckets|) inequality nested loop."""
    from tiny_md_hbase_spark import plans as P

    _, idx, _ = built
    probes = spark.range(64).select((F.col("id") * 997 % (1 << 24)).alias("z"))
    q = IX.floor_lookup_batch(idx, probes)
    plan = P.explain_str(q, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert P.broadcast_join_count(q) >= 1


def test_index_inspect_render(spark):
    df = spark.createDataFrame([(i, i % 3, i % 5) for i in range(40)], "id long, x int, y int")
    idx = IX.index_build(df, threshold=10)
    out = IX.index_inspect(idx).collect()
    assert all(len(r.bucket_name) == 64 for r in out)
    for r in out:
        stars = r.bucket_name.count("*")
        assert set(r.bucket_name[: 64 - stars]) <= {"0", "1"}
        assert r.bucket_name.endswith("*" * stars)


def test_bucket_route_matches_index_sizes(spark, built):
    pts, idx, rows = built
    routed = {(r.bucket_z, r.pl): r.n_points for r in IX.bucket_route(pts, idx).collect()}
    for r in rows:
        if r.size > 0:
            assert routed[(r.bucket_z, r.pl)] == r.size
    # non-empty buckets only, and nothing routed outside the index
    assert set(routed) <= {(r.bucket_z, r.pl) for r in rows}
    assert sum(routed.values()) == pts.count()


def test_split_step_both_children(spark, built):
    """split_step (Index.splitBucket, Index.java:183-230) returns exactly
    the two child entries: keys = parent / parent|splitbit, sizes exact
    and summing to the parent's count — including an empty child (the
    reference writes both entries unconditionally, Index.java:217-227)."""
    pts, _, _ = built
    pl = 8
    rows = sorted(IX.split_step(pts, parent_pl=pl).collect(), key=lambda r: r.child_z)
    assert len(rows) == 2
    parent_z = rows[0].parent_z
    assert rows[0].child_z == parent_z
    assert rows[1].child_z == parent_z | (1 << (63 - pl))
    assert all(r.pl == pl + 1 for r in rows)
    # sizes are exact: recount the parent prefix directly
    from tiny_md_hbase_spark.zorder import make_mask, zvalue

    n_parent = (
        pts.select(zvalue("x", "y").alias("z"))
        .filter(F.col("z").bitwiseAND(make_mask(pl)) == parent_z)
        .count()
    )
    assert rows[0].size + rows[1].size == n_parent


def test_split_step_empty_child(spark):
    """A parent whose points all share the split bit still yields two
    entries, one with size 0."""
    pts = spark.createDataFrame(
        [(i, 0, 0) for i in range(5)], "id long, x int, y int"
    )
    rows = sorted(
        IX.split_step(pts, parent_pl=2).collect(), key=lambda r: r.child_z
    )
    assert len(rows) == 2
    assert (rows[0].size, rows[1].size) == (5, 0)


def test_index_build_np_equals_py_oracle():
    """The numpy trie kernel (the package's only one) must emit EXACTLY
    the pure-Python recursion's output — same leaves, same (bucket_z,
    pl, size) tuples, same sort — across empty, tiny, duplicate-key,
    weighted-count and deep/shallow-depth inputs."""
    import random

    import numpy as np

    random.seed(20260817)
    cases = []
    for _ in range(25):
        n = random.choice([0, 1, 7, 300, 4000])
        cases.append(
            (
                [
                    (random.getrandbits(40), random.randint(1, 5))
                    for _ in range(n)
                ],
                random.choice([1, 3, 10]),
                random.choice([6, 12, 40, 64]),
                random.choice([2, 5]),
            )
        )
    cases.append(([(7, 1)] * 100 + [(9, 2)] * 50, 10, 64, 2))
    for cells, th, md, rpl in cases:
        want = index_build_py(cells, threshold=th, max_depth=md, root_pl=rpl)
        z = np.array([c[0] for c in cells], dtype=np.int64)
        c = np.array([c[1] for c in cells], dtype=np.int64)
        got = IX.index_build_np(z, c, threshold=th, max_depth=md, root_pl=rpl)
        assert list(map(tuple, got.tolist())) == want


def test_index_build_np_many_roots_equals_one_call_per_root():
    """Given several disjoint roots, the kernel returns the union of the
    one-root builds and ignores z values outside every root — the form
    the incremental refresh uses to rebuild all overflowing buckets in one
    call over a superset scan."""
    import numpy as np

    rng = np.random.default_rng(7)
    roots = [(0, 6), (1 << 58, 7), (3 << 57, 8), (1 << 61, 3)]
    z = np.concatenate(
        [bz + rng.integers(0, 1 << (64 - pl), 500) for bz, pl in roots]
        + [np.array([(1 << 60) + 5, 7 << 56])]  # outside every root
    )
    got = IX.index_build_np(
        z, root_z=[bz for bz, _ in roots], root_pl=[pl for _, pl in roots]
    )
    want = sorted(
        t
        for bz, pl in roots
        for t in index_build_py(
            [(int(v), 1) for v in z if bz <= v < bz + (1 << (64 - pl))],
            root_z=bz,
            root_pl=pl,
        )
    )
    assert list(map(tuple, got.tolist())) == want
