"""Driver-side serving path (operators.serving): the same rows, schema and
kNN order as the Spark plan it replaces, on the layouts the point store
writes, and the Spark plan kept wherever the driver path does not apply."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark import plans as P
from tiny_md_hbase_spark.operators import serving, spatial
from tiny_md_hbase_spark.operators.write import table_create
from tiny_md_hbase_spark.sources import writer
from tiny_md_hbase_spark.sources.writer import write_points_zsorted

SCHEMA = "id long, x int, y int"


def _served(df) -> bool:
    """A served op is a local relation; the Spark plan scans files."""
    return df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"


def _clustered_points(seed: int, n: int) -> dict[str, np.ndarray]:
    """Clusters of varied spread plus a uniform background on [0, 2^20),
    with repeated coordinates (several ids on one cell)."""
    rng = np.random.default_rng(seed)
    centres = rng.uniform(0, 2**20, size=(8, 2))
    spread = 2.0 ** rng.uniform(4, 14, size=8)
    c = rng.integers(0, 8, n)
    xy = centres[c] + rng.standard_normal((n, 2)) * spread[c, None]
    bg = rng.random(n) < 0.1
    xy[bg] = rng.uniform(0, 2**20, size=(int(bg.sum()), 2))
    xy = np.clip(np.rint(xy), 0, 2**20 - 1).astype(np.int32)
    dup = rng.random(n) < 0.05  # copy an earlier point's cell
    xy[dup] = xy[rng.integers(0, n, int(dup.sum()))]
    return {"id": np.arange(n, dtype=np.int64), "x": xy[:, 0], "y": xy[:, 1]}


def _df(spark, cols: dict[str, np.ndarray]):
    return spark.createDataFrame(pa.table(cols), schema=SCHEMA)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """A z-sorted table and an appended one whose two batches overlap in
    z; both read back as the CLI does (a plain projection)."""
    root = tmp_path_factory.mktemp("serving")
    cols = _clustered_points(1, 30_000)
    zs = str(root / "zsorted")
    app = str(root / "appended")
    halves = {k: v[::2] for k, v in cols.items()}, {k: v[1::2] for k, v in cols.items()}
    with pytest.MonkeyPatch.context() as m:
        # small row groups, so that this small table has many boxes to prune
        m.setattr(writer, "ZSORTED_ROW_GROUP_MIN_BYTES", 16 * 1024)
        write_points_zsorted(_df(spark, cols), zs, num_partitions=4)
        write_points_zsorted(_df(spark, halves[0]), app, num_partitions=3)
        write_points_zsorted(_df(spark, halves[1]), app, num_partitions=3, mode="append")
    frames = {
        name: spark.read.parquet(path).select("id", "x", "y")
        for name, path in (("zsorted", zs), ("appended", app))
    }
    frames["zsorted_raw"] = spark.read.parquet(zs)  # with its zvalue column
    return frames, cols


def _queries(cols, seed: int):
    rng = np.random.default_rng(seed)
    n = len(cols["id"])
    out = []
    for _ in range(12):
        p = int(rng.integers(n))
        x, y = int(cols["x"][p]), int(cols["y"][p])
        half = int(2 ** rng.uniform(2, 19))
        rect = ((x - half, x + half), (y - half, y + half))
        out += [
            ("get", spatial.point_get, (x, y)),
            ("get", spatial.point_get, (x + 1, y)),
            ("range", spatial.range_query, rect),
            ("count", spatial.range_count, rect),
            ("knn", spatial.knn, (x, y, int(rng.choice([1, 5, 10, 64])))),
        ]
    out += [
        ("count", spatial.range_count, ((0, 2**20), (0, 2**20))),  # all inside
        ("range", spatial.range_query, ((0, 2**19), (2**19, 2**20))),
    ]
    return out


def _spark_plan(kind, points, args):
    return {
        "get": lambda x, y: spatial._range_plan(points, (x, x), (y, y)),
        "range": lambda rx, ry: spatial._range_plan(points, rx, ry),
        "count": lambda rx, ry: spatial._range_plan(points, rx, ry).agg(F.count("*").alias("cnt")),
        "knn": lambda qx, qy, k: spatial._knn_plan(points, qx, qy, k),
    }[kind](*args)


def _assert_same(kind, got_df, want_df):
    assert got_df.schema == want_df.schema
    got = [tuple(r) for r in got_df.collect()]
    want = [tuple(r) for r in want_df.collect()]
    if kind == "knn":
        assert got == want
    else:
        assert sorted(got) == sorted(want)


@pytest.mark.parametrize("layout", ["zsorted", "appended"])
def test_served_ops_equal_spark_plan(tables, layout):
    frames, cols = tables
    points = frames[layout]
    assert len(serving._snapshot(points).groups) > 4  # the layout prunes
    for kind, op, args in _queries(cols, seed=7):
        got, want = op(points, *args), _spark_plan(kind, points, args)
        # a range answer over MAX_RESULT_ROWS is left to the Spark plan
        big = kind == "range" and want.count() > serving.MAX_RESULT_ROWS
        assert _served(got) != big, (kind, args)
        _assert_same(kind, got, want)


def test_point_get_schema_matches_spark_plan(tables):
    frames, cols = tables
    x, y = int(cols["x"][0]), int(cols["y"][0])
    got = spatial.point_get(frames["zsorted"], x, y)
    want = frames["zsorted"].filter((F.col("x") == x) & (F.col("y") == y)).select("id", "x", "y")
    _assert_same("get", got, want)


def test_empty_table(spark, tmp_path):
    table_create(spark, str(tmp_path / "t"))
    points = spark.read.parquet(str(tmp_path / "t" / "points")).select("id", "x", "y")
    for kind, op, args in [
        ("get", spatial.point_get, (1, 1)),
        ("range", spatial.range_query, ((0, 9), (0, 9))),
        ("count", spatial.range_count, ((0, 9), (0, 9))),
        ("knn", spatial.knn, (1, 1, 3)),
    ]:
        got = op(points, *args)
        assert _served(got)
        _assert_same(kind, got, _spark_plan(kind, points, args))
    assert spatial.range_count(points, (0, 9), (0, 9)).collect()[0].cnt == 0


@pytest.fixture()
def small(spark, tmp_path):
    """Duplicates and exact distance ties around (10, 10)."""
    rows = {
        "id": np.array([5, 3, 4, 1, 2, 2, 9, 7], dtype=np.int64),
        "x": np.array([10, 0, 20, 10, 10, 10, 10, 30], dtype=np.int32),
        "y": np.array([0, 10, 10, 20, 20, 20, 10, 30], dtype=np.int32),
    }
    path = str(tmp_path / "small")
    write_points_zsorted(_df(spark, rows), path, num_partitions=2)
    return spark.read.parquet(path).select("id", "x", "y")


def test_edge_cases(small):
    cases = [
        ("get", (10, 20)),  # duplicate coordinates: ids 1, 2, 2
        ("knn", (10, 10, 3)),  # ties at distance 10 cut at the k boundary
        ("knn", (10, 10, 4)),
        ("knn", (10, 10, 0)),
        ("knn", (10, 10, 100)),  # k > n
        ("range", ((20, 10), (0, 30))),  # lo > hi
        ("count", ((20, 10), (0, 30))),
        ("range", ((1000, 2000), (1000, 2000))),  # outside the data
        ("count", ((1000, 2000), (1000, 2000))),
        ("range", ((10, 10), (0, 20))),  # inclusive on both ends
    ]
    ops = {"get": spatial.point_get, "range": spatial.range_query,
           "count": spatial.range_count, "knn": spatial.knn}
    for kind, args in cases:
        got = ops[kind](small, *args)
        assert _served(got), (kind, args)
        _assert_same(kind, got, _spark_plan(kind, small, args))
    assert sorted(r.id for r in spatial.point_get(small, 10, 20).collect()) == [1, 2, 2]
    assert [(r.id, r.dist_sq) for r in spatial.knn(small, 10, 10, 3).collect()] == [
        (9, 0), (1, 100), (2, 100)
    ]
    assert spatial.knn(small, 10, 10, 0).collect() == []
    assert spatial.knn(small, 10, 10, 100).count() == 8
    assert spatial.range_count(small, (20, 10), (0, 30)).collect()[0].cnt == 0


def test_arrow_hand_off_keeps_rows_after_leading_empty_batches(spark, small):
    # PySpark 4.1's Arrow createDataFrame drops every row of a table whose
    # first two or more record batches are empty
    empty = pa.table({"id": pa.array([], pa.int64()), "x": pa.array([], pa.int32()),
                      "y": pa.array([], pa.int32())})
    one = pa.table({"id": pa.array([7], pa.int64()), "x": pa.array([1], pa.int32()),
                    "y": pa.array([2], pa.int32())})
    chunked = pa.concat_tables([empty, empty, one])
    assert [len(b) for b in chunked.to_batches()] == [0, 0, 1]
    df = serving.to_local_df(small, chunked, small.schema)
    assert [tuple(r) for r in df.collect()] == [(7, 1, 2)]


def test_ingest_shaped_table_with_leading_empty_files(spark, tmp_path):
    """Empty files (as ``table_create`` leaves) sort ahead of the data
    files, the layout that lost rows through the Arrow hand-off."""
    path = tmp_path / "ingest"
    path.mkdir()
    cols = _clustered_points(3, 4_000)
    arrow = pa.table(cols)
    for i in range(3):
        pq.write_table(arrow.slice(0, 0), path / f"part-0000{i}-empty.parquet")
    for i, part in enumerate((arrow.slice(0, 2_000), arrow.slice(2_000))):
        pq.write_table(part, path / f"part-0001{i}-data.parquet", row_group_size=500)
    points = spark.read.parquet(str(path)).select("id", "x", "y")
    for kind, op, args in _queries(cols, seed=11):
        got = op(points, *args)
        assert _served(got), (kind, args)
        _assert_same(kind, got, _spark_plan(kind, points, args))


def test_fallback_filtered_and_derived(tables):
    frames, cols = tables
    base = frames["zsorted"]
    x, y = int(cols["x"][3]), int(cols["y"][3])
    filtered = base.filter(F.col("id") >= 0)
    derived = base.select("id", (F.col("x") + 0).alias("x"), "y")
    aliased = base.select("id", F.col("y").alias("x"), F.col("x").alias("y"))
    for points in (filtered, derived, aliased):
        for q in (
            spatial.point_get(points, x, y),
            spatial.range_query(points, (x - 9, x + 9), (y - 9, y + 9)),
            spatial.range_count(points, (x - 9, x + 9), (y - 9, y + 9)),
            spatial.knn(points, x, y, 5),
        ):
            assert not _served(q)
    # the Spark plan still answers them exactly
    got = sorted(tuple(r) for r in spatial.point_get(filtered, x, y).collect())
    assert got == sorted(tuple(r) for r in spatial.point_get(base, x, y).collect())
    # nested column projections are still plain scans
    assert _served(spatial.point_get(base.select("x", "y", "id"), x, y))


def test_fallback_null_coordinates(spark, tmp_path):
    path = str(tmp_path / "nulls")
    spark.createDataFrame([(1, 5, 5), (2, None, 5), (3, 5, 5)], SCHEMA).write.parquet(path)
    points = spark.read.parquet(path).select("id", "x", "y")
    q = spatial.point_get(points, 5, 5)
    assert not _served(q)
    assert sorted(r.id for r in q.collect()) == [1, 3]
    assert not _served(spatial.knn(points, 5, 5, 2))


def test_fallback_z_prefilter_keeps_pushdown(tables, monkeypatch):
    frames, _ = tables
    zt = frames["zsorted_raw"]
    monkeypatch.setattr(serving, "MAX_FILES", 0)
    for q in (
        spatial.range_query(zt, (512, 1535), (1024, 3071)),
        spatial.range_count(zt, (512, 1535), (1024, 3071)),
        spatial.point_get(zt, 512, 1024),
    ):
        assert not _served(q)
        pushed = " ".join(P.pushed_filters(q))
        assert "x" in pushed and "y" in pushed and "zvalue" in pushed


def test_spark_plans_equal_served_answers(tables, monkeypatch):
    """The one pruning rule of the Spark plans (rectangle plus z cover)
    answers what the served read answers, negative lower bounds
    included, and knn's rounds (from a radius of 1) answer what the
    served knn does."""
    frames, cols = tables
    zt = frames["zsorted_raw"]
    queries = _queries(cols, seed=5)
    served = [[tuple(r) for r in op(zt, *args).collect()] for _, op, args in queries]
    monkeypatch.setattr(serving, "MAX_FILES", 0)
    monkeypatch.setattr(spatial, "_KNN_RADIUS", 1)
    for (kind, op, args), want in zip(queries, served):
        q = op(zt, *args)
        if kind == "knn":
            assert [tuple(r) for r in q.collect()] == want, args
            continue
        assert not _served(q)
        assert sorted(tuple(r) for r in q.collect()) == sorted(want), (kind, args)
    q = spatial.range_query(zt, (0, 2**19), (2**19, 2**20))
    assert "zvalue" in " ".join(P.pushed_filters(q))


def test_fallback_over_bounds(tables, monkeypatch):
    frames, cols = tables
    points = frames["zsorted"]
    x, y = int(cols["x"][0]), int(cols["y"][0])
    whole = ((0, 2**20), (0, 2**20))
    with monkeypatch.context() as m:
        m.setattr(serving, "MAX_READ_ROWS", 0)  # every read is over the bound
        assert not _served(spatial.point_get(points, x, y))
        assert not _served(spatial.knn(points, x, y, 3))
        # a count wholly answered from footers reads nothing: still served
        assert _served(spatial.range_count(points, *whole))
    with monkeypatch.context() as m:
        m.setattr(serving, "MAX_READ_ROWS", -1)
        assert not _served(spatial.range_count(points, *whole))
    with monkeypatch.context() as m:
        m.setattr(serving, "MAX_RESULT_ROWS", 2)
        assert _served(spatial.knn(points, x, y, 2))
        assert not _served(spatial.knn(points, x, y, 3))
        q = spatial.range_query(points, *whole)  # the answer is too big
        assert not _served(q)
        assert q.count() == len(cols["id"])
        assert _served(spatial.range_count(points, *whole))
    with monkeypatch.context() as m:
        files = len(points.inputFiles())
        m.setattr(serving, "MAX_FILES", files - 1)
        assert files > 1 and not _served(spatial.point_get(points, x, y))
        m.setattr(serving, "MAX_FILES", files)
        assert _served(spatial.point_get(points, x, y))


def test_fallback_disagreeing_file_schemas(spark, tmp_path):
    path = tmp_path / "mixed"
    path.mkdir()
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()), "x": pa.array([1], pa.int32()),
                             "y": pa.array([1], pa.int32())}), path / "a.parquet")
    pq.write_table(pa.table({"id": pa.array([2], pa.int64()), "x": pa.array([2], pa.int64()),
                             "y": pa.array([2], pa.int32())}), path / "b.parquet")
    points = spark.read.schema(SCHEMA).parquet(str(path))
    assert not _served(spatial.range_query(points, (0, 9), (0, 9)))


def test_fallback_partitioned_and_non_file_paths(spark, tmp_path, small):
    path = str(tmp_path / "parted")
    small.withColumn("p", F.col("id") % 2).write.partitionBy("p").parquet(path)
    parted = spark.read.parquet(path).select("id", "x", "y")
    assert not _served(spatial.point_get(parted, 10, 20))
    assert serving._local_path("hdfs://nn:8020/t/points/part-0.parquet") is None
    assert serving._local_path("file:///t/a%20b/part-0.parquet") == "/t/a b/part-0.parquet"
    assert os.path.isabs(serving._local_path(small.inputFiles()[0]))


# -- the cache of footers and decoded row groups ---------------------------


@pytest.fixture()
def cache(monkeypatch):
    """A fresh, empty serving cache for one test."""
    fresh = serving._Cache()
    monkeypatch.setattr(serving, "_CACHE", fresh)
    return fresh


def _write_plain(path, cols: dict[str, np.ndarray], row_group_size: int = 500) -> None:
    """Uncompressed, unencoded pages: equal row counts give equal sizes."""
    pq.write_table(pa.table(cols).cast(pa.schema([("id", pa.int64()), ("x", pa.int32()),
                                                   ("y", pa.int32())])),
                   path, row_group_size=row_group_size, compression="none", use_dictionary=False)


def _ops(cols, seed: int, n: int):
    """``n`` (kind, serve function, args) reads around rows of ``cols``."""
    serve = {"get": serving.serve_get, "range": serving.serve_range,
             "count": serving.serve_count, "knn": serving.serve_knn}
    return [(kind, serve[kind], args) for kind, _, args in _queries(cols, seed)][:n]


class _Counts:
    """Footer parses, row groups decoded and plan checks, counted by
    wrapping them for one test."""

    def __init__(self, monkeypatch):
        self.footers = self.decodes = self.plan_checks = 0
        read_metadata, read_row_group, plan_check = (
            pq.read_metadata, pq.ParquetFile.read_row_group, serving._plain_parquet_index
        )

        def counted_read_metadata(*a, **kw):
            self.footers += 1
            return read_metadata(*a, **kw)

        def counted_read_row_group(*a, **kw):
            self.decodes += 1
            return read_row_group(*a, **kw)

        def counted_plan_check(*a, **kw):
            self.plan_checks += 1
            return plan_check(*a, **kw)

        monkeypatch.setattr(pq, "read_metadata", counted_read_metadata)
        monkeypatch.setattr(pq.ParquetFile, "read_row_group", counted_read_row_group)
        monkeypatch.setattr(serving, "_plain_parquet_index", counted_plan_check)

    def reset(self) -> None:
        self.footers = self.decodes = self.plan_checks = 0


def test_repeated_ops_parse_and_decode_nothing(spark, tmp_path, cache, monkeypatch):
    path = tmp_path / "t"
    path.mkdir()
    cols = _clustered_points(4, 4_000)
    for i in range(2):
        _write_plain(path / f"part-{i}.parquet", {k: v[i::2] for k, v in cols.items()})
    points = spark.read.parquet(str(path)).select("id", "x", "y")
    counts = _Counts(monkeypatch)
    ops = _ops(cols, seed=3, n=20)
    first = [[tuple(r) for r in serve(points, *args).collect()] for _, serve, args in ops]
    assert counts.footers == 2 and counts.decodes > 0 and counts.plan_checks == 1
    counts.reset()
    again = [[tuple(r) for r in serve(points, *args).collect()] for _, serve, args in ops]
    assert again == first
    assert (counts.footers, counts.decodes, counts.plan_checks) == (0, 0, 0)
    # a new frame over the same files checks its plan, and parses nothing
    fresh = spark.read.parquet(str(path)).select("id", "x", "y")
    kind, serve, args = ops[0]
    assert [tuple(r) for r in serve(fresh, *args).collect()] == first[0]
    assert (counts.footers, counts.decodes, counts.plan_checks) == (0, 0, 1)


@pytest.mark.parametrize("rewrite", ["new_inode", "new_mtime"])
def test_rewritten_file_is_parsed_again(spark, tmp_path, cache, monkeypatch, rewrite):
    path = tmp_path / "t"
    path.mkdir()
    cols = _clustered_points(5, 2_000)
    moved = {"id": cols["id"] + 10_000, "x": cols["x"] + 1, "y": cols["y"]}
    f = path / "part-0.parquet"
    _write_plain(f, cols)
    points = spark.read.parquet(str(path)).select("id", "x", "y")
    x, y = int(cols["x"][7]), int(cols["y"][7])
    rect = ((x - 5_000, x + 5_000), (y - 5_000, y + 5_000))

    def answers():
        return (
            sorted(tuple(r) for r in serving.serve_get(points, x + 1, y).collect()),
            serving.serve_count(points, *rect).collect()[0].cnt,
            [tuple(r)[:3] for r in serving.serve_knn(points, x + 1, y, 5).collect()],
        )

    before = answers()
    assert all(r[0] < 10_000 for r in before[0])
    counts = _Counts(monkeypatch)
    st = os.stat(f)
    if rewrite == "new_inode":
        _write_plain(tmp_path / "next.parquet", moved)
        os.replace(tmp_path / "next.parquet", f)
        assert os.stat(f).st_ino != st.st_ino
    else:  # the same inode and size: only the mtime tells the versions apart
        _write_plain(tmp_path / "next.parquet", moved)
        data = (tmp_path / "next.parquet").read_bytes()
        assert len(data) == st.st_size
        with open(f, "r+b") as fh:
            fh.write(data)
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        assert (os.stat(f).st_ino, os.stat(f).st_size) == (st.st_ino, st.st_size)
    after = answers()
    assert counts.footers == 1 and counts.decodes > 0
    keep = (moved["x"] >= rect[0][0]) & (moved["x"] <= rect[0][1])
    keep &= (moved["y"] >= rect[1][0]) & (moved["y"] <= rect[1][1])
    at = (moved["x"] == x + 1) & (moved["y"] == y)
    assert after[0] == sorted(zip(moved["id"][at].tolist(), moved["x"][at].tolist(),
                                  moved["y"][at].tolist()))
    assert after[0] and all(r[0] >= 10_000 for r in after[0])
    assert after[1] == int(keep.sum())
    assert all(r[0] >= 10_000 for r in after[2])


def test_deleted_file_falls_back(spark, tmp_path, cache):
    path = tmp_path / "t"
    path.mkdir()
    cols = _clustered_points(6, 1_000)
    for i in range(2):
        _write_plain(path / f"part-{i}.parquet", {k: v[i::2] for k, v in cols.items()})
    points = spark.read.parquet(str(path)).select("id", "x", "y")
    x, y = int(cols["x"][0]), int(cols["y"][0])
    assert serving.serve_get(points, x, y) is not None  # cached now
    os.remove(path / "part-1.parquet")
    assert serving.serve_get(points, x, y) is None
    assert serving.serve_count(points, (0, 2**20), (0, 2**20)) is None
    assert serving.serve_knn(points, x, y, 3) is None


def test_decode_of_a_changed_file_falls_back(spark, tmp_path, cache):
    """The footer was planned from one version; the row group is asked
    of a file that is now another: never cached under the old key."""
    path = tmp_path / "t"
    path.mkdir()
    cols = _clustered_points(7, 1_000)
    f = path / "part-0.parquet"
    _write_plain(f, cols)
    points = spark.read.parquet(str(path)).select("id", "x", "y")
    snap = serving._snapshot(points)
    _write_plain(tmp_path / "next.parquet", cols)
    os.replace(tmp_path / "next.parquet", f)
    assert snap.read(snap.groups) is None
    assert cache.rows == 0


def test_fresh_frames_after_insert_and_compact(spark, tmp_path, cache):
    """After each insert and after a compaction, served reads on a fresh
    frame equal the Spark plan, and the stored index equals a full build
    over the live points."""
    from tiny_md_hbase_spark.operators import write as W
    from tiny_md_hbase_spark.operators.index import index_build_np
    from tiny_md_hbase_spark.sources.writer import compact_points_table
    from tiny_md_hbase_spark.zorder import zvalue_np

    table = str(tmp_path / "t")
    table_create(spark, table)
    cols = _clustered_points(8, 3_000)
    ops = _ops(cols, seed=9, n=15)
    live = []
    for step, half in (("insert", 0), ("insert", 1), ("compact", None)):
        if step == "insert":
            batch = {k: v[half::2] for k, v in cols.items()}
            W.insert_append_incremental(spark, table, _df(spark, batch))
            live.append(zvalue_np(batch["x"], batch["y"]))
        else:
            compact_points_table(spark, table)
        stored = W._read_index(*W._table_fs(table))
        np.testing.assert_array_equal(stored, index_build_np(np.concatenate(live)))
        points = spark.read.parquet(f"{table}/points").select("id", "x", "y")
        for kind, serve, args in ops:
            got = serve(points, *args)
            assert got is not None, (step, kind, args)
            _assert_same(kind, got, _spark_plan(kind, points, args))
    assert spatial.range_count(points, (0, 2**20), (0, 2**20)).collect()[0].cnt == 3_000


def test_cached_frame_equals_spark_plan(spark, tmp_path, cache):
    """A cached plain frame is served from its relation's files, not from
    ``DataFrame.inputFiles``, which lists none for it (its optimized plan
    is an ``InMemoryRelation``)."""
    path = tmp_path / "t"
    path.mkdir()
    cols = _clustered_points(15, 3_000)
    for i in range(2):
        _write_plain(path / f"part-{i}.parquet", {k: v[i::2] for k, v in cols.items()})
    points = spark.read.parquet(str(path)).select("id", "x", "y").cache()
    try:
        assert points.inputFiles() == []
        for kind, op, args in _queries(cols, seed=16):
            got, want = op(points, *args), _spark_plan(kind, points, args)
            big = kind == "range" and want.count() > serving.MAX_RESULT_ROWS
            assert _served(got) != big, (kind, args)
            _assert_same(kind, got, want)
        whole = spatial.range_count(points, (0, 2**20), (0, 2**20))
        assert _served(whole) and whole.collect()[0].cnt == 3_000
    finally:
        points.unpersist()


def test_cache_keeps_to_its_bounds(spark, tmp_path, cache, monkeypatch):
    path = tmp_path / "t"
    path.mkdir()
    cols = _clustered_points(10, 6_000)
    for i in range(3):
        _write_plain(path / f"part-{i}.parquet", {k: v[i::3] for k, v in cols.items()},
                     row_group_size=250)
    monkeypatch.setattr(serving, "MAX_CACHED_ROWS", 1_000)
    monkeypatch.setattr(serving, "_MAX_FOOTERS", 2)  # of the table's 3 files
    points = spark.read.parquet(str(path)).select("id", "x", "y")
    counts = _Counts(monkeypatch)
    ops = _ops(cols, seed=12, n=40)
    want = [_spark_plan(kind, points, args) for kind, _, args in ops]
    decoded = []
    for _ in range(2):
        for (kind, serve, args), plan in zip(ops, want):
            got = serve(points, *args)
            assert got is not None, (kind, args)
            _assert_same(kind, got, plan)
            assert cache.rows == sum(len(c[0]) for c in cache._groups.values())
            assert cache.rows <= serving.MAX_CACHED_ROWS
            assert len(cache._footers) <= 2
        decoded.append(counts.decodes)
    # the second pass decoded again what the budget had evicted
    assert decoded[1] > decoded[0] > 0


def test_concurrent_served_ops_equal_spark_plan(spark, tmp_path, cache, monkeypatch):
    import sys
    import threading

    path = tmp_path / "t"
    path.mkdir()
    cols = _clustered_points(13, 6_000)
    for i in range(3):
        _write_plain(path / f"part-{i}.parquet", {k: v[i::3] for k, v in cols.items()},
                     row_group_size=250)
    monkeypatch.setattr(serving, "MAX_CACHED_ROWS", 2_000)  # evictions race lookups
    points = spark.read.parquet(str(path)).select("id", "x", "y")
    ops = _ops(cols, seed=14, n=20)
    want = [_spark_plan(kind, points, args).collect() for kind, _, args in ops]
    want = [rows if kind == "knn" else sorted(rows) for (kind, _, _), rows in zip(ops, want)]
    wrong, errors = [], []

    def client(c: int) -> None:
        try:
            for i in range(200):
                j = (7 * i + c) % len(ops)
                kind, serve, args = ops[j]
                rows = serve(points, *args).collect()
                if (rows if kind == "knn" else sorted(rows)) != want[j]:
                    wrong.append((kind, args))
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client, args=(c,)) for c in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    assert cache.rows == sum(len(c[0]) for c in cache._groups.values())
    assert cache.rows <= serving.MAX_CACHED_ROWS


def test_cache_under_thread_stress(cache, monkeypatch):
    """More threads than cores hit one small cache with overlapping reads
    while evictions run: no lookup fails and the row count stays exact."""
    import sys
    import threading

    def decode(file, indexes):
        zero = np.zeros(10, np.int32)
        return {(file, i): (np.full(10, i, np.int64), zero, zero) for i in indexes}

    monkeypatch.setattr(serving, "_decode", decode)
    monkeypatch.setattr(serving, "MAX_CACHED_ROWS", 50)
    key = ("f", 1, 1, 1)
    groups = [serving._Group(key, i, 10, (0, 1), (0, 1)) for i in range(40)]
    errors = []

    def client(c: int) -> None:
        rng = np.random.default_rng(c)
        try:
            for _ in range(5_000):
                picked = [groups[i] for i in rng.choice(len(groups), 3, replace=False)]
                got = cache.read(picked)
                assert [int(cols[0][0]) for cols in got] == [g.index for g in picked]
        except Exception as e:  # reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        n = 2 * (os.cpu_count() or 4)  # more threads than cores
        threads = [threading.Thread(target=client, args=(c,)) for c in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert cache.rows == sum(len(c[0]) for c in cache._groups.values()) <= 50
