"""Incremental index refresh: equivalence with a full rebuild across
append sequences, including splits triggered by the increment."""

from __future__ import annotations

import glob
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators import index as IX
from tiny_md_hbase_spark.operators import write as W
from tiny_md_hbase_spark.sources import points


@pytest.fixture()
def tmp_table():
    d = tempfile.mkdtemp(prefix="tmh_inc_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _index_set(spark, path):
    return sorted(
        (r.bucket_z, r.pl, r.size)
        for r in spark.read.parquet(f"{path}/index").collect()
    )


def _full_set(spark, path):
    pts = spark.read.parquet(f"{path}/points").select("id", "x", "y")
    return sorted(
        (r.bucket_z, r.pl, r.size) for r in IX.index_build(pts).collect()
    )


def test_incremental_matches_full_rebuild(spark, sf_dir, tmp_table):
    path = f"{tmp_table}/t"
    base = points(spark, sf_dir).limit(2000)
    W.table_create(spark, path)
    # initial load with full refresh
    enc = W.with_generated_ids(base).select("id", "x", "y")
    from tiny_md_hbase_spark.sources.writer import with_zvalue

    with_zvalue(enc).sortWithinPartitions("zvalue").write.mode("append").parquet(
        f"{path}/points"
    )
    W.refresh_index(spark, path)

    # three appends, each refreshed incrementally
    rest = points(spark, sf_dir).subtract(base)
    batches = [
        rest.limit(500),
        spark.createDataFrame(
            [(10_000 + i, 77, 99) for i in range(25)], "id long, x int, y int"
        ),  # pile-up on one cell: forces deep splits incl. the depth cap
        spark.createDataFrame(
            [(20_000 + i, i % 50, (i * 3) % 50) for i in range(300)],
            "id long, x int, y int",
        ),
    ]
    for b in batches:
        enc_b = W.with_generated_ids(b).select("id", "x", "y")
        with_zvalue(enc_b).sortWithinPartitions("zvalue").write.mode(
            "append"
        ).parquet(f"{path}/points")
        W.refresh_index_incremental(spark, path, b)
        assert _index_set(spark, path) == _full_set(spark, path)


def test_insert_append_incremental_wrapper(spark, sf_dir, tmp_table):
    """insert_append_incremental = z-sorted batch append + incremental
    refresh in one call; the resulting table state and index must match
    a from-scratch build over everything (the write_path_refresh
    queries() entry drives the same chain under the DuckDB oracle)."""
    path = f"{tmp_table}/t4"
    pts = points(spark, sf_dir).limit(1500)
    W.table_create(spark, path)
    W.insert_append(spark, path, pts.filter(F.col("id") % 3 != 0))
    stats = W.insert_append_incremental(
        spark, path, pts.filter(F.col("id") % 3 == 0)
    )
    assert set(stats) == {"overflowed", "table_scanned", "rows_read"}
    assert spark.read.parquet(f"{path}/points").count() == pts.count()
    assert _index_set(spark, path) == _full_set(spark, path)


def test_incremental_no_overflow_touches_nothing_heavy(spark, tmp_table):
    path = f"{tmp_table}/t2"
    W.table_create(spark, path)
    first = spark.createDataFrame(
        [(i, i, i) for i in range(5)], "id long, x int, y int"
    )
    W.insert_append(spark, path, first)  # full refresh inside
    # append 3 points that keep every bucket under threshold
    b = spark.createDataFrame(
        [(100, 1000, 1000), (101, 2000, 2000), (102, 3000, 3000)],
        "id long, x int, y int",
    )
    from tiny_md_hbase_spark.sources.writer import with_zvalue

    with_zvalue(b).write.mode("append").parquet(f"{path}/points")
    stats = W.refresh_index_incremental(spark, path, b)
    assert stats == {"overflowed": 0, "table_scanned": False, "rows_read": 0}
    assert _index_set(spark, path) == _full_set(spark, path)
    total = spark.read.parquet(f"{path}/index").agg(F.sum("size")).collect()[0][0]
    assert total == 8


def test_incremental_no_overflow_never_reads_points(spark, tmp_table):
    """Physical proof of O(batch), not O(table): with no overflowing
    bucket the refresh must complete WITHOUT opening the points table —
    here the table directory is removed before the refresh, so any
    regression that re-reads it fails with a missing-path error instead
    of silently scanning 100 TB per micro-batch."""
    path = f"{tmp_table}/t3"
    W.table_create(spark, path)
    first = spark.createDataFrame(
        [(i, i * 11 % 4096, i * 29 % 4096) for i in range(8)],
        "id long, x int, y int",
    )
    W.insert_append(spark, path, first)
    before = _index_set(spark, path)
    shutil.rmtree(f"{path}/points")  # no one may look at the table now
    b = spark.createDataFrame([(900, 3500, 3500)], "id long, x int, y int")
    stats = W.refresh_index_incremental(spark, path, b)
    assert stats == {"overflowed": 0, "table_scanned": False, "rows_read": 0}
    after = _index_set(spark, path)
    assert sum(s for _, _, s in after) == sum(s for _, _, s in before) + 1


def test_overflow_reads_only_the_row_groups_it_meets(spark, tmp_table):
    """An overflow re-reads only the row groups whose footer z range
    meets an overflowing bucket, not the table: over 16 z-disjoint row
    groups, a pile-up in one corner reads a fraction of the rows, and the
    index still equals a full rebuild."""
    import pyarrow.parquet as pq

    from tiny_md_hbase_spark.sources.writer import write_points_zsorted

    path = f"{tmp_table}/groups"
    n = 4000
    pts = spark.createDataFrame(
        [(i, (i * 37) % 4096, (i * 1031) % 4096) for i in range(n)],
        "id long, x int, y int",
    )
    write_points_zsorted(pts, f"{path}/points", num_partitions=16)
    W.refresh_index(spark, path)
    groups = sum(
        pq.read_metadata(f).num_row_groups
        for f in glob.glob(f"{path}/points/*.parquet")
    )
    assert groups >= 16
    corner = spark.createDataFrame(
        [(n + i, 3 + i % 5, 7 + i // 5) for i in range(2 * IX.DEFAULT_THRESHOLD)],
        "id long, x int, y int",
    )
    stats = W.insert_append_incremental(spark, path, corner)
    assert stats["overflowed"] >= 1 and stats["table_scanned"]
    assert 0 < stats["rows_read"] < n // 4, stats
    assert _index_set(spark, path) == _full_set(spark, path)


@pytest.mark.parametrize("error", [OSError("disk full"), KeyboardInterrupt("disk full")])
def test_failed_append_is_invisible(spark, tmp_table, monkeypatch, error):
    """A pyarrow write that raises partway through an insert leaves
    nothing a reader sees: the points read back as before, the index is
    unchanged and no file is left behind; a retried insert then leaves
    the index equal to a full rebuild. pyarrow removes its own partial
    file on an ``Exception`` but not on an interrupt, which the hidden
    name and the cleanup must cover."""
    import os

    import pyarrow.parquet as pq

    path = f"{tmp_table}/fail"
    schema = "id long, x int, y int"
    W.table_create(spark, path)
    W.insert_append(
        spark,
        path,
        spark.createDataFrame([(i, (i * 37) % 512, (i * 11) % 512) for i in range(200)], schema),
    )

    def rows():
        return sorted(tuple(r) for r in spark.read.parquet(f"{path}/points").collect())

    before = rows(), _index_set(spark, path), sorted(os.listdir(f"{path}/points"))
    real = pq.ParquetWriter.write_table

    def partway(self, table, row_group_size=None):
        real(self, table.slice(0, 1), row_group_size=row_group_size)
        raise error

    batch = spark.createDataFrame([(1000 + i, 5, 3 * i) for i in range(30)], schema)
    monkeypatch.setattr(pq.ParquetWriter, "write_table", partway)
    with pytest.raises(type(error), match="disk full"):
        W.insert_append_incremental(spark, path, batch)
    monkeypatch.undo()
    assert (rows(), _index_set(spark, path), sorted(os.listdir(f"{path}/points"))) == before

    W.insert_append_incremental(spark, path, batch)
    assert len(rows()) == 230
    assert _index_set(spark, path) == _full_set(spark, path)


def test_incremental_edge_cases_match_oracle(spark, tmp_table):
    """Incremental refreshes at the edges of the domain and the trie —
    both domain corners, a point exactly on an existing bucket key, an
    empty batch, and a pile-up on one cell past MAX_DEPTH (twice, so an
    already full-depth bucket overflows again) — each leave the stored
    index equal to the independent oracle over all live points."""
    from trie_oracle import index_build_py

    from tiny_md_hbase_spark.zorder import zorder_decode_py

    path = f"{tmp_table}/edge"
    schema = "id long, x int, y int"
    top = (1 << 31) - 1
    W.table_create(spark, path)
    W.insert_append(
        spark,
        path,
        spark.createDataFrame(
            [(i, (i * 37) % 64, (i * 11) % 64) for i in range(40)], schema
        ),
    )

    def check():
        z = [r.zvalue for r in spark.read.parquet(f"{path}/points").collect()]
        want = index_build_py([(v, 1) for v in z])
        assert _index_set(spark, path) == want

    def refresh(rows):
        W.insert_append_incremental(spark, path, spark.createDataFrame(rows, schema))
        check()

    refresh([(100, 0, 0), (101, top, top)] + [(102 + i, top, top - i) for i in range(12)])
    on_key = max(bz for bz, _, _ in _index_set(spark, path) if bz > 0)
    x, y = zorder_decode_py(on_key)
    refresh([(200 + i, x, y) for i in range(3)])
    refresh([])
    refresh([(300 + i, 5, 9) for i in range(IX.DEFAULT_THRESHOLD + 3)])
    assert any(pl == IX.MAX_DEPTH for _, pl, _ in _index_set(spark, path))
    refresh([(400 + i, 5, 9) for i in range(4)])


def test_incremental_out_of_cover_points_match_full_build(spark, tmp_table):
    """Points outside the ``[00*]`` cover — a negative x (z < 0), a
    negative y (z in [2^62, 2^63)) and a null coordinate — are stored but
    owned by no bucket on both paths: the incremental refresh neither
    fails nor counts them, and a later overflow of the last bucket does
    not pick them up either."""
    path = f"{tmp_table}/cover"
    schema = "id long, x int, y int"
    top = (1 << 31) - 1
    W.table_create(spark, path)
    W.insert_append(
        spark, path, spark.createDataFrame([(i, i, i) for i in range(8)], schema)
    )
    odd = [(100, -5, 7), (101, 7, -5), (102, None, 3), (103, 4, None)]
    odd += [(110 + i, -1, -1) for i in range(IX.DEFAULT_THRESHOLD + 5)]
    W.insert_append_incremental(spark, path, spark.createDataFrame(odd, schema))
    assert _index_set(spark, path) == _full_set(spark, path)
    assert sum(s for _, _, s in _index_set(spark, path)) == 8

    stats = W.insert_append_incremental(
        spark,
        path,
        spark.createDataFrame(
            [(200 + i, top, top - i) for i in range(IX.DEFAULT_THRESHOLD + 1)], schema
        ),
    )
    assert stats["overflowed"] >= 1
    assert _index_set(spark, path) == _full_set(spark, path)
