"""Write-path operators (SURVEY.md §2.2): insert, table lifecycle, id-gen.

The reference inserts one point per client call — z-encode, floor-lookup
the bucket, ``Put``, atomically bump the bucket counter, maybe split
(``Client.insert``, ``Client.java:55-59``; 4+ RPCs per point). It never
rescans the table. Here an insert is a batch, and it runs on the driver
apart from one Spark job, the collect of the batch (which fills missing
ids):

- :func:`_append_batch` z-encodes the batch in numpy
  (:func:`~tiny_md_hbase_spark.zorder.zvalue_np`), sorts it by z and
  writes it with pyarrow as one new parquet file of the points table;
- :func:`refresh_index_incremental` routes the batch's z to its buckets,
  bumps their sizes, and re-splits only the buckets it overflows, from
  the stored ``zvalue`` of the row groups whose footer z range meets
  them — the reference's ``notifyInsertion``/``maySplit``
  (``Index.java:175-230``) amortized over the batch.

Index sizes are exact (the reference's counters drift on overwrites,
SURVEY.md §1.3). Every file this module writes is first written under a
hidden name and then renamed into place, so a write that fails leaves
nothing a reader sees. Table files are opened through ``pyarrow.fs``
(:func:`_table_fs`). The streaming wrapper lives in
``streaming/ingest.py``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators.index import (
    DEFAULT_THRESHOLD,
    MAX_DEPTH,
    ROOT_PL,
    index_build_np,
    z_array,
)
from tiny_md_hbase_spark.sources.writer import with_zvalue, zsorted_row_group_rows
from tiny_md_hbase_spark.zorder import zvalue_np

__all__ = [
    "table_create",
    "table_drop",
    "insert_append",
    "insert_append_incremental",
    "refresh_index",
    "refresh_index_incremental",
    "with_generated_ids",
]

_POINTS_SCHEMA = "id long, x int, y int"
_POINTS_ARROW = pa.schema([("id", pa.int64()), ("x", pa.int32()), ("y", pa.int32())])
_INDEX_ARROW = pa.schema([("bucket_z", pa.int64()), ("pl", pa.int32()), ("size", pa.int64())])
# The index is this one file, replaced whole by every index write.
_INDEX_FILE = "index.parquet"
# Parquet options of the driver-side writes: no embedded Arrow schema,
# and plain encoding for points. A 1,000-point batch uniform over the
# 31-bit domain took 21.0 KB this way, 26.2 KB dictionary-encoded and
# 27.5 KB with pyarrow's defaults; Spark wrote it as 4 files of 24.8 KB.
_PARQUET_OPTIONS = {"use_dictionary": False, "store_schema": False}
# The index is written sorted by key, so its keys delta-encode; its few
# distinct prefix lengths and sizes take dictionaries. The index of 55K
# points uniform on a 4096 grid took 11.9 KB this way, 54.0 KB plain and
# 43.1 KB written by Spark.
_INDEX_OPTIONS = {"use_dictionary": ["pl", "size"], "column_encoding": {"bucket_z": "DELTA_BINARY_PACKED"}}


def table_create(spark: SparkSession, path: str) -> None:
    """Create an empty points table + seeded index (``Index.java:77-105``:
    data table + index table with the root bucket)."""
    empty = spark.createDataFrame([], _POINTS_SCHEMA)
    fs, root = _table_fs(path)
    with_zvalue(empty).write.mode("errorifexists").parquet(f"{path}/points")
    _write_index(fs, root, index_build_np(np.empty(0, np.int64)))


def table_drop(path: str, spark: SparkSession | None = None) -> None:
    """Drop both tables (CLI ``drop``, ``Client.java:217-224``). A
    URI-scheme path (hdfs://, s3a://, file://) routes through the
    Hadoop FileSystem API and needs the ``spark`` handle; bare local
    paths keep the zero-dependency fast path."""
    if "://" in path:
        if spark is None:
            raise ValueError(
                f"table_drop({path!r}): URI-scheme paths need the spark "
                "handle to resolve the Hadoop FileSystem"
            )
        from tiny_md_hbase_spark.fsutil import fs_rmtree

        fs_rmtree(spark, path)
        return
    shutil.rmtree(path, ignore_errors=True)


def with_generated_ids(points: DataFrame) -> DataFrame:
    """Fill missing ids (``id_gen``: the reference draws random ints,
    ``Client.java:177-182``; we use the collision-free distributed
    generator)."""
    if "id" in points.columns:
        return points.withColumn(
            "id",
            F.coalesce(F.col("id"), F.monotonically_increasing_id()),
        )
    return points.withColumn("id", F.monotonically_increasing_id())


def _table_fs(path: str) -> tuple[pafs.FileSystem, str]:
    """The ``pyarrow.fs`` file system of a table and the table's path on
    it: the local file system for a bare path, else the one the URI
    names. A scheme pyarrow does not know (``s3a://``, say) raises
    ``ValueError`` (``pyarrow.ArrowInvalid``); every writer calls this
    before it writes anything."""
    if "://" not in path:
        return pafs.LocalFileSystem(), os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def _publish(fs: pafs.FileSystem, table: pa.Table, directory: str, name: str, **options) -> None:
    """Write ``table`` as the parquet file ``directory/name``: first
    under a hidden (``.``-prefixed) name, which Spark and pyarrow readers
    skip, then renamed into place, replacing any file of that name."""
    fs.create_dir(directory, recursive=True)
    tmp = f"{directory}/.{uuid.uuid4().hex}.tmp"
    try:
        pq.write_table(table, tmp, filesystem=fs, **{**_PARQUET_OPTIONS, **options})
        fs.move(tmp, f"{directory}/{name}")
    except BaseException:
        with contextlib.suppress(OSError):
            fs.delete_file(tmp)
        raise


def _data_files(fs: pafs.FileSystem, directory: str) -> list[str]:
    """The data files of a table directory as Spark lists them: every
    file whose name starts with neither ``_`` nor ``.``."""
    infos = fs.get_file_info(pafs.FileSelector(directory, allow_not_found=True))
    return sorted(
        i.path for i in infos
        if i.type == pafs.FileType.File and not i.base_name.startswith(("_", "."))
    )


def _read_index(fs: pafs.FileSystem, root: str) -> np.ndarray:
    """The stored index as int64 rows ``(bucket_z, pl, size)`` sorted by key."""
    t = pq.read_table(f"{root}/index", filesystem=fs, columns=_INDEX_ARROW.names)
    rows = np.stack([t.column(c).to_numpy().astype(np.int64) for c in _INDEX_ARROW.names], axis=1)
    return rows[np.argsort(rows[:, 0])]


def _write_index(fs: pafs.FileSystem, root: str, rows: np.ndarray) -> None:
    """The one index writer: ``rows``, sorted by key, replace the index
    file, and then every other file under ``index/`` (a Spark-written
    index's part files) is removed."""
    directory = f"{root}/index"
    rows = rows[np.argsort(rows[:, 0])]
    table = pa.table(
        [rows[:, 0], rows[:, 1].astype(np.int32), rows[:, 2]], schema=_INDEX_ARROW
    )
    _publish(fs, table, directory, _INDEX_FILE, **_INDEX_OPTIONS)
    for info in fs.get_file_info(pafs.FileSelector(directory)):
        if info.base_name == _INDEX_FILE:
            continue
        if info.type == pafs.FileType.Directory:
            fs.delete_dir(info.path)
        else:
            fs.delete_file(info.path)


def _bucket_z(fs: pafs.FileSystem, directory: str, roots: np.ndarray) -> tuple[np.ndarray, int]:
    """The non-null stored ``zvalue`` of the points files under
    ``directory`` that may lie in the buckets ``roots`` (disjoint
    ``(bucket_z, pl)`` rows sorted by key), and the number of rows read.

    Only the row groups whose footer z min/max meets a bucket's range are
    read (a row group without z statistics is read whole), so the answer
    is a superset: :func:`index_build_np` ignores z outside its roots."""
    lo = roots[:, 0]
    hi = lo + ((np.int64(1) << (np.int64(64) - roots[:, 1])) - 1)
    parts, n = [], 0
    for path in _data_files(fs, directory):
        with pq.ParquetFile(path, filesystem=fs) as f:
            md = f.metadata
            leaf = {md.schema.column(i).path: i for i in range(md.num_columns)}
            read = []
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                st = rg.column(leaf["zvalue"]).statistics
                if rg.num_rows == 0 or (st is not None and st.null_count == rg.num_rows):
                    continue
                if st is not None and st.has_min_max:
                    k = np.searchsorted(lo, st.max, side="right") - 1
                    if k < 0 or hi[k] < st.min:
                        continue
                read.append(g)
            if read:
                col = f.read_row_groups(read, columns=["zvalue"]).column(0)
                n += len(col)
                parts.append(col.drop_null().to_numpy())
    return np.concatenate(parts) if parts else np.empty(0, np.int64), n


def _with_z(t: pa.Table) -> pa.Table:
    """``t`` with a ``zvalue`` column: the one it stores, else one
    computed from its x/y by :func:`~tiny_md_hbase_spark.zorder.zvalue_np`,
    null where x or y is."""
    if "zvalue" in t.column_names:
        return t
    x, y = (
        np.ma.masked_array(t[c].fill_null(0).to_numpy(), mask=t[c].is_null().to_numpy())
        for c in ("x", "y")
    )
    z = zvalue_np(x, y)
    return t.append_column("zvalue", pa.array(z.data, mask=np.ma.getmaskarray(z)))


def _sort_by_z(t: pa.Table) -> pa.Table:
    """The rows of ``t`` in one stable sort by ``zvalue``, nulls first:
    the order ``sortWithinPartitions("zvalue")`` gives."""
    z = t["zvalue"]
    return t.take(np.lexsort((z.fill_null(0).to_numpy(), z.is_valid().to_numpy())))


def _append_batch(path: str, batch: DataFrame) -> np.ndarray:
    """The physical append, shared by both refresh strategies; returns
    the batch's non-null z.

    The batch is collected once over Arrow, its missing ids filled by
    :func:`with_generated_ids`. It is z-encoded in numpy, sorted by z with
    nulls first (as ``sortWithinPartitions`` sorts), and written as one
    parquet file in row groups of
    :func:`~tiny_md_hbase_spark.sources.writer.zsorted_row_group_rows`,
    so the file and each row group carry a tight z (and x/y) min/max box
    and scans keep pruning. Global re-clustering is a periodic
    compaction's job, as HBase flushes and compactions are in the
    reference's storage layer. An empty batch writes nothing."""
    fs, root = _table_fs(path)
    t = with_generated_ids(batch).select("id", "x", "y").toArrow().cast(_POINTS_ARROW)
    if t.num_rows == 0:
        return np.empty(0, np.int64)
    points = _sort_by_z(_with_z(t))
    name = f"part-{uuid.uuid4().hex}.parquet"
    _publish(fs, points, f"{root}/points", name, row_group_size=zsorted_row_group_rows(len(points)))
    return points["zvalue"].drop_null().to_numpy()


def insert_append(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Append a batch of points and refresh the index from scratch."""
    _append_batch(path, batch)
    refresh_index(spark, path)


def insert_append_incremental(spark: SparkSession, path: str, batch: DataFrame) -> dict:
    """:func:`insert_append` with O(batch) index maintenance: the same
    physical append, then :func:`refresh_index_incremental` over the
    batch's z instead of the from-scratch rebuild — the steady-state
    ingest path (the reference's insert→notifyInsertion→maySplit chain,
    ``Client.java:55-59`` / ``Index.java:175-230``, amortized to one
    batch). Runs one Spark job, the collect of the batch. Returns the
    refresh's stats dict."""
    z = _append_batch(path, batch)
    return refresh_index_incremental(spark, path, z)


def refresh_index(
    spark: SparkSession, path: str, threshold: int = DEFAULT_THRESHOLD
) -> None:
    """Recompute the bucket index from the table state with
    :func:`index_build_np` over every stored ``zvalue`` (exact; replaces
    the reference's drift-prone online counters)."""
    fs, root = _table_fs(path)
    z, _ = _bucket_z(fs, f"{root}/points", np.array([[0, ROOT_PL]], dtype=np.int64))
    _write_index(fs, root, index_build_np(z, threshold=threshold))


def refresh_index_incremental(
    spark: SparkSession,
    path: str,
    batch: DataFrame | np.ndarray,
    threshold: int = DEFAULT_THRESHOLD,
) -> dict:
    """Update the index for a batch already appended to the table,
    touching only the buckets it overflows: it reads the index, the
    points files' footers and the ``zvalue`` of the row groups that meet
    an overflowing bucket, no other rows. ``batch`` is the batch's z (what
    :func:`_append_batch` returns) or the appended DataFrame, whose z is
    then collected (the streaming sink's form). The rest runs on the
    driver with pyarrow and numpy:

    1. Read the index.
    2. Route each z to its owning bucket — floor semantics over the
       prefix-free cover, the reference's per-point ``getRowOrBefore``
       (``Index.java:115-122``) as one ``searchsorted`` — and bump sizes
       with ``bincount``. A z past the floor bucket's range (negative
       coordinates) or null is counted nowhere, as in
       :func:`index_build_np`. Buckets still within threshold are done:
       their entry is exact without reading the table.
    3. Each overflowing bucket is a closed subproblem: read the stored
       ``zvalue`` of the row groups whose footer z range meets an
       overflowing bucket (:func:`_bucket_z`) and rebuild the subtrees
       with :func:`index_build_np` rooted at those buckets.
    4. Write the new index once (:func:`_write_index`).

    Equivalent to a full rebuild by construction: splitting is local to a
    bucket, and non-overflowing buckets are untouched by definition.

    Returns stats so callers and tests can observe the cost class without
    plan surgery: ``{"overflowed": n_buckets, "table_scanned": bool,
    "rows_read": n_rows}`` — a batch that overflows nothing never opens
    the points table, and ``rows_read`` counts the points rows read.
    """
    z = z_array(batch) if isinstance(batch, DataFrame) else np.asarray(batch, dtype=np.int64)
    fs, root = _table_fs(path)
    rows = _read_index(fs, root)
    owner = np.searchsorted(rows[:, 0], z, side="right") - 1
    # a z outside the cover (a negative coordinate) is stored but, as in
    # index_build_np, owned by no bucket
    last = rows[:, 0] + ((np.int64(1) << (np.int64(64) - rows[:, 1])) - 1)
    owner = owner[(owner >= 0) & (z <= last[owner])]
    rows[:, 2] += np.bincount(owner, minlength=len(rows))
    over = (rows[:, 2] > threshold) & (rows[:, 1] < MAX_DEPTH)
    roots = rows[over, :2]
    rows_read = 0
    if len(roots):
        zs, rows_read = _bucket_z(fs, f"{root}/points", roots)
        sub = index_build_np(zs, threshold=threshold, root_z=roots[:, 0], root_pl=roots[:, 1])
        rows = np.concatenate((rows[~over], sub))
    _write_index(fs, root, rows)
    return {"overflowed": len(roots), "table_scanned": bool(len(roots)), "rows_read": rows_read}
