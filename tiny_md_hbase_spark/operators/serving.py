"""Driver-side serving of small point-store reads from parquet footers.

MD-HBase's client answers a get, range or kNN by looking up the index and
then reading only the buckets that can hold the answer
(``Index.findBucketsInRange``, ``Index.java:144-164``;
``Client.nearestNeighbor``, ``Client.java:92-152``). Through Spark the
same read is a whole job, whose fixed cost dwarfs the handful of rows it
returns. This module is the client-side read for the common case: the
points DataFrame is a plain scan of parquet files on the local file
system, and the files' footers (per row group: row count and the x/y
min/max box) are the bucket index.

- get, range and count read only the row groups whose x/y box meets the
  rectangle; count takes the row groups wholly inside it from their row
  counts without reading them;
- kNN visits row groups nearest-box-first and stops once the next box's
  minimum squared distance exceeds the current k-th ``dist_sq`` — the
  reference's bucket-by-bucket expansion.

The chosen row groups are read with pyarrow and the exact answer is
computed in numpy: inclusive bounds, the ``(dist_sq, id, x, y)`` kNN
order. The answer goes back as a local Spark DataFrame (no job) with the
schema and row order of the Spark plan it replaces.

Each ``serve_*`` function returns ``None`` whenever the Spark plan must
run instead, and the caller in :mod:`~tiny_md_hbase_spark.operators.spatial`
then runs that plan unchanged:

- the DataFrame is more than a column projection (attribute references
  only) of one unpartitioned parquet relation — a filtered, derived or
  joined frame;
- the relation reads more than :data:`MAX_FILES` files, or a file that
  is not on a ``file:`` path; this is checked before any footer is read;
- the footers disagree on the id/x/y types, or show (or cannot rule out)
  nulls in id/x/y;
- a kNN distance could overflow a long, or ``k`` is negative;
- the planned read holds more than :data:`MAX_READ_ROWS` rows, or the
  answer more than :data:`MAX_RESULT_ROWS` (for kNN: ``k`` does).

A served op runs no job and no ``FileSourceScan``, so ``perfbench
--trace 1``, which counts jobs and scan nodes, shows ``spatial.*.jobs = 0``
and ``scan_rows_per_result = 0`` for it; the rows and row groups it reads
are not counted there.
"""

from __future__ import annotations

from dataclasses import dataclass
from urllib.parse import unquote, urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

__all__ = ["serve_get", "serve_range", "serve_count", "serve_knn", "to_local_df"]

_COLUMNS = ("id", "x", "y")
# Spark type of a served column -> the parquet column's arrow type
_ARROW_TYPES = {"int": pa.int32(), "bigint": pa.int64()}
_LONG_MAX = 2**63 - 1
_HADOOP_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
# The three bounds below were measured on a 4-core host against the Spark
# plan of the same op, on the perfbench read_uniform (300K points) and
# read_hotspot (100K points) tables.
#
# Most files one op plans over. Each op parses every file's footer on the
# driver, ~0.3 ms a file; at 128 files that pass took 40 ms against the
# 280 ms of a Spark get over the same files, so a read that falls back
# after it loses at most that.
MAX_FILES = 128
# Most rows one op reads on the driver, summed over the row groups it
# plans to read (a count's wholly-inside row groups are not read). Reading
# is cheap: counts that read 130-150K boundary rows took 40-70 ms against
# 170-230 ms for the Spark count. At 16 bytes a row of id/x/y, this also
# bounds the driver memory of one op to ~2 MB.
MAX_READ_ROWS = 131_072
# Most rows one op hands back. Each row returned costs more through Arrow
# ``createDataFrame`` and ``collect`` of the local relation than through a
# Spark collect; ranges and kNN broke even with the Spark plan at 30-40K
# result rows, so this keeps to half of that.
MAX_RESULT_ROWS = 16_384


@dataclass(frozen=True)
class _Group:
    """One non-empty row group and the footer facts the planner uses."""

    path: str
    index: int
    rows: int
    x: tuple[int, int]
    y: tuple[int, int]

    def meets(self, rx: tuple[int, int], ry: tuple[int, int]) -> bool:
        return (
            self.x[0] <= rx[1] and rx[0] <= self.x[1]
            and self.y[0] <= ry[1] and ry[0] <= self.y[1]
        )

    def inside(self, rx: tuple[int, int], ry: tuple[int, int]) -> bool:
        return (
            rx[0] <= self.x[0] and self.x[1] <= rx[1]
            and ry[0] <= self.y[0] and self.y[1] <= ry[1]
        )

    def min_dist_sq(self, qx: int, qy: int) -> int:
        dx = max(self.x[0] - qx, 0, qx - self.x[1])
        dy = max(self.y[0] - qy, 0, qy - self.y[1])
        return dx * dx + dy * dy

    def max_dist_sq(self, qx: int, qy: int) -> int:
        dx = max(abs(self.x[0] - qx), abs(self.x[1] - qx))
        dy = max(abs(self.y[0] - qy), abs(self.y[1] - qy))
        return dx * dx + dy * dy


@dataclass
class _Snapshot:
    """The row groups of the files one points DataFrame reads."""

    types: dict[str, pa.DataType]  # of id, x and y in every file
    groups: list[_Group]
    metadata: dict[str, pq.FileMetaData]

    def read(self, groups: list[_Group]) -> pa.Table:
        """id/x/y of ``groups``, as one table of one chunk per column."""
        by_file: dict[str, list[int]] = {}
        for g in groups:
            by_file.setdefault(g.path, []).append(g.index)
        parts = []
        for path, idx in by_file.items():
            with pq.ParquetFile(path, metadata=self.metadata[path]) as f:
                parts.append(f.read_row_groups(idx, columns=list(_COLUMNS), use_threads=False))
        # by column: files of equal column types may still differ in
        # nullability or metadata, which concat_tables rejects
        return pa.table(
            {c: pa.chunked_array([ch for p in parts for ch in p.column(c).chunks], t)
             for c, t in self.types.items()}
        ).combine_chunks()


def _within_budget(groups: list[_Group]) -> bool:
    return sum(g.rows for g in groups) <= MAX_READ_ROWS


def _is_plain_parquet_scan(points: DataFrame) -> bool:
    """``points`` analyses to column projections (attribute references
    only, or none at all) of one unpartitioned parquet file relation.
    Each check is one JVM round trip, so they are kept few."""
    plan = points._jdf.queryExecution().analyzed()
    while plan.nodeName() == "Project":
        # attribute references are their own output attributes; an alias
        # or any other expression is not
        if not plan.projectList().equals(plan.output()):
            return False
        plan = plan.child()
    if plan.nodeName() != "LogicalRelation":
        return False
    rel = plan.relation()
    return (
        rel.getClass().getName() == _HADOOP_FS_RELATION
        and rel.fileFormat().toString() == "Parquet"
        and rel.partitionSchema().isEmpty()
    )


def _local_path(uri: str) -> str | None:
    parts = urlsplit(uri)
    return unquote(parts.path) if parts.scheme == "file" else None


def _null_free(st: pq.Statistics | None) -> bool:
    return st is not None and st.has_null_count and st.null_count == 0


def _snapshot(points: DataFrame) -> _Snapshot | None:
    """Footers of the files ``points`` reads, or ``None`` if the driver
    path does not apply (see the module docstring)."""
    schema = points.schema
    if any(c not in schema.names for c in _COLUMNS):
        return None
    types = {c: _ARROW_TYPES.get(schema[c].dataType.simpleString()) for c in _COLUMNS}
    if None in types.values():
        return None
    if not _is_plain_parquet_scan(points):
        return None
    files = points.inputFiles()
    if len(files) > MAX_FILES:
        return None
    paths = [_local_path(u) for u in files]
    if None in paths:
        return None
    groups, metadata = [], {}
    for path in sorted(paths):
        try:
            md = pq.read_metadata(path)
        except OSError:  # gone or unreadable: Spark reports it its own way
            return None
        arrow = md.schema.to_arrow_schema()
        if any(arrow.get_field_index(c) < 0 or arrow.field(c).type != t for c, t in types.items()):
            return None
        leaf = {md.schema.column(i).path: i for i in range(len(md.schema))}
        metadata[path] = md
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            stats = [rg.column(leaf[c]).statistics for c in _COLUMNS]
            if not all(map(_null_free, stats)) or not all(st.has_min_max for st in stats[1:]):
                return None
            _, sx, sy = stats
            groups.append(
                _Group(path, i, rg.num_rows, (sx.min, sx.max), (sy.min, sy.max))
            )
    return _Snapshot(types, groups, metadata)


def to_local_df(points: DataFrame, table: pa.Table, schema: StructType) -> DataFrame:
    """Hand ``table`` to Spark as a local (job-free) DataFrame.

    The table is combined into one chunk per column first: PySpark 4.1's
    Arrow ``createDataFrame`` drops every row of a table whose first two
    or more record batches are empty."""
    return points.sparkSession.createDataFrame(table.combine_chunks(), schema=schema)


def _row_schema(points: DataFrame) -> StructType:
    return StructType([points.schema[c] for c in _COLUMNS])


def _rect(
    snap: _Snapshot, groups: list[_Group], rx: tuple[int, int], ry: tuple[int, int]
) -> pa.Table | None:
    """The rows of ``groups`` inside an inclusive rectangle, or ``None``
    when the row groups that meet it hold more than :data:`MAX_READ_ROWS`."""
    groups = [g for g in groups if g.meets(rx, ry)]
    if not _within_budget(groups):
        return None
    t = snap.read(groups)
    x, y = t.column("x").to_numpy(), t.column("y").to_numpy()
    keep = (x >= rx[0]) & (x <= rx[1]) & (y >= ry[0]) & (y <= ry[1])
    return t.filter(pa.array(keep))


def serve_get(points: DataFrame, x: int, y: int) -> DataFrame | None:
    """:func:`~tiny_md_hbase_spark.operators.spatial.point_get` on the
    driver (``Client.get``, ``Client.java:61-65``)."""
    return serve_range(points, (x, x), (y, y))


def serve_range(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> DataFrame | None:
    """:func:`~tiny_md_hbase_spark.operators.spatial.range_query` on the
    driver (``Client.rangeQuery``, ``Client.java:76-83``)."""
    snap = _snapshot(points)
    if snap is None:
        return None
    t = _rect(snap, snap.groups, rx, ry)
    if t is None or t.num_rows > MAX_RESULT_ROWS:
        return None
    return to_local_df(points, t, _row_schema(points))


def serve_count(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> DataFrame | None:
    """:func:`~tiny_md_hbase_spark.operators.spatial.range_count` on the
    driver: row groups wholly inside the rectangle count from their
    footers, only the boundary ones are read."""
    snap = _snapshot(points)
    if snap is None:
        return None
    inside = [g for g in snap.groups if g.inside(rx, ry)]
    t = _rect(snap, [g for g in snap.groups if not g.inside(rx, ry)], rx, ry)
    if t is None:
        return None
    n = sum(g.rows for g in inside) + t.num_rows
    schema = StructType([StructField("cnt", LongType(), False)])
    return to_local_df(points, pa.table({"cnt": pa.array([n], pa.int64())}), schema)


def serve_knn(points: DataFrame, qx: int, qy: int, k: int) -> DataFrame | None:
    """:func:`~tiny_md_hbase_spark.operators.spatial.knn` on the driver:
    row groups in order of their box's distance from the query, stopping
    once the next box is farther than the current k-th hit
    (``Client.nearestNeighbor``, ``Client.java:92-152``)."""
    # Spark rejects a negative limit
    snap = None if k < 0 or k > MAX_RESULT_ROWS else _snapshot(points)
    if snap is None:
        return None
    # Spark computes dist_sq in long arithmetic; leave any query whose
    # distances could overflow to it
    if any(g.max_dist_sq(qx, qy) > _LONG_MAX for g in snap.groups):
        return None
    order = sorted(snap.groups, key=lambda g: g.min_dist_sq(qx, qy))
    # the k best rows so far, in (dist_sq, id, x, y) order
    best = {c: np.empty(0, t.to_pandas_dtype()) for c, t in snap.types.items()}
    best["dist_sq"] = np.empty(0, np.int64)
    spent = 0  # rows of the row groups read so far
    for g in order if k > 0 else ():
        if len(best["id"]) == k and g.min_dist_sq(qx, qy) > best["dist_sq"][-1]:
            break
        spent += g.rows
        if spent > MAX_READ_ROWS:
            return None
        t = snap.read([g])
        new = {c: t.column(c).to_numpy() for c in _COLUMNS}
        dx = new["x"].astype(np.int64) - qx
        dy = new["y"].astype(np.int64) - qy
        new["dist_sq"] = dx * dx + dy * dy
        cand = {c: np.concatenate([best[c], new[c]]) for c in best}
        top = np.lexsort((cand["y"], cand["x"], cand["id"], cand["dist_sq"]))[:k]
        best = {c: v[top] for c, v in cand.items()}
    best["dist"] = np.sqrt(best["dist_sq"].astype(np.float64))
    schema = StructType(
        [*_row_schema(points), StructField("dist_sq", LongType()), StructField("dist", DoubleType())]
    )
    return to_local_df(points, pa.table(best), schema)
