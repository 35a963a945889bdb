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

What one op learns is kept for the next, as a region server's block
cache keeps index and data blocks across requests. The cache is shared
by every thread of the process and guarded by one lock; parsing and
decoding run outside it.

- Per DataFrame, whether it is a plain scan, the arrow types of its
  id/x/y and its relation's file index (``FileIndex``), held weakly: an
  analyzed plan never changes, so this cannot go stale. The file list is
  not kept: a file index can be refreshed (``refreshByPath``), so each op
  asks it for its files again. The file index is taken from the analyzed
  plan, as the plan check is: ``DataFrame.inputFiles`` reads the
  optimized plan, which for a cached frame is an ``InMemoryRelation``
  that lists no files.
- Per file version, keyed by ``(path, st_size, st_mtime_ns, st_ino)``,
  the footer reduced to the row-group boxes and the type, null and
  stats verdicts; at most :data:`_MAX_FOOTERS` versions, least recently
  used first out.
- Per row group of a file version, its decoded id/x/y numpy arrays, in
  one LRU of at most :data:`MAX_CACHED_ROWS` rows.

Each op takes one ``os.stat`` per file to find its version, so a file
rewritten in place is parsed again. A row group is decoded from a file
only after ``fstat`` of the open file shows the version that was
planned; rows are never cached under another version's key.

Each ``serve_*`` function returns ``None`` whenever the Spark plan must
run instead, and the caller in :mod:`~tiny_md_hbase_spark.operators.spatial`
then runs that plan unchanged:

- the DataFrame is more than a column projection (attribute references
  only) of one unpartitioned parquet relation — a filtered, derived or
  joined frame;
- the relation reads more than :data:`MAX_FILES` files, or a file that
  is not on a ``file:`` path; this is checked before any footer is read;
- a file is gone or cannot be opened, or changed between the op's
  ``stat`` and its read;
- the footers disagree on the id/x/y types, or show (or cannot rule out)
  nulls in id/x/y;
- a kNN distance could overflow a long, or ``k`` is negative;
- the planned read holds more than :data:`MAX_READ_ROWS` rows, cached
  or not, or the answer more than :data:`MAX_RESULT_ROWS` (for kNN:
  ``k`` does).

A served op runs no job and no ``FileSourceScan``, so ``perfbench
--trace 1``, which counts jobs and scan nodes, shows ``spatial.*.jobs = 0``
and ``scan_rows_per_result = 0`` for it; the rows and row groups it reads
are not counted there.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass
from urllib.parse import unquote, urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

__all__ = ["serve_get", "serve_range", "serve_count", "serve_knn", "to_local_df"]

_COLUMNS = ("id", "x", "y")
# Spark type of a served column -> the parquet column's arrow type
_ARROW_TYPES = {"int": pa.int32(), "bigint": pa.int64()}
_LONG_MAX = 2**63 - 1
_HADOOP_FS_RELATION = "org.apache.spark.sql.execution.datasources.HadoopFsRelation"
# The bounds below were measured on a 4-core host against the Spark
# plan of the same op, on the perfbench read_uniform (300K points) and
# read_hotspot (100K points) tables.
#
# Most files one op plans over. A file's footer is parsed on the driver
# once per file version, ~0.3 ms a file; at 128 files that pass took
# 40 ms against the 280 ms of a Spark get over the same files, so a read
# that falls back after it loses at most that. A repeated op costs one
# ``stat`` per file and a lookup (~4 us).
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
# Most decoded rows kept across ops: 16 MiB of id/x/y. Decoding a
# 10.9K-row group (the writer's 256 KiB floor) took ~0.7 ms and a cached
# one ~4 us. The whole read_hotspot table (100K points) and the whole
# read_uniform one (300K) fit, and the driver's Python high-water mark
# over a read_hotspot run stayed within its run-to-run spread.
MAX_CACHED_ROWS = 8 * MAX_READ_ROWS
# Most file versions whose reduced footers are kept: the files of one op
# always fit twice over. An entry is its row-group boxes, ~0.5 KB a row
# group; the parsed ``FileMetaData`` (~40 KB for 10 row groups) is not
# kept.
_MAX_FOOTERS = 2 * MAX_FILES

# (path, st_size, st_mtime_ns, st_ino): one version of a file
_FileKey = tuple[str, int, int, int]


def _file_key(path: str, st: os.stat_result) -> _FileKey:
    return (path, st.st_size, st.st_mtime_ns, st.st_ino)


@dataclass(frozen=True)
class _Group:
    """One non-empty row group and the footer facts the planner uses."""

    file: _FileKey
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


@dataclass(frozen=True)
class _Footer:
    """One file version's footer, reduced to what the planner uses."""

    types: tuple[pa.DataType | None, ...]  # of id, x and y; None where absent
    # None when a row group may hold a null id/x/y or lacks an x/y min/max
    groups: tuple[_Group, ...] | None


def _null_free(st: pq.Statistics | None) -> bool:
    return st is not None and st.has_null_count and st.null_count == 0


def _parse_footer(path: str) -> tuple[_FileKey, _Footer]:
    """The footer of the file now at ``path``, keyed by the version read."""
    with open(path, "rb") as fh:
        key = _file_key(path, os.fstat(fh.fileno()))
        md = pq.read_metadata(fh)
    arrow = md.schema.to_arrow_schema()
    types = tuple(
        arrow.field(c).type if arrow.get_field_index(c) >= 0 else None for c in _COLUMNS
    )
    if None in types:
        return key, _Footer(types, None)
    leaf = {md.schema.column(i).path: i for i in range(len(md.schema))}
    groups = []
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        stats = [rg.column(leaf[c]).statistics for c in _COLUMNS]
        if not all(map(_null_free, stats)) or not all(st.has_min_max for st in stats[1:]):
            return key, _Footer(types, None)
        _, sx, sy = stats
        groups.append(_Group(key, i, rg.num_rows, (sx.min, sx.max), (sy.min, sy.max)))
    return key, _Footer(types, tuple(groups))


def _decode(
    file: _FileKey, indexes: list[int]
) -> dict[tuple[_FileKey, int], tuple[np.ndarray, ...]] | None:
    """id/x/y of row groups ``indexes`` of ``file``, as read-only arrays;
    ``None`` if the file is gone or no longer that version."""
    try:
        with open(file[0], "rb") as fh:
            if _file_key(file[0], os.fstat(fh.fileno())) != file:
                return None
            with pq.ParquetFile(fh) as f:
                out = {}
                for i in indexes:
                    t = f.read_row_group(i, columns=list(_COLUMNS), use_threads=False)
                    cols = tuple(t.column(c).to_numpy() for c in _COLUMNS)
                    for a in cols:
                        a.flags.writeable = False  # shared by every op that reads it
                    out[(file, i)] = cols
                return out
    except OSError:
        return None


class _Cache:
    """Frame verdicts, reduced footers and decoded row groups (see the
    module docstring)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._frames: weakref.WeakKeyDictionary[DataFrame, _Frame | None] = (
            weakref.WeakKeyDictionary()
        )
        self._footers: OrderedDict[_FileKey, _Footer] = OrderedDict()
        self._groups: OrderedDict[tuple[_FileKey, int], tuple[np.ndarray, ...]] = OrderedDict()
        self.rows = 0  # held in _groups

    def frame(self, points: DataFrame) -> _Frame | None:
        with self._lock:
            if points in self._frames:
                return self._frames[points]
        frame = _frame(points)
        with self._lock:
            self._frames[points] = frame
        return frame

    def footer(self, path: str) -> _Footer | None:
        """The footer of the file at ``path`` as it is now; ``None`` if it
        is gone or cannot be read."""
        try:
            key = _file_key(path, os.stat(path))
        except OSError:
            return None
        with self._lock:
            found = self._footers.get(key)
            if found is not None:
                self._footers.move_to_end(key)
                return found
        try:
            key, found = _parse_footer(path)
        except OSError:  # gone or unreadable: Spark reports it its own way
            return None
        with self._lock:
            self._footers[key] = found
            while len(self._footers) > _MAX_FOOTERS:
                self._footers.popitem(last=False)
        return found

    def read(self, groups: list[_Group]) -> list[tuple[np.ndarray, ...]] | None:
        """id/x/y of each of ``groups``; ``None`` if a file it must
        decode is gone or has changed."""
        keys = [(g.file, g.index) for g in groups]
        with self._lock:
            got = {k: self._groups[k] for k in keys if k in self._groups}
            for k in got:
                self._groups.move_to_end(k)
        missing: dict[_FileKey, list[int]] = {}
        for file, i in keys:
            if (file, i) not in got:
                missing.setdefault(file, []).append(i)
        decoded = {}
        for file, indexes in missing.items():
            part = _decode(file, indexes)
            if part is None:
                return None
            decoded.update(part)
        if decoded:
            with self._lock:
                for k, cols in decoded.items():
                    if k not in self._groups:  # another thread may have decoded it too
                        self._groups[k] = cols
                        self.rows += len(cols[0])
                while self.rows > MAX_CACHED_ROWS:
                    _, cols = self._groups.popitem(last=False)
                    self.rows -= len(cols[0])
            got.update(decoded)
        return [got[k] for k in keys]


_CACHE = _Cache()


@dataclass
class _Snapshot:
    """The row groups of the files one points DataFrame reads."""

    types: dict[str, pa.DataType]  # of id, x and y in every file
    groups: list[_Group]

    def read(self, groups: list[_Group]) -> dict[str, np.ndarray] | None:
        """id/x/y of ``groups``, concatenated; ``None`` if a file is gone
        or has changed since it was planned."""
        parts = _CACHE.read(groups)
        if parts is None:
            return None
        return {
            c: np.concatenate([p[j] for p in parts]) if parts else np.empty(0, t.to_pandas_dtype())
            for j, (c, t) in enumerate(self.types.items())
        }


def _within_budget(groups: list[_Group]) -> bool:
    return sum(g.rows for g in groups) <= MAX_READ_ROWS


def _plain_parquet_index(points: DataFrame) -> JavaObject | None:
    """The file index of the relation, if ``points`` analyses to column
    projections (attribute references only, or none at all) of one
    unpartitioned parquet file relation; else ``None``. Each check is one
    JVM round trip, so they are kept few."""
    plan = points._jdf.queryExecution().analyzed()
    while plan.nodeName() == "Project":
        # attribute references are their own output attributes; an alias
        # or any other expression is not
        if not plan.projectList().equals(plan.output()):
            return None
        plan = plan.child()
    if plan.nodeName() != "LogicalRelation":
        return None
    rel = plan.relation()
    plain = (
        rel.getClass().getName() == _HADOOP_FS_RELATION
        and rel.fileFormat().toString() == "Parquet"
        and rel.partitionSchema().isEmpty()
    )
    return rel.location() if plain else None


@dataclass(frozen=True)
class _Frame:
    """What a plain scan's DataFrame tells every op over it."""

    types: dict[str, pa.DataType]  # of its id, x and y
    index: JavaObject  # its relation's FileIndex


def _frame(points: DataFrame) -> _Frame | None:
    """``points``' id/x/y types and file index, or ``None`` if the frame
    is not a plain scan of them."""
    schema = points.schema
    if any(c not in schema.names for c in _COLUMNS):
        return None
    types = {c: _ARROW_TYPES.get(schema[c].dataType.simpleString()) for c in _COLUMNS}
    if None in types.values():
        return None
    index = _plain_parquet_index(points)
    return None if index is None else _Frame(types, index)


def _local_path(uri: str) -> str | None:
    parts = urlsplit(uri)
    return unquote(parts.path) if parts.scheme == "file" else None


def _snapshot(points: DataFrame) -> _Snapshot | None:
    """Footers of the files ``points`` reads, or ``None`` if the driver
    path does not apply (see the module docstring)."""
    frame = _CACHE.frame(points)
    if frame is None:
        return None
    files = list(frame.index.inputFiles())
    if len(files) > MAX_FILES:
        return None
    paths = [_local_path(u) for u in files]
    if None in paths:
        return None
    want = tuple(frame.types.values())
    groups = []
    for path in sorted(paths):
        footer = _CACHE.footer(path)
        if footer is None or footer.types != want or footer.groups is None:
            return None
        groups += footer.groups
    return _Snapshot(frame.types, groups)


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
) -> dict[str, np.ndarray] | None:
    """The id/x/y of the rows of ``groups`` inside an inclusive rectangle,
    or ``None`` when the row groups that meet it hold more than
    :data:`MAX_READ_ROWS` rows or cannot be read."""
    groups = [g for g in groups if g.meets(rx, ry)]
    if not _within_budget(groups):
        return None
    cols = snap.read(groups)
    if cols is None:
        return None
    x, y = cols["x"], cols["y"]
    keep = (x >= rx[0]) & (x <= rx[1]) & (y >= ry[0]) & (y <= ry[1])
    return {c: v[keep] for c, v in cols.items()}


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
    cols = _rect(snap, snap.groups, rx, ry)
    if cols is None or len(cols["id"]) > MAX_RESULT_ROWS:
        return None
    return to_local_df(points, pa.table(cols), _row_schema(points))


def serve_count(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> DataFrame | None:
    """:func:`~tiny_md_hbase_spark.operators.spatial.range_count` on the
    driver: row groups wholly inside the rectangle count from their
    footers, only the boundary ones are read."""
    snap = _snapshot(points)
    if snap is None:
        return None
    inside = [g for g in snap.groups if g.inside(rx, ry)]
    cols = _rect(snap, [g for g in snap.groups if not g.inside(rx, ry)], rx, ry)
    if cols is None:
        return None
    n = sum(g.rows for g in inside) + len(cols["id"])
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
        new = snap.read([g])
        if new is None:
            return None
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
