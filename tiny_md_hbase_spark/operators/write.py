"""Write-path operators (SURVEY.md §2.2): insert, table lifecycle, id-gen.

The reference inserts one point per client call — z-encode, floor-lookup
the bucket, ``Put``, atomically bump the bucket counter, maybe split
(``Client.insert``, ``Client.java:55-59``; 4+ RPCs per point). The Spark
shape is the batch/micro-batch append: z-encode the whole batch with
native expressions, append to the z-clustered table, then refresh the
index on the driver with the one trie kernel (``index_build_np``) —
exact counts (the reference's counters drift on overwrites, SURVEY.md
§1.3), a few Spark jobs per batch instead of per-point RPCs. The
streaming wrapper lives in ``streaming/ingest.py``.
"""

from __future__ import annotations

import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators.index import (
    DEFAULT_THRESHOLD,
    MAX_DEPTH,
    index_build,
    index_build_np,
    index_frame,
    z_array,
)
from tiny_md_hbase_spark.sources.writer import with_zvalue, write_zsorted_parts
from tiny_md_hbase_spark.zorder import between_any, coalesce_intervals

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

# cap on the literal zvalue-range disjuncts pushed into the overflow
# re-read scan; see _overflow_scan
_MAX_SCAN_RANGES = 64


def table_create(spark: SparkSession, path: str) -> None:
    """Create an empty points table + seeded index (``Index.java:77-105``:
    data table + index table with the root bucket)."""
    empty = spark.createDataFrame([], _POINTS_SCHEMA)
    with_zvalue(empty).write.mode("errorifexists").parquet(f"{path}/points")
    index_build(empty).write.mode("overwrite").parquet(f"{path}/index")


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


def _append_batch(path: str, batch: DataFrame) -> None:
    """The ONE encoding of the physical append, shared by both refresh
    strategies: ids filled, z-encoded, z-sorted *within the batch* (each
    new file carries tight zvalue min/max stats, so scans keep pruning);
    global re-cluster is a periodic compaction concern, exactly like
    HBase flushes + compactions in the reference's storage layer."""
    enc = with_zvalue(with_generated_ids(batch).select("id", "x", "y"))
    write_zsorted_parts(enc, f"{path}/points", "append")


def insert_append(spark: SparkSession, path: str, batch: DataFrame) -> None:
    """Append a batch of points and refresh the index from scratch."""
    _append_batch(path, batch)
    refresh_index(spark, path)


def insert_append_incremental(spark: SparkSession, path: str, batch: DataFrame) -> dict:
    """:func:`insert_append` with O(batch) index maintenance: the same
    physical append, then :func:`refresh_index_incremental` instead of
    the from-scratch rebuild — the steady-state ingest path (the
    reference's insert→notifyInsertion→maySplit chain,
    ``Client.java:55-59`` / ``Index.java:175-230``, amortized to one
    batch). Returns the incrementality stats dict."""
    _append_batch(path, batch)
    return refresh_index_incremental(spark, path, batch)


def refresh_index(
    spark: SparkSession, path: str, threshold: int = DEFAULT_THRESHOLD
) -> None:
    """Recompute the bucket index from the table state with
    :func:`index_build` (exact; replaces the reference's drift-prone
    online counters)."""
    pts = spark.read.parquet(f"{path}/points")
    index_build(pts, threshold=threshold).write.mode("overwrite").parquet(
        f"{path}/index"
    )


def refresh_index_incremental(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
) -> dict:
    """Update the index for a batch already appended to the table,
    touching only the buckets it overflows — O(batch + overflowing
    buckets), not O(table). All of it runs on the driver:

    1. Read the index and the batch's z values into numpy.
    2. Route each z to its owning bucket — floor semantics over the
       prefix-free cover, the reference's per-point ``getRowOrBefore``
       (``Index.java:115-122``) as one ``searchsorted`` — and bump sizes
       with ``bincount``. A z past the floor bucket's range (negative
       coordinates) or null is counted nowhere, as in
       :func:`index_build`. Buckets still within threshold are done:
       their entry is exact without reading the table.
    3. Each overflowing bucket is a closed subproblem: collect the
       stored ``zvalue`` of its rows in one pruned scan
       (:func:`_overflow_scan`) and rebuild its subtree with
       :func:`index_build_np` rooted at the bucket.
    4. Write the new index once. It is a local DataFrame, so the
       overwrite never reads the files it replaces.

    Equivalent to a full rebuild by construction: splitting is local to a
    bucket, and non-overflowing buckets are untouched by definition.

    Returns incrementality stats so callers/tests can observe the cost
    class without plan surgery: ``{"overflowed": n_buckets,
    "table_scanned": bool}`` — a batch that overflows nothing must never
    read the points table at all.
    """
    index = spark.read.parquet(f"{path}/index").toArrow()
    rows = np.stack(
        [index.column(c).to_numpy().astype(np.int64) for c in ("bucket_z", "pl", "size")],
        axis=1,
    )
    rows = rows[np.argsort(rows[:, 0])]
    z = z_array(batch)
    owner = np.searchsorted(rows[:, 0], z, side="right") - 1
    # a z outside the cover (a negative coordinate) is stored but, as in
    # index_build, owned by no bucket
    last = rows[:, 0] + ((np.int64(1) << (np.int64(64) - rows[:, 1])) - 1)
    owner = owner[(owner >= 0) & (z <= last[owner])]
    rows[:, 2] += np.bincount(owner, minlength=len(rows))
    over = (rows[:, 2] > threshold) & (rows[:, 1] < MAX_DEPTH)
    roots = rows[over, :2]
    if len(roots):
        zs = z_array(_overflow_scan(spark.read.parquet(f"{path}/points"), roots.tolist()))
        sub = index_build_np(zs, threshold=threshold, root_z=roots[:, 0], root_pl=roots[:, 1])
        rows = np.concatenate((rows[~over], sub))
    index_frame(spark, rows).write.mode("overwrite").parquet(f"{path}/index")
    return {"overflowed": len(roots), "table_scanned": bool(len(roots))}


def _overflow_scan(pts: DataFrame, roots: list) -> DataFrame:
    """The stored ``zvalue`` of the rows in the buckets ``roots``
    (``[bucket_z, pl]`` pairs), read through a literal ``zvalue BETWEEN``
    disjunction (:func:`~tiny_md_hbase_spark.zorder.between_any`), so the
    scan reads only the files/row groups the buckets overlap.

    The filter is a superset prefilter (the trie kernel ignores z values
    outside its roots), so the bucket ranges are merged and coalesced to
    at most ``_MAX_SCAN_RANGES`` disjuncts across their smallest gaps:
    a batch that overflows thousands of buckets would otherwise build a
    thousands-deep OR tree (StackOverflowError in Catalyst)."""
    ranges = [(bz, bz + (1 << (64 - pl)) - 1) for bz, pl in roots]
    pred = between_any("zvalue", coalesce_intervals(ranges, _MAX_SCAN_RANGES))
    return with_zvalue(pts).filter(pred).select("zvalue")
