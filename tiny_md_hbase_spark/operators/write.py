"""Write-path operators (SURVEY.md §2.2): insert, table lifecycle, id-gen.

The reference inserts one point per client call — z-encode, floor-lookup
the bucket, ``Put``, atomically bump the bucket counter, maybe split
(``Client.insert``, ``Client.java:55-59``; 4+ RPCs per point). The Spark
shape is the batch/micro-batch append: z-encode the whole batch with
native expressions, append to the z-clustered table, then refresh the
index by aggregation — exact counts (the reference's counters drift on
overwrites, SURVEY.md §1.3), one shuffle per batch instead of per-point
RPCs. The streaming wrapper lives in ``streaming/ingest.py``.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators.index import (
    DEFAULT_THRESHOLD,
    MAX_DEPTH,
    cells,
    floor_lookup_batch,
    index_build,
    index_build_py,
)
from tiny_md_hbase_spark.sources.writer import with_zvalue, write_zsorted_parts

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
# re-read scan; see _overflow_window_cells
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
    batch job). Returns the incrementality stats dict."""
    _append_batch(path, batch)
    return refresh_index_incremental(spark, path, batch)


def refresh_index(
    spark: SparkSession, path: str, threshold: int = DEFAULT_THRESHOLD
) -> None:
    """Recompute the bucket index from the table state (exact; replaces
    the reference's drift-prone online counters)."""
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
    """Update the index for an appended batch touching only affected
    buckets — O(batch + overflowing-bucket windows), not O(table).

    1. Route the batch's cells to their owning buckets (broadcast as-of
       join against the current index — the reference's per-point
       ``getRowOrBefore`` amortized to one join, ``Index.java:175-181``).
    2. Bump sizes. Buckets still within threshold are done — their entry
       is exact without reading the table.
    3. Each overflowing bucket is a closed subproblem (same property the
       two-phase builder exploits): re-read ONLY its z-window from the
       (z-clustered, stats-pruned) table and rebuild its subtree with the
       exact split recursion.

    Equivalent to a full rebuild by construction: splitting is local to a
    bucket, and non-overflowing buckets are untouched by definition.

    Returns incrementality stats so callers/tests can observe the cost
    class without plan surgery: ``{"overflowed": n_buckets,
    "table_scanned": bool}`` — a batch that overflows nothing must never
    read the points table at all.
    """
    index = spark.read.parquet(f"{path}/index")
    # route batch cells to owning buckets, then aggregate added counts
    batch_cells = cells(batch)
    routed = floor_lookup_batch(index, batch_cells.select("z"))
    delta = (
        routed.join(batch_cells, "z")
        .groupBy("bucket_z")
        .agg(F.sum("c").alias("added"))
    )

    merged = (
        index.join(delta, "bucket_z", "left")
        .select(
            "bucket_z",
            "pl",
            (F.col("size") + F.coalesce("added", F.lit(0))).alias("size"),
        )
    )
    over = merged.filter((F.col("size") > threshold) & (F.col("pl") < MAX_DEPTH))
    keep = merged.filter(~((F.col("size") > threshold) & (F.col("pl") < MAX_DEPTH)))

    over_rows = over.collect()  # overflowing buckets only — small by nature
    if not over_rows:
        _atomic_write_index(spark, keep, path)
        return {"overflowed": 0, "table_scanned": False}

    pts = spark.read.parquet(f"{path}/points")
    affected_cells = _overflow_window_cells(pts, over_rows)

    def _rebuild(pdf):
        import pandas as pd

        wb = int(pdf["wb"].iloc[0])
        wpl = int(pdf["wpl"].iloc[0])
        sub = index_build_py(
            list(zip((int(z) for z in pdf["zvalue"]), (int(c) for c in pdf["c"]))),
            threshold=threshold,
            max_depth=MAX_DEPTH,
            root_z=wb,
            root_pl=wpl,
        )
        return pd.DataFrame(sub, columns=["bucket_z", "pl", "size"])

    rebuilt = affected_cells.groupBy("wb", "wpl").applyInPandas(
        _rebuild, "bucket_z long, pl int, size long"
    )
    _atomic_write_index(spark, keep.unionByName(rebuilt), path)
    return {"overflowed": len(over_rows), "table_scanned": True}


def _overflow_window_cells(pts: DataFrame, over_rows: list) -> DataFrame:
    """Cells of the overflowing buckets' z-windows, tagged with their
    window (wb, wpl).

    The windows are applied twice on purpose: once as a LITERAL
    disjunction of ``zvalue BETWEEN`` predicates — over_rows is already
    collected, and only a literal filter reaches the parquet readers
    (PushedFilters on the stored ``zvalue`` of the z-clustered layout),
    so at 100 TB the rebuild reads the few files/row groups each window
    overlaps instead of scanning the table into a join — and once as the
    broadcast window-assign join that labels each surviving row. The
    join alone gives no scan pruning: a join predicate is not a pushable
    filter.

    The literal filter is a SUPERSET prefilter (the join still assigns
    exact windows), so it may be safely coarsened: overlapping/adjacent
    windows are merged, and at most ``_MAX_SCAN_RANGES`` disjuncts are
    emitted (beyond that, neighbors share a disjunct spanning the gap).
    Without the cap a batch that overflows thousands of buckets builds a
    thousands-deep OR tree — StackOverflowError in Catalyst and a
    filter too wide to push anyway."""
    from functools import reduce

    spark = pts.sparkSession
    bounds = [
        (r.bucket_z, r.pl, r.bucket_z + (1 << (64 - r.pl)) - 1) for r in over_rows
    ]
    windows = spark.createDataFrame(bounds, "wb long, wpl int, wend long")

    merged: list[list[int]] = []
    for wb, _, wend in sorted((b[0], b[1], b[2]) for b in bounds):
        if merged and wb <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], wend)
        else:
            merged.append([wb, wend])
    if len(merged) > _MAX_SCAN_RANGES:
        # keep range starts, widen each kept range to its group's end
        step = -(-len(merged) // _MAX_SCAN_RANGES)
        merged = [
            [grp[0][0], grp[-1][1]]
            for grp in (
                merged[i : i + step] for i in range(0, len(merged), step)
            )
        ]
    pred = reduce(
        lambda a, b: a | b,
        [
            (F.col("zvalue") >= lo) & (F.col("zvalue") <= hi)
            for lo, hi in merged
        ],
    )
    zcol = with_zvalue(pts)
    affected = zcol.filter(pred).join(
        F.broadcast(windows),
        (F.col("zvalue") >= F.col("wb")) & (F.col("zvalue") <= F.col("wend")),
    )
    return affected.groupBy("wb", "wpl", "zvalue").agg(F.count("*").alias("c"))


def _atomic_write_index(spark: SparkSession, index: DataFrame, path: str) -> None:
    """The new index is derived from the parquet it replaces — materialize
    (executor-side, via localCheckpoint) before overwriting, or the
    overwrite would truncate its own input mid-plan."""
    index.select("bucket_z", "pl", "size").localCheckpoint().write.mode(
        "overwrite"
    ).parquet(f"{path}/index")
