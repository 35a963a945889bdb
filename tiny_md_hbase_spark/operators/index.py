"""Adaptive quad-trie bucket index (SURVEY.md §2.2 ``bucket_split``,
§2.1 ``index_inspect``/``floor_lookup``), built and maintained on the
driver.

The reference maintains the index online: each insert increments a bucket
counter and splits the bucket one z-bit at a time when the count exceeds a
threshold (``Index.maySplit``/``splitBucket``, ``Index.java:175-230``),
writing an (empty) sibling entry at every chain level and stopping at
prefix length 64 (``Index.java:201``). The final structure is a prefix
trie whose leaves each hold ≤ threshold points (unless at max depth) —
independent of insertion order.

The trie is small metadata (86 K leaves for the 600 K-point sf0.1
fixture at threshold 10). The package has one trie kernel,
:func:`index_build_np`, and every index construction runs it on the
driver: :func:`index_build` over z collected once from a DataFrame over
Arrow; ``operators.write.refresh_index`` over every stored ``zvalue``,
and ``operators.write.refresh_index_incremental`` over the buckets an
appended batch overflows, both reading the stored column with pyarrow
(the latter only the row groups whose footer z range meets those
buckets). Stored indexes are written by one writer,
``operators.write._write_index``. Sizes are exact (the reference's
counters drift on id-overwrites, SURVEY.md §1.3). The driver holds 8
bytes per point plus sort workspace; see :func:`index_build` for
measured sizes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_md_hbase_spark.zorder import make_mask, prefix_render, set_bit, zvalue

DEFAULT_THRESHOLD = 10  # Client.java:170, README:66-67
MAX_DEPTH = 64  # Index.java:201
ROOT_PL = 2  # bootstrap bucket [00*...*], Index.java:96-99

__all__ = [
    "cells",
    "index_build",
    "index_build_np",
    "index_frame",
    "index_inspect",
    "split_step",
    "floor_lookup",
    "floor_lookup_batch",
    "z_array",
]


def cells(points: DataFrame) -> DataFrame:
    """Per-z-cell point counts — the single pass over the raw data.

    The raw rows are spread across the session's parallelism BEFORE the
    encode+partial-agg stage: a single-file source would otherwise run
    the whole Morton pass on one core (the exchange that groupBy inserts
    sits *above* the partial aggregation, not below it)."""
    zcol = F.col("zvalue") if "zvalue" in points.columns else zvalue("x", "y")
    para = points.sparkSession.sparkContext.defaultParallelism
    spread = points if points.rdd.getNumPartitions() >= para // 2 else points.repartition(para)
    return spread.select(zcol.alias("z")).groupBy("z").agg(
        F.count("*").alias("c")
    )


def z_array(points: DataFrame) -> np.ndarray:
    """The z value of every row, collected to the driver over Arrow: the
    stored ``zvalue`` column when there is one, else :func:`zvalue`.
    Rows with a null z (a null coordinate) are left out: no bucket
    holds them."""
    zcol = F.col("zvalue") if "zvalue" in points.columns else zvalue("x", "y")
    col = points.select(zcol.alias("z")).toArrow().column(0).drop_null()
    return np.asarray(col.to_numpy(), dtype=np.int64)


def index_frame(spark: SparkSession, rows: np.ndarray) -> DataFrame:
    """``(bucket_z, pl, size)`` rows as a local DataFrame. It reads no
    file, so it may overwrite the index it was derived from."""
    table = pa.table(
        {"bucket_z": rows[:, 0], "pl": rows[:, 1].astype(np.int32), "size": rows[:, 2]}
    )
    return spark.createDataFrame(table, schema="bucket_z long, pl int, size long")


def index_build(
    points: DataFrame,
    threshold: int = DEFAULT_THRESHOLD,
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """Build the bucket index ``(bucket_z, pl, size)`` to fixpoint.

    Returns the leaf trie: disjoint buckets covering the ``[00*]`` domain,
    every size ≤ threshold unless pl == max_depth, sizes exact — the
    reference's end state (verified against the one-bit-at-a-time
    recursion and a recursive-CTE DuckDB oracle).

    One Spark job collects the z column over Arrow (the stored
    ``zvalue``, or the Morton expression); :func:`index_build_np` splits
    it on the driver; the leaves come back as a local DataFrame
    (:func:`index_frame`).

    Driver cost is linear in the point count: the 8-byte z column plus
    sort workspace — its sorted copy, the Arrow buffers and the split
    loop's node arrays. Measured in local mode on a 4-core host over
    hotspot points (90% in 32 Gaussian hotspots): 1 M points (145 K
    leaves) build in 0.5-0.6 s with the Python heap peaking ~55 MB above
    its start; 10 M points (1.44 M leaves) in 3.1-3.5 s, ~300 MB (about
    30 bytes a point), with a driver JVM heap of 1 GiB (512 MiB fails;
    5 M points fit it). Extrapolated, not measured: the driver path
    stops fitting a 15 GiB host near 10^8 points.
    """
    z = z_array(points)
    rows = index_build_np(z, threshold=threshold, max_depth=max_depth)
    return index_frame(points.sparkSession, rows)


def index_build_np(
    z,
    c=None,
    threshold: int = DEFAULT_THRESHOLD,
    max_depth: int = MAX_DEPTH,
    root_z=0,
    root_pl=ROOT_PL,
) -> np.ndarray:
    """The trie kernel: ``Index.splitBucket``'s one-bit-at-a-time
    recursion (``Index.java:183-230``) — split while size > threshold and
    depth < max_depth; every split writes both children (one may be an
    empty sibling).

    ``z`` holds one key per point (duplicates are fine); ``c``, if
    given, holds per-key counts and is expanded with ``np.repeat``.
    ``root_z``/``root_pl`` are one root bucket or equal-length arrays of
    disjoint roots; z values outside every root are ignored. Returns
    int64 rows ``(bucket_z, pl, size)`` sorted by key: the leaves under
    the roots.

    numpy throughout: one sort and a LEVEL-SYNCHRONOUS split loop — one
    ``searchsorted`` over every still-open node per depth level,
    ≤ ``max_depth`` iterations. The
    global (unbounded) searchsorted is exact: nodes are prefix-defined
    contiguous ranges of the sorted z array, and a node's split key lies
    inside its own value span, so the insertion point lands within
    [lo, hi]."""
    z = np.asarray(z, dtype=np.int64)
    if c is not None:
        z = np.repeat(z, np.asarray(c, dtype=np.int64))
    zs = np.sort(z)
    bz = np.atleast_1d(np.asarray(root_z, dtype=np.int64))
    pl = np.atleast_1d(np.asarray(root_pl, dtype=np.int64))
    last = bz + ((np.int64(1) << (np.int64(64) - pl)) - 1)
    lo = np.searchsorted(zs, bz, side="left")
    hi = np.searchsorted(zs, last, side="right")

    out = []
    while lo.size:
        size = hi - lo
        leaf = (size <= threshold) | (pl >= max_depth)
        out.append(np.stack((bz[leaf], pl[leaf], size[leaf]), axis=1))
        split = ~leaf
        lo, hi, bz, pl = lo[split], hi[split], bz[split], pl[split]
        rk = bz | (np.int64(1) << (np.int64(63) - pl))
        mid = np.searchsorted(zs, rk, side="left")
        lo, hi = np.concatenate((lo, mid)), np.concatenate((mid, hi))
        bz, pl = np.concatenate((bz, rk)), np.concatenate((pl, pl)) + 1
    rows = np.concatenate(out)
    return rows[np.argsort(rows[:, 0], kind="stable")]


def split_step(points: DataFrame, parent_pl: int = 8) -> DataFrame:
    """One bucket-split step in isolation (``Index.splitBucket``,
    ``Index.java:183-230``): take the most-populated depth-``parent_pl``
    bucket (deterministic tiebreak: lowest key) and halve it on the next
    z-bit, returning the two child index entries the reference writes in
    its batched put (``Index.java:217-227``) — the second child key is
    ``makeBit(parent, parent_pl)`` (``Utils.java:148-159``), i.e. the
    parent key with the split bit set.

    The full split-to-fixpoint loop is :func:`index_build`; this operator
    exposes the single transition for inspection/verification. Two
    aggregations over (z, count) pairs + one broadcast join — no data-row
    shuffle beyond the map-side-combined groupBys.
    """
    enc = points.select(zvalue("x", "y").alias("z"))
    parent = (
        enc.groupBy(
            F.col("z").bitwiseAND(make_mask(parent_pl)).alias("parent_z")
        )
        .agg(F.count("*").alias("parent_size"))
        .orderBy(F.desc("parent_size"), "parent_z")
        .limit(1)
    )
    # the split bit: z's bit number parent_pl counted from the MSB
    bit = F.shiftright(F.col("z"), 63 - parent_pl).bitwiseAND(F.lit(1))
    sizes = (
        enc.join(
            F.broadcast(parent),
            F.col("z").bitwiseAND(make_mask(parent_pl)) == F.col("parent_z"),
        )
        .groupBy("parent_z")
        .agg(
            F.count_if(bit == 0).alias("left_size"),
            F.count_if(bit == 1).alias("right_size"),
        )
    )
    # both entries always, empty child included — the reference records
    # `count` and `bucketSize - count` unconditionally (Index.java:217-227)
    children = F.array(
        F.struct(
            F.col("parent_z").alias("child_z"),
            F.col("left_size").alias("size"),
        ),
        F.struct(
            set_bit(F.col("parent_z"), parent_pl).alias("child_z"),
            F.col("right_size").alias("size"),
        ),
    )
    return sizes.select(
        "parent_z", F.explode(children).alias("c")
    ).select(
        "parent_z",
        F.col("c.child_z").alias("child_z"),
        F.lit(parent_pl + 1).cast("int").alias("pl"),
        F.col("c.size").alias("size"),
    )


def index_inspect(index: DataFrame) -> DataFrame:
    """Render the index as the CLI ``index`` verb does (``Client.java:204-216``):
    bucket name string + size, ordered by key."""
    return index.select(
        prefix_render("bucket_z", F.col("pl")).alias("bucket_name"),
        "size",
    ).orderBy("bucket_name")


def floor_lookup(index: DataFrame, probe_z: int) -> DataFrame:
    """Greatest bucket key ≤ probe — ``HTable.getRowOrBefore`` semantics
    (``Index.java:115-122``): the bucket owning a z-value."""
    return (
        index.filter(F.col("bucket_z") <= probe_z)
        .orderBy(F.col("bucket_z").desc())
        .limit(1)
    )


def floor_lookup_batch(index: DataFrame, probes: DataFrame) -> DataFrame:
    """As-of join at probe-set scale: for each probe z, its owning bucket
    (``Index.java:115-122`` semantics, many probes at once).

    Scale shape — the same prefix equi-join as :func:`bucket_route`. An
    inequality broadcast join (``z >= bucket_z``) materializes
    O(|probes| × |buckets| / 2) intermediate rows before any per-probe
    collapse — the exact anti-pattern bucket_route's docstring warns
    about. Because the index leaves partition the keyspace prefix-free,
    the owner is the unique leaf with ``bucket_z == z & mask(pl)``: so
    explode each probe over the index's ~tens of distinct prefix
    LENGTHS and hash-join on (masked z, pl). At most one candidate
    survives per probe, so the join IS the answer — no aggregation, no
    shuffle of the probe side at all with the index broadcast.

    Requires a complete prefix-free cover, which is what
    :func:`index_build` produces (the reference's sibling chains,
    ``Index.java:183-230``, guarantee the same). A probe outside the
    cover — impossible against a complete index — is dropped rather
    than floored to a preceding unrelated bucket."""
    pls = sorted(r.pl for r in index.select("pl").distinct().collect())
    cand = probes.withColumn("pl", F.explode(F.array(*[F.lit(p) for p in pls])))
    masked = cand.withColumn(
        "bucket_z", F.col("z").bitwiseAND(make_mask(F.col("pl")))
    )
    return masked.join(
        F.broadcast(index.select("bucket_z", "pl", "size")), ["bucket_z", "pl"]
    ).select("z", "bucket_z", "pl", "size")


def bucket_route(points: DataFrame, index: DataFrame) -> DataFrame:
    """Route every point to its owning bucket and count occupancy per
    bucket — the table-sized generalization of the reference's per-point
    ``getRowOrBefore`` routing (``Index.fetchBucket``, ``Index.java:115-122``)
    and the batch heart of ``notifyInsertion`` accounting.

    Scale shape: a floor/as-of join against a prefix-free index needs NO
    inequality join (which would nested-loop at O(points x buckets)).
    Because the leaves partition the keyspace by bit-prefix, a z-value's
    owning bucket is the unique leaf with ``bucket_z == z & mask(pl)`` —
    so we explode each (distinct) z over the index's ~tens of distinct
    prefix LENGTHS and equi-join on (masked z, pl). The join shuffles
    short keys, broadcast-hints the index, and parallelizes like any
    hash join; cells pre-aggregate so each distinct z routes once.

    Returns (bucket_z, pl, n_points); equals the index's own (bucket_z,
    pl, size) for every non-empty bucket by construction.
    """
    pls = sorted(r.pl for r in index.select("pl").distinct().collect())
    zc = cells(points)
    cand = zc.withColumn("pl", F.explode(F.array(*[F.lit(p) for p in pls])))
    masked = cand.withColumn(
        "bucket_z", F.col("z").bitwiseAND(make_mask(F.col("pl")))
    )
    return (
        masked.join(F.broadcast(index.select("bucket_z", "pl")), ["bucket_z", "pl"])
        .groupBy("bucket_z", "pl")
        .agg(F.sum("c").alias("n_points"))
    )
