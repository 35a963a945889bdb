"""Spatial read operators (SURVEY.md §2.1) as declarative DataFrame builders.

Each builder re-expresses one reference query pipeline as a single logical
plan Catalyst can optimize whole. The reference's hand-built physical
tricks map as follows (SURVEY.md §4):

- index-guided bucket pruning (``Index.findBucketsInRange``,
  ``Index.java:144-164``) → a driver-computed ``zvalue BETWEEN`` cover
  that prunes row groups and files on a z-sorted layout;
- the server-side residual ``RangeFilter`` (``RangeFilter.java:81-90``) →
  Catalyst predicate pushdown of the ``BETWEEN`` conjunction into the
  Parquet scan;
- kNN's priority-queue + bounded TreeSet (``Client.java:92-152``) →
  ``TakeOrderedAndProject`` (distributed per-partition top-k then merge),
  over a square window sized by its own k-th hit on a frame that stores
  a curve key.

All operators keep inclusive bounds on both ends of both dimensions
(``Range.java:28-40``). kNN adds a deterministic ``id`` tiebreak; the
reference drops distance-ties, an artifact documented in SURVEY.md §1.3.

:func:`point_get`, :func:`range_query`, :func:`range_count` and
:func:`knn` first try the driver serving path
(:mod:`~tiny_md_hbase_spark.operators.serving`, which documents when it
applies) and otherwise run the Spark plans below; the caller never picks
a plan, the frame does. The Spark plans of get, range and count, and
every kNN round, prune with one rule (:func:`_prune`): the exact
rectangle, plus a ``_COVER_INTERVALS``-interval cover of the curve key
the frame stores when the rectangle's lower bounds are non-negative —
a ``zvalue`` column (the Morton code, the contract ``index.z_array``
and ``index_build`` rely on too) or else an ``h`` column (the order-12
Hilbert index of ``hilbert.hilbert_encode``).
"""

from __future__ import annotations

import functools
import math

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from tiny_md_hbase_spark.hilbert import BITS as _HILBERT_BITS
from tiny_md_hbase_spark.hilbert import hilbert_cover_py
from tiny_md_hbase_spark.operators import serving
from tiny_md_hbase_spark.zorder import between_any, z_cover_py, zorder_encode_py, zvalue

__all__ = [
    "rect_predicate",
    "z_window",
    "range_query",
    "range_count",
    "point_get",
    "knn",
    "full_scan",
    "distance_join",
    "knn_join",
    "range_filter_stats",
    "polygon_query",
    "polygon_query_sql",
    "skyline",
    "skyline_sql",
]


def rect_predicate(rx: tuple[int, int], ry: tuple[int, int]) -> Column:
    """Inclusive 2-D rectangle membership (``Range.include``,
    ``Range.java:42-44``, applied per axis). Parsed from one SQL string,
    as :func:`~tiny_md_hbase_spark.zorder.between_any` is, because each
    Column operator costs a JVM round trip."""
    return F.expr(f"`x` BETWEEN {rx[0]} AND {rx[1]} AND `y` BETWEEN {ry[0]} AND {ry[1]}")


# the covers' interval budget; the int coordinate domain
_COVER_INTERVALS = 16
_DOMAIN_MAX = 2**31 - 1
# per stored curve key, in order of preference: its cover and the largest
# coordinate the cover spans (the stored zvalue is the Morton code of
# non-negative int x/y; h the Hilbert index on the order-12 grid)
_CURVES = {
    "zvalue": (z_cover_py, _DOMAIN_MAX),
    "h": (hilbert_cover_py, (1 << _HILBERT_BITS) - 1),
}


def z_window(rx: tuple[int, int], ry: tuple[int, int]) -> tuple[int, int]:
    """The z-value interval covering a rectangle: every point inside the
    rectangle has ``zip(xmin,ymin) <= z <= zip(xmax,ymax)`` because the
    Morton code is monotone per axis. This is the scan window the
    reference derives per bucket (``Bucket.java:63-74``), computed
    driver-side for the whole query rectangle. Upper bounds are clipped
    to the int domain first, as :func:`_prune` does."""
    return (
        zorder_encode_py(rx[0], ry[0]),
        zorder_encode_py(min(rx[1], _DOMAIN_MAX), min(ry[1], _DOMAIN_MAX)),
    )


def _prune(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> Column:
    """The one pruning rule of the Spark plans: the exact rectangle, and
    the disjunction of the cover of the curve key ``points`` stores,
    which reaches the parquet scan as pushed filters and skips the row
    groups and files outside every interval — the reference's index
    scan keeping only buckets that meet the rectangle
    (``Index.java:155-162``).

    The key is a ``zvalue`` column, else an ``h`` column (``_CURVES``).
    Its cover is built over the rectangle with the upper bounds clipped
    to the curve's domain: the int domain for z, the order-12 grid for
    Hilbert. It is left out when a lower bound is negative: a row with a
    negative coordinate has no place on a curve over the non-negative
    domain, so no cover can be relied on to hold it. An empty rectangle adds
    no cover. The rectangle comes first in the conjunction, so the
    residual filter rejects most rows before it tests the intervals."""
    pred = rect_predicate(rx, ry)
    key = _curve_key(points)
    if key is None or rx[0] < 0 or ry[0] < 0:
        return pred
    cover_py, top = _CURVES[key]
    cover = cover_py((rx[0], min(rx[1], top)), (ry[0], min(ry[1], top)), _COVER_INTERVALS)
    return pred & between_any(key, cover) if cover else pred


def _curve_key(points: DataFrame) -> str | None:
    """The curve key column ``points`` stores, if any."""
    return next((c for c in _CURVES if c in points.columns), None)


def range_query(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> DataFrame:
    """Rectangle query, inclusive bounds (``Client.rangeQuery``,
    ``Client.java:76-83``).

    Served on the driver where :mod:`~tiny_md_hbase_spark.operators.serving`
    applies. Otherwise one Spark scan filtered by :func:`_prune`: Catalyst
    pushes the rectangle's ``BETWEEN`` conjunction (the built-in
    replacement for ``RangeFilter``) and, on a frame with a stored
    ``zvalue``, the z cover into the Parquet scan, where row groups
    outside it are skipped by their min/max stats.
    """
    served = serving.serve_range(points, rx, ry)
    if served is not None:
        return served
    return _range_plan(points, rx, ry)


def _range_plan(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> DataFrame:
    """The Spark plan of :func:`range_query`, :func:`range_count` and
    :func:`point_get`."""
    return points.filter(_prune(points, rx, ry)).select("id", "x", "y")


def range_count(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> DataFrame:
    """COUNT(*) over a rectangle (CLI ``count``, ``Client.java:194-203``).
    Partial counts are computed map-side per partition and merged — the
    aggregate never shuffles rows, only one long per partition."""
    served = serving.serve_count(points, rx, ry)
    if served is not None:
        return served
    return _range_plan(points, rx, ry).agg(F.count("*").alias("cnt"))


def point_get(points: DataFrame, x: int, y: int) -> DataFrame:
    """Point query: every entity exactly at (x, y) (``Client.get``,
    ``Client.java:61-65``): the one-cell rectangle, whose z cover on a
    z-sorted layout is the single z, mirroring the reference's
    single-row ``Get``."""
    served = serving.serve_get(points, x, y)
    if served is not None:
        return served
    return _range_plan(points, (x, x), (y, y))


def point_get_lookup(points: DataFrame) -> DataFrame:
    """Self-contained t2 variant: look up all entities co-located with the
    minimum-id point (FIXTURES.md pinned parameters). The 1-row probe side
    is broadcast — no shuffle of the big side."""
    probe = points.orderBy("id").limit(1).select("x", "y")
    return points.join(F.broadcast(probe), ["x", "y"]).select("id", "x", "y")


# the half side of a kNN's first square window
_KNN_RADIUS = 16


def knn(points: DataFrame, qx: int, qy: int, k: int) -> DataFrame:
    """k nearest neighbors by Euclidean distance with deterministic id
    tiebreak (``Client.nearestNeighbor``, ``Client.java:92-152``).

    Served on the driver where :mod:`~tiny_md_hbase_spark.operators.serving`
    applies. Otherwise the frame picks the Spark plan:

    - With a stored ``zvalue`` or ``h`` column, pruned rounds, as the
      reference grows its window until the nearest unscanned bucket is
      farther than the k-th hit. Round 1 takes the top k inside the
      square of half side ``_KNN_RADIUS`` around the query, pruned by
      :func:`_prune`. If it holds k rows and the k-th lies within the
      radius, every unscanned point is farther: that is the answer. If
      the k-th lies farther, one more round over the square of half side
      ``ceil(sqrt(kth dist_sq))`` is exact, because it holds the k known
      hits and every point outside it is farther than the k-th. If it
      holds fewer than k rows, the full-scan plan answers. So a kNN runs
      at most two Spark jobs; a round's answer comes back over Arrow as
      a local relation.
    - Without one, the full-scan plan: ``orderBy(dist_sq, id).limit(k)``
      compiles to TakeOrderedAndProject, where each partition keeps its
      local top-k in a bounded heap and the driver merges k-sized heaps.

    Distance is computed in exact integer arithmetic (no float
    comparisons until the final display column).
    """
    served = serving.serve_knn(points, qx, qy, k)
    if served is not None:
        return served
    if k <= 0 or _curve_key(points) is None:
        return _knn_plan(points, qx, qy, k)
    round1 = _knn_window(points, qx, qy, k, _KNN_RADIUS)
    hits = round1.toArrow()
    if hits.num_rows < k:
        return _knn_plan(points, qx, qy, k)
    kth = hits["dist_sq"][k - 1].as_py()
    if kth > _KNN_RADIUS**2:
        hits = _knn_window(points, qx, qy, k, _ceil_sqrt(kth)).toArrow()
    return serving.to_local_df(points, hits, round1.schema)


def _ceil_sqrt(n: int) -> int:
    """``ceil(sqrt(n))`` in exact integer arithmetic, for ``n >= 1``."""
    return math.isqrt(n - 1) + 1


def _knn_window(points: DataFrame, qx: int, qy: int, k: int, r: int | None) -> DataFrame:
    """:func:`_knn_plan` over the square of half side ``r`` around the
    query, pruned by :func:`_prune`; over the whole frame when ``r`` is
    ``None``."""
    if r is not None:
        points = points.filter(_prune(points, (qx - r, qx + r), (qy - r, qy + r)))
    return _knn_plan(points, qx, qy, k)


def _knn_plan(points: DataFrame, qx: int, qy: int, k: int) -> DataFrame:
    """The full-scan Spark plan of :func:`knn`, and the plan of each round.
    ``dist_sq`` is parsed from one SQL string, as :func:`rect_predicate` is."""
    dx = f"(CAST(`x` AS BIGINT) - {qx})"
    dy = f"(CAST(`y` AS BIGINT) - {qy})"
    return (
        points.withColumn("dist_sq", F.expr(f"{dx} * {dx} + {dy} * {dy}"))
        # total order: the fixture's id is not unique (dup (orderkey,
        # linenumber) pairs), so tiebreak through the whole tuple to keep
        # the k-boundary deterministic across engines; nulls last, as the
        # DuckDB oracle sorts, so a null coordinate never ranks nearest
        .orderBy(*(F.col(c).asc_nulls_last() for c in ("dist_sq", "id", "x", "y")))
        .limit(k)
        .select("id", "x", "y", "dist_sq", F.sqrt("dist_sq").alias("dist"))
    )


def full_scan(points: DataFrame) -> DataFrame:
    """Scan an entire dataset/bucket (``Bucket.scan()``,
    ``Bucket.java:123-125``)."""
    return points.select("id", "x", "y")


def range_filter_stats(
    points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]
) -> DataFrame:
    """Observable semantics of the pushed-down residual predicate
    (``RangeFilter.filterKeyValue``, ``RangeFilter.java:81-90``): of the
    rows inside the rectangle's z scan window (what the reference's
    per-bucket scan reads, ``Bucket.java:63-74``), how many survive the
    exact rectangle test (what ``RangeFilter`` lets through).

    Returns one row ``(n_scanned, n_hits)``. In Spark the residual is
    Catalyst's pushed ``BETWEEN`` conjunction — this operator measures the
    same selectivity as a single-pass conditional aggregation (map-side
    partials, no shuffle of data rows; the z-encode runs in projection
    context where codegen CSE collapses the spread expression).
    """
    zlo, zhi = z_window(rx, ry)
    enc = points.select("x", "y", zvalue("x", "y").alias("z"))
    in_window = F.col("z").between(zlo, zhi)
    return enc.agg(
        F.count_if(in_window).alias("n_scanned"),
        F.count_if(in_window & rect_predicate(rx, ry)).alias("n_hits"),
    )


def spatial_histogram(points: DataFrame, cell_bits: int = 4) -> DataFrame:
    """2-D grid histogram: counts per (x, y) cell of side ``2^cell_bits``.

    The batch analog of the reference's index statistics (bucket sizes
    over the space decomposition) for a *uniform* grid: one map-side
    partial-aggregated groupBy on the truncated coordinates; at scale this
    is the standard density/heatmap shape and doubles as the skew detector
    used to pick salting/partition strategies.
    """
    gx = F.shiftright("x", cell_bits).alias("grid_x")
    gy = F.shiftright("y", cell_bits).alias("grid_y")
    return (
        points.groupBy(gx, gy)
        .agg(F.count("*").alias("n_points"))
        .select("grid_x", "grid_y", "n_points")
    )


def distance_join(points: DataFrame, radius: int, cell_bits: int | None = None) -> DataFrame:
    """All pairs of points within Euclidean distance ``radius`` — the
    spatial self-join the reference's bucket machinery gestures at but
    never ships (its only two-table interaction is index→data lookup,
    ``Index.java:144-164``; SURVEY.md §2.5 lists joins as absent).

    Scale shape: a naive formulation is an O(n²) cross join. Grid-cell
    blocking turns it into one shuffle hash join on short keys: each
    point hashes to its home cell of side ``2^cell_bits >= radius``; the
    probe side explodes over the FORWARD half of the 3x3 cell
    neighborhood only — (0,0),(0,1),(1,-1),(1,0),(1,1) — an
    antisymmetric set, so every cross-cell pair meets in exactly one
    direction (5/9 the candidate volume of the full neighborhood) and
    same-cell pairs dedup by strict tuple order. Work is O(n * local
    density), partitions are cells (AQE splits skewed ones), and nothing
    is broadcast or collected — the same plan runs on 100 TB. Output
    pairs are canonicalized to (lesser (id,x,y) tuple, greater),
    deterministic even though fixture ids are not unique.
    """
    if cell_bits is None:
        cell_bits = max(1, (radius - 1).bit_length())
    if (1 << cell_bits) < radius:
        raise ValueError("cell side 2^cell_bits must be >= radius")
    # single-file sources scan with ~3 tasks; the 9x explode + shuffle
    # write must run at full parallelism, so repartition the RAW rows
    # first, and materialize the cell table once — both sides of the
    # self-join consume it (a 100 TB source arrives pre-partitioned and
    # skips the repartition branch)
    para = points.sparkSession.sparkContext.defaultParallelism
    if points.rdd.getNumPartitions() < para // 2:
        points = points.repartition(para)
    cells_df = points.select(
        "id",
        "x",
        "y",
        F.shiftright("x", cell_bits).alias("cx"),
        F.shiftright("y", cell_bits).alias("cy"),
    ).localCheckpoint()
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(dx == 0 and dy == 0).alias("same"),
            )
            for dx, dy in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
        ]
    )
    probe = (
        cells_df.select("id", "x", "y", "cx", "cy", F.explode(offsets).alias("o"))
        .select(
            F.col("id").alias("id_a"),
            F.col("x").alias("x_a"),
            F.col("y").alias("y_a"),
            (F.col("cx") + F.col("o.dx")).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
            F.col("o.same").alias("same"),
        )
    )
    # deliberate join strategy: the planner picks sort-merge for the
    # cell equi-join (both inputs are stats-less checkpointed RDDs), and
    # the SMJ sorts cost more than the join itself — the probe side is
    # 5x the point table. A shuffled-hash build of the HOME side is
    # strictly better here: the build is one point-row per cell bucket
    # per task (points/partitions rows — bounded per task at any scale
    # by partition count, exactly like the salted shuffle-hash path in
    # dedup.ngram_jaccard), and no sort of the 5x probe stream ever
    # runs. Measured 3.4s -> 1.8s at sf0.1 (528,790 identical pairs).
    home = cells_df.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("x_b"),
        F.col("y").alias("y_b"),
        "cx",
        "cy",
    ).hint("shuffle_hash")
    dx = F.col("x_a").cast("long") - F.col("x_b")
    dy = F.col("y_a").cast("long") - F.col("y_b")
    sa = F.struct(
        F.col("id_a").alias("id"), F.col("x_a").alias("x"), F.col("y_a").alias("y")
    )
    sb = F.struct(
        F.col("id_b").alias("id"), F.col("x_b").alias("x"), F.col("y_b").alias("y")
    )
    return (
        probe.join(home, ["cx", "cy"])
        # same-cell: strict order dedups the pair (and drops self/identical
        # tuples); cross-cell: the forward offset set already met the pair
        # exactly once, any orientation passes
        .filter(~F.col("same") | (sa < sb))
        .withColumn("dist_sq", dx * dx + dy * dy)
        .filter(F.col("dist_sq") <= radius * radius)
        .select(F.least(sa, sb).alias("lo"), F.greatest(sa, sb).alias("hi"), "dist_sq")
        .select(
            F.col("lo.id").alias("id_a"),
            F.col("lo.x").alias("x_a"),
            F.col("lo.y").alias("y_a"),
            F.col("hi.id").alias("id_b"),
            F.col("hi.x").alias("x_b"),
            F.col("hi.y").alias("y_b"),
            "dist_sq",
        )
    )


def knn_join(points: DataFrame, queries: list[tuple[int, int, int]], k: int) -> DataFrame:
    """Batched exact kNN: for each (qid, qx, qy) query point, the k
    nearest data points — ``Client.nearestNeighbor`` (``Client.java:
    92-152``) lifted from one probe to a probe *set*.

    Each probe follows :func:`knn`'s round rule, and each round runs the
    plans of all its probes as one union, so one Spark job. Round 1 is
    every probe's top k inside its square of half side ``_KNN_RADIUS``,
    pruned by :func:`_prune`; the window bounds are literals computed in
    Python integers, so no bound overflows the int columns. A probe with
    k hits whose k-th lies within the radius is answered. Round 2 holds
    the rest: a probe whose k-th lies farther gets the square of half
    side ``ceil(sqrt(kth dist_sq))``, a probe with fewer than k hits the
    full-scan plan. So a batch runs at most two Spark jobs. Each probe
    is its own (pruned) scan, which suits a small probe set.

    Exact, same total-order tiebreak as :func:`knn`; rows come back in
    ``(qid, dist_sq, id, x, y)`` order.
    """
    schema = StructType(
        [
            StructField("qid", IntegerType()),
            *(points.schema[c] for c in ("id", "x", "y")),
            StructField("dist_sq", LongType()),
        ]
    )
    if k <= 0 or not queries:
        return points.sparkSession.createDataFrame([], schema)

    def collect(probes: list[tuple[int, int, int, int | None]]) -> pa.Table:
        plans = [
            _knn_window(points, qx, qy, k, r).select(
                F.lit(qid).cast("int").alias("qid"), "id", "x", "y", "dist_sq"
            )
            for qid, qx, qy, r in probes
        ]
        return functools.reduce(DataFrame.unionAll, plans).toArrow()

    hits = collect([(*q, _KNN_RADIUS) for q in queries])
    found = hits.group_by("qid").aggregate([("dist_sq", "count"), ("dist_sq", "max")])
    kth = {r["qid"]: (r["dist_sq_count"], r["dist_sq_max"]) for r in found.to_pylist()}
    accepted, again = [], []
    for qid, qx, qy in queries:
        n, far = kth.get(qid, (0, 0))
        if n < k:
            again.append((qid, qx, qy, None))
        elif far > _KNN_RADIUS**2:
            again.append((qid, qx, qy, _ceil_sqrt(far)))
        else:
            accepted.append(qid)
    parts = [hits.filter(pc.is_in(hits["qid"], pa.array(accepted, pa.int32())))]
    if again:
        parts.append(collect(again))
    table = pa.concat_tables(parts, promote_options="default")
    order = [(c, "ascending") for c in ("qid", "dist_sq", "id", "x", "y")]
    return serving.to_local_df(points, table.sort_by(order), schema)


def polygon_query(
    points: DataFrame, vertices: list[tuple[int, int]]
) -> DataFrame:
    """Points inside (or on the boundary of) a CONVEX polygon given as
    CCW integer vertices — the shape class one step beyond the
    reference's axis-aligned rectangles (`Client.rangeQuery`), needed
    for geofences and sensor footprints over the same point table.

    Membership is the half-plane conjunction: for every directed edge
    (v1→v2), the cross product (x2-x1)(y-y1) - (y2-y1)(x-x1) must be
    >= 0. All arithmetic is BIGINT — exact, no epsilon, identical in
    any engine (the coordinate domain [0, 2^31) keeps each cross term
    under 2^62; the fixtures are far smaller).

    100 TB shape: the polygon's bounding box is a plain x/y BETWEEN
    conjunction — Catalyst pushes it into the parquet scan (and the
    z-sorted layout prunes row groups with it), so the per-row edge
    tests only run on the bbox survivors; the edge tests themselves are
    codegen'd comparisons, zero shuffle. A concave polygon decomposes
    into convex pieces unioned by OR — same plan shape."""
    if len(vertices) < 3:
        raise ValueError("polygon_query needs at least 3 vertices")
    # reject CW or concave input LOUDLY: a clockwise ring (the
    # shapefile exterior-ring convention) would flip every half-plane
    # and silently return 0 rows
    n_v = len(vertices)
    area2 = sum(
        vertices[i][0] * vertices[(i + 1) % n_v][1]
        - vertices[(i + 1) % n_v][0] * vertices[i][1]
        for i in range(n_v)
    )
    if area2 <= 0:
        raise ValueError(
            "polygon_query needs counter-clockwise vertices "
            f"(signed area {area2 / 2}); reverse the ring"
        )
    for i in range(n_v):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % n_v]
        x3, y3 = vertices[(i + 2) % n_v]
        if (x2 - x1) * (y3 - y1) - (y2 - y1) * (x3 - x1) < 0:
            raise ValueError(
                "polygon_query needs a convex polygon (reflex vertex at "
                f"{vertices[(i + 1) % n_v]}); decompose concave shapes "
                "into convex pieces and OR the predicates"
            )
    xs = [v[0] for v in vertices]
    ys = [v[1] for v in vertices]
    bbox = F.col("x").between(min(xs), max(xs)) & F.col("y").between(
        min(ys), max(ys)
    )
    x = F.col("x").cast("long")
    y = F.col("y").cast("long")
    pred = bbox
    n = len(vertices)
    for i in range(n):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % n]
        cross = F.lit(int(x2 - x1)) * (y - F.lit(int(y1))) - F.lit(
            int(y2 - y1)
        ) * (x - F.lit(int(x1)))
        pred = pred & (cross >= 0)
    return points.filter(pred).select("id", "x", "y")


def polygon_query_sql(
    points_sql: str, vertices: list[tuple[int, int]]
) -> str:
    """DuckDB twin of :func:`polygon_query` over a points relation SQL
    (same BIGINT cross products, same inclusive bbox)."""
    xs = [v[0] for v in vertices]
    ys = [v[1] for v in vertices]
    conds = [
        f"x BETWEEN {min(xs)} AND {max(xs)}",
        f"y BETWEEN {min(ys)} AND {max(ys)}",
    ]
    n = len(vertices)
    for i in range(n):
        x1, y1 = vertices[i]
        x2, y2 = vertices[(i + 1) % n]
        conds.append(
            f"{x2 - x1} * (CAST(y AS BIGINT) - {y1}) "
            f"- {y2 - y1} * (CAST(x AS BIGINT) - {x1}) >= 0"
        )
    return (
        f"WITH points AS ({points_sql}) "
        f"SELECT id, x, y FROM points WHERE {' AND '.join(conds)}"
    )


def skyline(pts: DataFrame) -> DataFrame:
    """2D skyline (Pareto front, minimize both axes): every point not
    dominated by another — q dominates p when q.x ≤ p.x ∧ q.y ≤ p.y
    with at least one strict. The classic multi-criteria "best
    tradeoffs" query (Börzsönyi/Kossmann/Stocker, ICDE'01), which no
    single ORDER BY can express. Returns (id, x, y) ordered (x, y, id);
    coordinate-duplicate skyline points all survive (identical points
    never dominate each other — no strict coordinate).

    Scale shape — the sort-free 2D rewrite: (1) per-x minima m(x) by
    map-side-partial aggregation (the only data-sized pass; everything
    dominated within its own x column dies here); (2) the strictly-
    cumulative min over the DISTINCT-x table as a TWO-PHASE prefix min
    — distinct x is DATA-bounded (SURVEY §1.1's domain is [0, 2^31), so
    it can reach corpus scale), and a bare ``Window.orderBy("x")``
    would sort that whole table in one task. Instead: range-partition
    the distinct-x table, run the strict prefix-min window WITHIN each
    range partition (parallel — every WindowExec here has a partition
    spec), reduce each partition to its single overall min (one row per
    partition: bounded metadata), prefix-combine those P rows with a
    tiny triangular self-join (no window, no single-partition sort),
    and broadcast the per-partition carry back. ``prev_min`` =
    least(within-partition prefix, carry from earlier partitions) —
    identical to the global window by range-partition ordering (every
    x in an earlier partition is strictly smaller, equal keys never
    split across partitions); (3) a broadcastable x-keyed join filters
    survivors: on the skyline iff y = m(x) and y < min over all
    smaller x (strictly smaller x makes any ≤ tie a strict dominance).
    No quadratic pass anywhere — the oracle keeps the raw NOT-EXISTS
    dominance predicate but probes it against the per-x minima, so the
    two formulations stay independent.

    The distinct-x table is localCheckpoint-ed after the range exchange:
    both phase consumers (the windowed prefix and the per-partition
    reduction) must read the SAME partition assignment — relying on
    ReuseExchange to keep two independent range-samplings consistent
    would make correctness hang on an optimizer rule."""
    from pyspark.sql import Window

    p = pts.select("id", "x", "y")
    mins = p.groupBy("x").agg(F.min("y").alias("my"))
    npart = max(p.sparkSession.sparkContext.defaultParallelism, 2)
    ranged = (
        mins.repartitionByRange(npart, "x")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    wp = (
        Window.partitionBy("pid")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.select(
        "pid", "x", "my", F.min("my").over(wp).alias("local_prev")
    )
    pmins = ranged.groupBy("pid").agg(F.min("my").alias("pmin"))
    carry = (
        pmins.alias("b")
        .join(pmins.alias("a"), F.col("a.pid") < F.col("b.pid"), "left")
        .groupBy(F.col("b.pid").alias("pid"))
        .agg(F.min("a.pmin").alias("carry"))
    )
    frontier = (
        local.join(F.broadcast(carry), "pid")
        .select(
            "x",
            "my",
            F.least("local_prev", "carry").alias("prev_min"),
        )
        .filter(F.col("prev_min").isNull() | (F.col("my") < F.col("prev_min")))
    )
    # the survivor filter joins the points against the frontier UNFORCED:
    # the frontier's worst case is #distinct-x (anti-correlated data makes
    # it corpus-sized — the same data-bounded cardinality that forced the
    # two-phase prefix min above), so a forced F.broadcast here would be
    # an executor-OOM by construction. AQE picks a broadcast join at
    # runtime whenever the frontier is actually small (the benign case),
    # from measured sizes rather than a hint; the carry join above stays
    # forced because carry is one row per range partition — bounded
    # metadata, never data.
    f2 = frontier.select(F.col("x").alias("fx"), F.col("my").alias("fy"))
    return (
        p.join(
            f2,
            (F.col("x") == F.col("fx")) & (F.col("y") == F.col("fy")),
        )
        .select("id", "x", "y")
        .orderBy("x", "y", "id")
    )


def skyline_sql(points_sql: str) -> str:
    """DuckDB twin of :func:`skyline`: the RAW dominance predicate
    (NOT EXISTS a dominating q), quadratic only against the per-x
    minima — a different formulation from the Spark window rewrite,
    which is the point of the oracle."""
    return (
        f"WITH points AS ({points_sql}), "
        "mins AS (SELECT x, min(y) AS my FROM points GROUP BY x) "
        "SELECT p.id, p.x, p.y FROM points p "
        "WHERE NOT EXISTS (SELECT 1 FROM mins q "
        "WHERE q.x <= p.x AND q.my <= p.y "
        "AND (q.x < p.x OR q.my < p.y)) "
        "ORDER BY p.x, p.y, p.id"
    )
