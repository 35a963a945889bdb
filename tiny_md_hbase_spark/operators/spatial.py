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
  ``TakeOrderedAndProject`` (distributed per-partition top-k then merge).

All operators keep inclusive bounds on both ends of both dimensions
(``Range.java:28-40``). kNN adds a deterministic ``id`` tiebreak; the
reference drops distance-ties, an artifact documented in SURVEY.md §1.3.

:func:`point_get`, :func:`range_query`, :func:`range_count` and
:func:`knn` first try the driver serving path
(:mod:`~tiny_md_hbase_spark.operators.serving`, which documents when it
applies) and otherwise run the Spark plans below. The Spark plans of
get, range and count, and every round of :func:`knn_indexed`, prune
with one rule (:func:`_prune`): the exact rectangle, plus a
``_COVER_INTERVALS``-interval z cover (``zorder.z_cover_py``) when the
frame has a stored ``zvalue`` column — the Morton code, the contract
``index.z_array`` and ``index_build`` rely on too — and the rectangle's
lower bounds are non-negative.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators import serving
from tiny_md_hbase_spark.zorder import between_any, z_cover_py, zorder_encode_py, zvalue

__all__ = [
    "rect_predicate",
    "z_window",
    "knn_hilbert",
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
    ``Range.java:42-44``, applied per axis)."""
    return F.col("x").between(rx[0], rx[1]) & F.col("y").between(ry[0], ry[1])


def z_window(rx: tuple[int, int], ry: tuple[int, int]) -> tuple[int, int]:
    """The z-value interval covering a rectangle: every point inside the
    rectangle has ``zip(xmin,ymin) <= z <= zip(xmax,ymax)`` because the
    Morton code is monotone per axis. This is the scan window the
    reference derives per bucket (``Bucket.java:63-74``), computed
    driver-side for the whole query rectangle."""
    return zorder_encode_py(rx[0], ry[0]), zorder_encode_py(rx[1], ry[1])


# the z cover's interval budget, and the coordinate domain it is built
# over (the stored zvalue is the Morton code of non-negative int x/y)
_COVER_INTERVALS = 16
_DOMAIN_MAX = 2**31 - 1


def _prune(points: DataFrame, rx: tuple[int, int], ry: tuple[int, int]) -> Column:
    """The one pruning rule of the Spark plans: the exact rectangle, and
    when ``points`` has a stored ``zvalue`` column, the disjunction of
    its z cover, which reaches the parquet scan as pushed filters and
    skips the row groups and files outside every interval — the
    reference's index scan keeping only buckets that meet the rectangle
    (``Index.java:155-162``).

    The cover is built over the rectangle with its upper bounds clipped
    to the int domain. It is left out when a lower bound is negative:
    a row with a negative coordinate has a z outside ``[0, 2**62)``, so
    no cover of the non-negative domain holds it. An empty rectangle
    adds no cover. The rectangle comes first in the conjunction, so the
    residual filter rejects most rows before it tests the intervals."""
    pred = rect_predicate(rx, ry)
    if "zvalue" in points.columns and rx[0] >= 0 and ry[0] >= 0:
        cx, cy = (rx[0], min(rx[1], _DOMAIN_MAX)), (ry[0], min(ry[1], _DOMAIN_MAX))
        cover = z_cover_py(cx, cy, _COVER_INTERVALS)
        if cover:
            pred = pred & between_any("zvalue", cover)
    return pred


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


def knn(points: DataFrame, qx: int, qy: int, k: int) -> DataFrame:
    """k nearest neighbors by Euclidean distance with deterministic id
    tiebreak (``Client.nearestNeighbor``, ``Client.java:92-152``).

    ``orderBy(dist_sq, id).limit(k)`` compiles to TakeOrderedAndProject:
    each partition keeps its local top-k in a bounded heap and the driver
    merges k-sized heaps — the distributed analog of the reference's
    bucket priority queue + bounded TreeSet, without the manual window
    growth. Distance is computed in exact integer arithmetic (no float
    comparisons until the final display column).
    """
    served = serving.serve_knn(points, qx, qy, k)
    if served is not None:
        return served
    return _knn_plan(points, qx, qy, k)


def _knn_plan(points: DataFrame, qx: int, qy: int, k: int) -> DataFrame:
    """The Spark plan of :func:`knn`."""
    dx = F.col("x").cast("long") - F.lit(qx)
    dy = F.col("y").cast("long") - F.lit(qy)
    return (
        points.withColumn("dist_sq", dx * dx + dy * dy)
        # total order: the fixture's id is not unique (dup (orderkey,
        # linenumber) pairs), so tiebreak through the whole tuple to keep
        # the k-boundary deterministic across engines
        .orderBy("dist_sq", "id", "x", "y")
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


def knn_join(
    points: DataFrame,
    queries: list[tuple[int, int, int]],
    k: int,
    initial_radius: int = 64,
    domain_max: int = 2**31 - 1,
) -> DataFrame:
    """Batched exact kNN: for each (qid, qx, qy) query point, the k
    nearest data points — ``Client.nearestNeighbor`` (``Client.java:
    92-152``) lifted from one probe to a probe *set*, the shape an
    embedding/feature pipeline actually runs.

    Scale shape: never cross-join the table against the probes. Each
    round broadcasts the tiny probe table, keeps only points inside each
    probe's current square window (a pushed-down rectangle — on a
    z-sorted layout only overlapping row groups are read), ranks
    candidates per probe with one window function over the pruned set,
    and accepts a probe once its k-th hit lies within the window radius
    (everything unscanned is farther). Unaccepted probes double their
    radius; rounds are O(log(r_true/r_0)). Rows entering the rank
    shuffle are only the candidate neighborhoods, not the table.

    Exact, same total-order tiebreak as :func:`knn`.
    """
    from pyspark.sql import Window

    spark = points.sparkSession
    schema = "qid int, id long, x int, y int, dist_sq long"
    done: dict[int, list] = {}
    pending = list(queries)
    r = initial_radius
    while pending:
        qdf = spark.createDataFrame(pending, "qid int, qx int, qy int")
        cand = points.join(
            F.broadcast(qdf),
            F.col("x").between(F.col("qx") - r, F.col("qx") + r)
            & F.col("y").between(F.col("qy") - r, F.col("qy") + r),
        )
        dx = F.col("x").cast("long") - F.col("qx")
        dy = F.col("y").cast("long") - F.col("qy")
        ranked = (
            cand.withColumn("dist_sq", dx * dx + dy * dy)
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy("dist_sq", "id", "x", "y")
                ),
            )
            .filter(F.col("rn") <= k)
            .select("qid", "id", "x", "y", "dist_sq")
            .collect()
        )
        hits: dict[int, list] = {}
        for row in ranked:
            hits.setdefault(row.qid, []).append(row)
        still = []
        for qid, qx, qy in pending:
            h = hits.get(qid, [])
            covered = (
                qx - r <= 0
                and qy - r <= 0
                and qx + r >= domain_max
                and qy + r >= domain_max
            )
            if (len(h) == k and h[-1].dist_sq <= r * r) or covered:
                done[qid] = h
            else:
                still.append((qid, qx, qy))
        pending = still
        r *= 2
    rows = [row for qid in sorted(done) for row in done[qid]]
    return spark.createDataFrame(rows, schema)


def knn_indexed(
    points: DataFrame,
    qx: int,
    qy: int,
    k: int,
    initial_radius: int = 16,
    domain_max: int = 2**31 - 1,
) -> DataFrame:
    """Index/layout-accelerated exact kNN: expanding-window search over a
    z-clustered table.

    The reference's best-first bucket expansion (``Client.java:92-152``
    — priority queue over buckets, growing search square, stop when the
    nearest unscanned bucket is farther than the k-th hit) re-expressed
    for a z-sorted layout: scan the square window of radius r around the
    query (pruned by :func:`_prune`, the rectangle plus its z cover on a
    stored ``zvalue``, so only overlapping row groups are read), take the
    local top-k, and accept iff the k-th distance ≤ r — every unscanned
    point lies outside the square, hence farther than r. Otherwise double
    r. Each round is one pruned scan; rounds are O(log(r_final/r_0)), and
    r_final is the true k-NN radius — on a z-sorted 100 TB table each
    round touches only the files whose z-interval meets the window, which
    is the exact analog of the reference's bucket queue without any
    driver-side bucket state.

    Exact — returns the same rows as :func:`knn` (same total-order
    tiebreak). The plain :func:`knn` is preferable when no clustered
    layout exists (single scan); this variant wins when the table is
    z-sorted and far larger than the answer neighborhood.
    """
    return _knn_expanding(
        points, qx, qy, k, initial_radius, domain_max, lambda rx, ry: _prune(points, rx, ry)
    )


def _knn_expanding(
    points: DataFrame,
    qx: int,
    qy: int,
    k: int,
    initial_radius: int,
    domain_max: int,
    prune,
) -> DataFrame:
    """The ONE expanding-square exact-kNN loop shared by
    :func:`knn_indexed` (z-cover prune) and :func:`knn_hilbert`
    (Hilbert-cover prune) — the layouts differ only in how a round's
    square is pruned (``prune(rx, ry) -> Column``), and sharing the
    loop keeps the radius clip, the covered check, the k≤0 guard, and
    the accept condition provably identical between the two "exact
    twins" (this round patched the same k=0 defect in both copies —
    the helper makes that class of divergence impossible)."""
    if k <= 0:  # hits[-1] below would IndexError on the k=0 vacuous accept
        return points.sparkSession.createDataFrame(
            [], "id long, x int, y int, dist_sq long, dist double"
        )
    r = initial_radius
    while True:
        rx = (max(qx - r, 0), min(qx + r, domain_max))
        ry = (max(qy - r, 0), min(qy + r, domain_max))
        hits = _knn_plan(points.filter(prune(rx, ry)), qx, qy, k).collect()
        covered = (
            qx - r <= 0 and qy - r <= 0 and qx + r >= domain_max and qy + r >= domain_max
        )
        if len(hits) == k and hits[-1].dist_sq <= r * r:
            break
        if covered:
            break
        r *= 2
    return points.sparkSession.createDataFrame(
        hits, "id long, x int, y int, dist_sq long, dist double"
    )


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


def knn_hilbert(
    points: DataFrame,
    qx: int,
    qy: int,
    k: int,
    initial_radius: int = 16,
    domain_max: int | None = None,
) -> DataFrame:
    """:func:`knn_indexed`'s twin over a HILBERT-clustered table: the
    same expanding-square search, but each round's window is pruned by
    the ≤16-interval Hilbert cover
    (:func:`~tiny_md_hbase_spark.hilbert.hilbert_cover_predicate`)
    instead of the z cover.

    Exactness is the identical argument: every unscanned point lies
    outside the radius-r square, hence farther than r, and the cover is
    a lossless superset of the square's index set so no in-square point
    is ever missed; accept iff the k-th hit's distance ≤ r. Hilbert's
    longer in-rectangle runs (sfc_locality) mean fewer, tighter
    BETWEENs per round, i.e. fewer row groups read on the h-sorted
    layout. Requires a materialized
    ``h`` column for pruning (falls back to the plain rectangle scan
    without one, still exact).

    ``domain_max`` defaults by table shape: with a materialized ``h``
    column the table is Hilbert-clustered, its points live on the
    order-12 grid by the writer's contract, and the default is the
    grid extent ``(1 << BITS) - 1`` (4095) — a wider default would
    only buy ~19 extra doubling rounds of empty scans when fewer than
    ``k`` points exist before the 'covered' exit triggers. WITHOUT an
    ``h`` column the search is a plain rectangle scan that is exact
    for ANY coordinate range, so the default stays the full domain
    (2^31-1): clipping the expanding square at 4095 there would make
    the 'covered' exit fire while true neighbors beyond the grid
    remain unscanned — wrong answers, not just wasted rounds."""
    from tiny_md_hbase_spark.hilbert import BITS, hilbert_cover_predicate

    if domain_max is None:
        domain_max = (1 << BITS) - 1 if "h" in points.columns else 2**31 - 1

    def _prune(rx: tuple[int, int], ry: tuple[int, int]) -> Column:
        pred = rect_predicate(rx, ry)
        if "h" in points.columns:
            pred = pred & hilbert_cover_predicate(points, rx, ry, _COVER_INTERVALS)
        return pred

    return _knn_expanding(points, qx, qy, k, initial_radius, domain_max, _prune)
