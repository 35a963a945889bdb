"""Hilbert-curve codec — the locality-preserving alternative to the
Z-order codec in ``zorder.py``.

The reference engine keys its buckets on Morton/Z-values
(``Utils.bitwiseZip``, ``Utils.java:32-47``); the Hilbert curve is the
classic beyond-parity upgrade: consecutive curve positions are ALWAYS
unit grid steps (no Z-shape jumps), so range scans over a
Hilbert-clustered layout touch strictly fewer partition boundaries for
the same rectangle (Moon et al., "Analysis of the Clustering Properties
of the Hilbert Space-Filling Curve", TKDE 2001). Algorithms are the
public-domain iterative xy2d / d2xy bit transforms (rotate-and-reflect
per bit plane, as given on the Wikipedia "Hilbert curve" page).

Engine mapping — the transform carries (x, y, d) state across ``bits``
rounds and each round's x/y reference BOTH previous x and y, so a
closed-form column expression would double its tree per round. Two
Spark forms, equivalence pytest-pinned:

- PRODUCTION (:func:`hilbert_encode` / :func:`hilbert_decode`):
  ``bits`` chained ``select`` projections carrying the state as real
  columns. Catalyst does NOT collapse the chain (each state column is
  referenced several times by the next round and CollapseProject
  refuses to duplicate non-cheap expressions), so the whole pipeline
  stays native codegen'd column arithmetic — measured ~12x faster than
  the fold form (0.28 s vs 3.4 s for the 600 K-row sf0.1 encode),
  landing in the same cost band as ``zorder.zvalue``.
- REFERENCE (:func:`hilbert_encode_col` / :func:`hilbert_decode_col`):
  ONE ``F.aggregate`` fold with a ``struct<x,y,d>`` accumulator — a
  single composable Column, but ``aggregate`` is CodegenFallback
  (interpreted per element, boxed structs), so it is the
  cross-check/composability form, not the hot path.
- DuckDB twin: the same rounds as chained CTEs with EXPLICITLY renamed
  state columns per round (x0/y0/d0 → x1/y1/d1 → …). DuckDB permits
  lateral column-alias references within one SELECT, so reusing one
  name would silently feed a half-updated x into y's formula — the
  per-round renaming makes the twin immune to that hazard.

Scale: both directions are pure per-row scalar pipelines — no shuffle,
no state, embarrassingly parallel, fused into the scan projection
exactly like ``zorder.zvalue``.

USAGE CONTRACT — filter on the MATERIALIZED key, not over the live
chain. Computing h and writing the Hilbert-clustered layout (or
selecting/joining/aggregating over the chain) is linear and fast. But
placing a ``filter`` DIRECTLY above the un-materialized chain is an
optimizer trap: Catalyst's predicate pushdown substitutes each round's
alias definitions into the predicate with no size guard, and because
every round references the previous round's x AND y several times the
predicate grows ~3^rounds (observed: a filtered count over
encode∘decode never finishes planning+codegen, while the identical
comparison via ``exceptAll`` runs in milliseconds — project collapse
HAS a non-cheap-duplication guard, predicate pushdown does not). This
is exactly how the codec is meant to run at 100 TB anyway: the
reference materializes its z keys into the row key (``Utils.bitwiseZip``
callers), and our z path materializes via writer.py before range
probes prune on the stored column. Do the same with h.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tiny_md_hbase_spark.zorder import (
    coalesce_intervals,
    cover_cells,
    zvalue,
    zvalue_sql,
)

__all__ = [
    "hilbert_encode",
    "hilbert_decode",
    "hilbert_encode_col",
    "hilbert_decode_col",
    "hilbert_encode_py",
    "hilbert_decode_py",
    "hilbert_encode_chain_sql",
    "hilbert_decode_chain_sql",
    "sfc_locality",
    "sfc_locality_sql",
    "hilbert_cover_py",
]

BITS = 12  # order-12 curve: the 0..4095 point domain (tables.points)

_HX, _HY, _HD = "_hilbert_x", "_hilbert_y", "_hilbert_d"


def hilbert_encode(
    df: DataFrame,
    x: str = "x",
    y: str = "y",
    out: str = "h",
    bits: int = BITS,
) -> DataFrame:
    """Append Hilbert distance column ``out`` = xy2d(df[x], df[y]) in
    [0, 4**bits); all input columns pass through. Production form:
    ``bits`` chained codegen'd projections (module docstring)."""
    keep = [c for c in df.columns]
    for c in (_HX, _HY, _HD):
        if c in keep:
            raise ValueError(f"input already has internal column {c}")
    if out in keep:
        raise ValueError(
            f"output column {out!r} already exists — drop or rename it "
            "(silently duplicating the name would make every downstream "
            "reference ambiguous)"
        )
    cur = df.select(
        *keep,
        F.col(x).cast("long").alias(_HX),
        F.col(y).cast("long").alias(_HY),
        F.lit(0).cast("long").alias(_HD),
    )
    for i in range(bits):
        s = 1 << (bits - 1 - i)
        rx = F.when(
            F.col(_HX).bitwiseAND(F.lit(s)) > 0, F.lit(1)
        ).otherwise(F.lit(0))
        ry = F.when(
            F.col(_HY).bitwiseAND(F.lit(s)) > 0, F.lit(1)
        ).otherwise(F.lit(0))
        # ry=1: no rotation; ry=0, rx=1: reflect then swap; else swap
        cur = cur.select(
            *keep,
            F.when(ry == 1, F.col(_HX))
            .otherwise(
                F.when(rx == 1, F.lit(s - 1) - F.col(_HY)).otherwise(F.col(_HY))
            )
            .alias(_HX),
            F.when(ry == 1, F.col(_HY))
            .otherwise(
                F.when(rx == 1, F.lit(s - 1) - F.col(_HX)).otherwise(F.col(_HX))
            )
            .alias(_HY),
            (F.col(_HD) + F.lit(s * s) * (rx * 3).bitwiseXOR(ry).cast("long"))
            .alias(_HD),
        )
    return cur.select(*keep, F.col(_HD).alias(out))


def hilbert_decode(
    df: DataFrame,
    d: str = "d",
    x_out: str = "x",
    y_out: str = "y",
    bits: int = BITS,
) -> DataFrame:
    """Append decoded columns (``x_out``, ``y_out``) = d2xy(df[d]) —
    the exact inverse of :func:`hilbert_encode`, bit planes
    lowest-first. All input columns pass through."""
    keep = [c for c in df.columns]
    for c in (_HX, _HY, _HD):
        if c in keep:
            raise ValueError(f"input already has internal column {c}")
    if x_out == y_out:
        raise ValueError("x_out and y_out must differ")
    for c in (x_out, y_out):
        if c in keep:
            raise ValueError(
                f"output column {c!r} already exists — drop or rename it"
            )
    cur = df.select(
        *keep,
        F.lit(0).cast("long").alias(_HX),
        F.lit(0).cast("long").alias(_HY),
        F.col(d).cast("long").alias(_HD),  # _HD carries the remaining t
    )
    for i in range(bits):
        s = 1 << i
        rx = F.shiftright(F.col(_HD), 1).bitwiseAND(F.lit(1).cast("long"))
        ry = F.col(_HD).bitwiseXOR(rx).bitwiseAND(F.lit(1).cast("long"))
        cur = cur.select(
            *keep,
            (
                F.when(ry == 1, F.col(_HX)).otherwise(
                    F.when(rx == 1, F.lit(s - 1) - F.col(_HY)).otherwise(
                        F.col(_HY)
                    )
                )
                + F.lit(s) * rx
            ).alias(_HX),
            (
                F.when(ry == 1, F.col(_HY)).otherwise(
                    F.when(rx == 1, F.lit(s - 1) - F.col(_HX)).otherwise(
                        F.col(_HX)
                    )
                )
                + F.lit(s) * ry
            ).alias(_HY),
            F.shiftright(F.col(_HD), 2).alias(_HD),
        )
    return cur.select(
        *keep, F.col(_HX).alias(x_out), F.col(_HY).alias(y_out)
    )


def hilbert_encode_col(x: Column | str, y: Column | str, bits: int = BITS) -> Column:
    """Reference/composability form: (x, y) → Hilbert distance as ONE
    aggregate fold over the bit planes (highest first). CodegenFallback
    — use :func:`hilbert_encode` on hot paths."""
    x = F.col(x) if isinstance(x, str) else x
    y = F.col(y) if isinstance(y, str) else y
    planes = F.array(
        *[F.lit(1 << i).cast("long") for i in range(bits - 1, -1, -1)]
    )
    init = F.struct(
        x.cast("long").alias("hx"),
        y.cast("long").alias("hy"),
        F.lit(0).cast("long").alias("hd"),
    )

    def step(acc: Column, s: Column) -> Column:
        rx = F.when(acc["hx"].bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(acc["hy"].bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0))
        d2 = acc["hd"] + s * s * (rx * 3).bitwiseXOR(ry).cast("long")
        x2 = F.when(ry == 1, acc["hx"]).otherwise(
            F.when(rx == 1, s - 1 - acc["hy"]).otherwise(acc["hy"])
        )
        y2 = F.when(ry == 1, acc["hy"]).otherwise(
            F.when(rx == 1, s - 1 - acc["hx"]).otherwise(acc["hx"])
        )
        return F.struct(x2.alias("hx"), y2.alias("hy"), d2.alias("hd"))

    return F.aggregate(planes, init, step)["hd"]


def hilbert_decode_col(d: Column | str, bits: int = BITS) -> Column:
    """Reference/composability form of the inverse: Hilbert distance →
    struct(x, y), folding the bit planes lowest-first."""
    d = F.col(d) if isinstance(d, str) else d
    planes = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    init = F.struct(
        F.lit(0).cast("long").alias("hx"),
        F.lit(0).cast("long").alias("hy"),
        d.cast("long").alias("ht"),
    )

    def step(acc: Column, s: Column) -> Column:
        rx = (acc["ht"] / F.lit(2)).cast("long").bitwiseAND(F.lit(1).cast("long"))
        ry = acc["ht"].bitwiseXOR(rx).bitwiseAND(F.lit(1).cast("long"))
        x1 = F.when(ry == 1, acc["hx"]).otherwise(
            F.when(rx == 1, s - 1 - acc["hy"]).otherwise(acc["hy"])
        )
        y1 = F.when(ry == 1, acc["hy"]).otherwise(
            F.when(rx == 1, s - 1 - acc["hx"]).otherwise(acc["hx"])
        )
        return F.struct(
            (x1 + s * rx).alias("hx"),
            (y1 + s * ry).alias("hy"),
            (acc["ht"] / F.lit(4)).cast("long").alias("ht"),
        )

    out = F.aggregate(planes, init, step)
    return F.struct(out["hx"].alias("x"), out["hy"].alias("y"))


def hilbert_encode_py(x: int, y: int, bits: int = BITS) -> int:
    """Driver-side reference (tests cross-check the column forms)."""
    d, s = 0, 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_decode_py(d: int, bits: int = BITS) -> tuple[int, int]:
    t, x, y, s = d, 0, 0, 1
    while s < (1 << bits):
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        x, y = x + s * rx, y + s * ry
        t //= 4
        s *= 2
    return x, y


def hilbert_encode_chain_sql(
    src: str = "points", x_expr: str = "x", y_expr: str = "y", bits: int = BITS
) -> str:
    """CTE-chain fragment computing ``he{bits}(id, x{bits}, y{bits},
    d{bits})`` from ``src(id, x, y)`` — append after an existing WITH
    clause; ``d{bits}`` is the Hilbert distance."""
    ctes = [
        f"he0 AS (SELECT id, CAST({x_expr} AS BIGINT) AS x0, "
        f"CAST({y_expr} AS BIGINT) AS y0, CAST(0 AS BIGINT) AS d0 FROM {src})"
    ]
    for i in range(bits):
        s = 1 << (bits - 1 - i)
        j, k = i, i + 1
        rx = f"((x{j} >> {bits - 1 - i}) & 1)"
        ry = f"((y{j} >> {bits - 1 - i}) & 1)"
        ctes.append(
            f"he{k} AS (SELECT id, "
            f"CASE WHEN {ry} = 1 THEN x{j} "
            f"WHEN {rx} = 1 THEN {s - 1} - y{j} ELSE y{j} END AS x{k}, "
            f"CASE WHEN {ry} = 1 THEN y{j} "
            f"WHEN {rx} = 1 THEN {s - 1} - x{j} ELSE x{j} END AS y{k}, "
            f"d{j} + {s * s} * xor(3 * {rx}, {ry}) AS d{k} FROM he{j})"
        )
    return ", ".join(ctes)


def hilbert_decode_chain_sql(
    src: str, d_expr: str = "d", bits: int = BITS
) -> str:
    """CTE-chain fragment computing ``hd{bits}(id, x{bits}, y{bits})``
    from ``src(id, d)`` — the inverse chain, bit planes lowest-first."""
    ctes = [
        f"hd0 AS (SELECT id, CAST(0 AS BIGINT) AS x0, CAST(0 AS BIGINT) "
        f"AS y0, CAST({d_expr} AS BIGINT) AS t0 FROM {src})"
    ]
    for i in range(bits):
        s = 1 << i
        j, k = i, i + 1
        rx = f"((t{j} // 2) & 1)"
        ry = f"(xor(t{j}, (t{j} // 2) & 1) & 1)"
        ctes.append(
            f"hd{k} AS (SELECT id, "
            f"(CASE WHEN {ry} = 1 THEN x{j} "
            f"WHEN {rx} = 1 THEN {s - 1} - y{j} ELSE y{j} END) + {s} * {rx} AS x{k}, "
            f"(CASE WHEN {ry} = 1 THEN y{j} "
            f"WHEN {rx} = 1 THEN {s - 1} - x{j} ELSE x{j} END) + {s} * {ry} AS y{k}, "
            f"t{j} // 4 AS t{k} FROM hd{j})"
        )
    return ", ".join(ctes)


def sfc_locality(spark, bits: int = 6) -> "DataFrame":
    """Exact locality comparison of the two space-filling curves over
    the DENSE order-``bits`` grid: walk each curve in key order and
    measure the Manhattan distance between consecutive grid cells.
    Hilbert's defining property is that every step is exactly 1; the
    Z curve jumps at every Z-shape boundary (its total step length is
    ~2x at order 6 and grows with order) — this is the quantified
    reason a Hilbert-clustered layout touches fewer partition
    boundaries per rectangle (Moon et al., TKDE 2001, table III).

    Output: one row per curve (curve, n_steps, total_step, max_step) —
    all exact BIGINTs, so the DuckDB twin (same two codecs as CTEs +
    one lag window each) hash-matches.

    Scale: the grid is 4**bits cells (4,096 at the default) — a
    metadata-sized diagnostic, not a data-path operator; the lag
    windows run over the bounded grid only."""
    from pyspark.sql import Window

    n = 1 << bits
    grid = spark.range(0, n * n).select(
        F.col("id").alias("id"),
        (F.col("id") % n).cast("int").alias("x"),
        (F.col("id") / n).cast("int").alias("y"),
    )
    enc = hilbert_encode(grid, bits=bits).select(
        "id", "x", "y", "h", zvalue("x", "y").alias("z")
    )

    def walk(key: str, label: str):
        w = Window.orderBy(key)
        stepped = enc.select(
            (
                F.abs(F.col("x") - F.lag("x").over(w))
                + F.abs(F.col("y") - F.lag("y").over(w))
            ).alias("step")
        ).filter(F.col("step").isNotNull())
        return stepped.agg(
            F.lit(label).alias("curve"),
            F.count(F.lit(1)).alias("n_steps"),
            F.sum("step").cast("long").alias("total_step"),
            F.max("step").cast("long").alias("max_step"),
        )

    return walk("h", "hilbert").unionByName(walk("z", "zorder"))


def sfc_locality_sql(bits: int = 6) -> str:
    """DuckDB twin of :func:`sfc_locality` — same grid, same two
    codecs (the Hilbert CTE chain + the z spread expression), same lag
    walk."""
    n = 1 << bits
    grid = (
        f"grid AS (SELECT range AS id, CAST(range % {n} AS BIGINT) AS x, "
        f"CAST(range // {n} AS BIGINT) AS y FROM range({n * n}))"
    )
    enc = (
        "enc AS (SELECT g.id, g.x, g.y, "
        f"he{bits}.d{bits} AS h, {zvalue_sql('g.x', 'g.y')} AS z "
        f"FROM grid g JOIN he{bits} ON he{bits}.id = g.id)"
    )
    walk = (
        "SELECT '{label}' AS curve, CAST(count(*) AS BIGINT) AS n_steps, "
        "CAST(sum(step) AS BIGINT) AS total_step, "
        "CAST(max(step) AS BIGINT) AS max_step FROM ("
        "SELECT abs(x - lag(x) OVER (ORDER BY {key})) + "
        "abs(y - lag(y) OVER (ORDER BY {key})) AS step FROM enc) "
        "WHERE step IS NOT NULL"
    )
    return (
        "WITH " + grid + ", "
        + hilbert_encode_chain_sql("grid", "x", "y", bits)
        + ", " + enc + " "
        + walk.format(label="hilbert", key="h")
        + " UNION ALL "
        + walk.format(label="zorder", key="z")
    )


def hilbert_cover_py(
    rx: tuple[int, int],
    ry: tuple[int, int],
    max_intervals: int = 64,
    bits: int = BITS,
) -> list[tuple[int, int]]:
    """At most ``max_intervals`` sorted, disjoint Hilbert-index intervals
    covering every point of a rectangle: the shared quad-cell kernel
    (:func:`~tiny_md_hbase_spark.zorder.cover_cells`) on the Hilbert
    curve, then :func:`~tiny_md_hbase_spark.zorder.coalesce_intervals`.
    Always a superset, so a residual x/y predicate keeps results exact.

    The curve traverses each quad cell completely before leaving it;
    orientation only permutes which child owns which quarter of a cell's
    interval, which the kernel never needs because it decodes each
    child's own entry point. Against the z cover, a rectangle's curve
    visits are longer runs (sfc_locality: total step 4,095 vs 8,064 on
    the order-6 grid), the clustering property of Moon et al. (TKDE
    2001)."""
    cells = cover_cells(rx, ry, max_intervals, lambda d: hilbert_decode_py(d, bits), bits)
    return coalesce_intervals(cells, max_intervals)
