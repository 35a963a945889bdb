"""Z-order (Morton) codec as native Spark Column expressions.

Re-expresses the reference codec (``Utils.java:32-159`` in
shojinishimura/Tiny-MD-HBase) Spark-first: every function here builds a
*Column expression tree* out of built-in bitwise/shift primitives, so the
whole codec runs JVM-side inside whole-stage codegen — no Python UDFs, no
serialization, fully vectorized.

Bit layout (``Bucket.java:42-43``): for ``x = [x0..x31]``, ``y = [y0..y31]``
(``x0`` = MSB), the 64-bit z-value is the interleave
``[x0, y0, x1, y1, ..., x31, y31]`` — x bits occupy the *upper* bit of each
pair. Because coordinates are non-negative (``Point.java:30-31``), bit 63 of
the z-value is always 0, so **signed LongType ordering equals the reference's
unsigned lexicographic byte ordering** (SURVEY.md §1.4). That invariant is
what lets us sort/range-partition on a plain ``bigint`` column at 100 TB
scale instead of carrying 8-byte binary keys.

Golden vectors come from the reference unit tests (``UtilsTest.java:29-70``),
e.g. ``zip(0x0000FFFF, 0x00FF00FF) == 0x00005555AAAAFFFF``.

Every builder accepts either a Column or a column name and returns a Column,
so they compose into larger expressions (filters, sort keys, index
aggregations) that Catalyst can push down and optimize.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "bit_spread",
    "bit_squash",
    "zvalue",
    "z_x",
    "z_y",
    "make_mask",
    "prefix_match",
    "set_bit",
    "prefix_render",
    "zorder_encode_py",
    "zorder_decode_py",
    "cover_cells",
    "coalesce_intervals",
    "between_any",
    "z_cover_py",
]

# 64-bit spread masks: round k clears the garbage between the progressively
# separated bit groups (classic magic-number Morton spread, the 64-bit analog
# of Utils.makeGap's 5-round mask/shift trick, Utils.java:49-59).
_SPREAD_MASKS = [
    0x0000FFFF0000FFFF,  # after << 16: two 16-bit groups
    0x00FF00FF00FF00FF,  # after << 8
    0x0F0F0F0F0F0F0F0F,  # after << 4
    0x3333333333333333,  # after << 2
    0x5555555555555555,  # after << 1: one bit every 2 positions
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def bit_spread(c: Column | str) -> Column:
    """Spread a 32-bit non-negative int so bit i lands at bit 2*i.

    Native-expression analog of ``Utils.makeGap`` (``Utils.java:52-59``),
    generalized to the full 32 bits in one pass (the reference spreads
    16-bit halves; one 64-bit pass is fewer instructions and stays in
    codegen). Output occupies the even bit positions of a LongType.

    Expression-shape note: ``(v | v << s) & m`` references ``v`` twice and
    Column trees have no let-binding, so the five rounds build a
    2^5-duplicated tree. That is fine in *projection* context (whole-stage
    codegen's subexpression elimination collapses it — measured sub-second
    per 600k rows) but expensive inside *filter* predicates, which is why
    query builders never place this expression in a hot per-row filter:
    z-window pruning belongs on materialized ``zvalue`` columns
    (sources/writer.py), where it costs a stats lookup, not a per-row
    re-encode. (A multiplicative one-reference form is NOT correct here:
    the OR operands overlap before masking, so OR != ADD — carries corrupt
    kept bits.)
    """
    v = _col(c).cast("long")
    for i, mask in enumerate(_SPREAD_MASKS):
        shift = 16 >> i  # 16, 8, 4, 2, 1
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def bit_squash(c: Column | str) -> Column:
    """Inverse of :func:`bit_spread`: collect the even bits of a long back
    into a contiguous 32-bit int (``Utils.elimGap``, ``Utils.java:75-82``)."""
    v = _col(c).bitwiseAND(F.lit(0x5555555555555555))
    for shift, mask in [
        (1, 0x3333333333333333),
        (2, 0x0F0F0F0F0F0F0F0F),
        (4, 0x00FF00FF00FF00FF),
        (8, 0x0000FFFF0000FFFF),
        (16, 0x00000000FFFFFFFF),
    ]:
        v = (v.bitwiseOR(F.shiftright(v, shift))).bitwiseAND(F.lit(mask))
    return v.cast("int")


def zvalue(x: Column | str, y: Column | str) -> Column:
    """Morton-interleave two non-negative 32-bit ints into one LongType.

    = ``Utils.bitwiseZip`` (``Utils.java:32-47``): x bits at odd positions
    (upper of each pair, x MSB -> z bit 63 slot-wise), y bits at even.
    """
    return F.shiftleft(bit_spread(x), 1).bitwiseOR(bit_spread(y)).alias("zvalue")


def z_x(z: Column | str) -> Column:
    """Extract x back out of a z-value (``Utils.bitwiseUnzip``, ``Utils.java:61-73``)."""
    return bit_squash(F.shiftright(_col(z), 1))


def z_y(z: Column | str) -> Column:
    """Extract y back out of a z-value."""
    return bit_squash(_col(z))


def make_mask(prefix_len: Column | int) -> Column:
    """``prefix_len``-bit prefix mask over a 64-bit key: ``-1 << (64 - pl)``.

    = ``Utils.makeMask`` (``Utils.java:107-120``); ``makeMask(8)`` ==
    0xFF00..00. pl is in [1, 64]; Spark's shiftleft on LongType uses the
    low 6 bits of the shift amount, so pl == 64 must short-circuit to -1
    and pl <= 0 to 0 (a zero-length prefix matches everything — without
    the guard, shiftleft(-1, 64) wraps to shift 0 and yields -1, which
    would silently drop every probe in a prefix equi-join).

    DELIBERATE DIVERGENCE from the reference: ``Utils.makeMask`` rejects
    ``prefixSize <= 0`` via ``checkArgument`` — a fail-fast contract a
    scalar call can afford. Here the mask is a vectorized Column inside
    whole-stage codegen over billions of rows, where a per-row throw is
    not expressible without poisoning the codegen path; the engine
    instead keeps the invariant at the source: every pl this expression
    ever sees comes from the index table, whose builder only emits
    pl >= ROOT_PL (= 2) — asserted structurally by the index tests — so
    a pl <= 0 reaching this guard would mean index corruption upstream,
    not a masked query bug. The 0 branch exists only to make the
    wrap-around arithmetic total (an empty prefix genuinely means
    match-everything on surfaces like prefix_render's don't-care
    rendering).
    """
    pl = F.lit(prefix_len) if isinstance(prefix_len, int) else prefix_len
    # call_function: the SQL shiftleft accepts a column shift amount (the
    # Python wrapper insists on an int literal)
    return (
        F.when(pl >= F.lit(64), F.lit(-1).cast("long"))
        .when(pl <= F.lit(0), F.lit(0).cast("long"))
        .otherwise(
            F.call_function("shiftleft", F.lit(-1).cast("long"), F.lit(64) - pl)
        )
    )


def prefix_match(z: Column | str, prefix_z: Column | str, prefix_len: Column | int) -> Column:
    """True iff ``z`` shares the first ``prefix_len`` bits with ``prefix_z``.

    = ``Utils.prefixMatch`` (``Utils.java:94-105``), as a pure boolean
    Column: ``(z & mask) == (prefix & mask)``.
    """
    m = make_mask(prefix_len)
    return _col(z).bitwiseAND(m) == _col(prefix_z).bitwiseAND(m)


def set_bit(z: Column | str, pos: Column | int) -> Column:
    """Set bit at position ``pos`` counted from the MSB (0-based).

    = ``Utils.makeBit`` (``Utils.java:148-159``); derives the second child
    key of a bucket split (``Index.java:217-227``).
    """
    p = F.lit(pos) if isinstance(pos, int) else pos
    return _col(z).bitwiseOR(
        F.call_function("shiftleft", F.lit(1).cast("long"), F.lit(63) - p)
    )


def prefix_render(z: Column | str, prefix_len: Column | str | int) -> Column:
    """Render (key, prefix length) as the reference's bucket name string,
    e.g. ``[0110****...]`` without brackets: first ``pl`` bits literal,
    don't-care bits as ``*`` (``Utils.toString``, ``Utils.java:161-182``).
    """
    pl = F.lit(prefix_len) if isinstance(prefix_len, int) else _col(prefix_len)
    bits = F.lpad(F.bin(_col(z)), 64, "0")
    return F.rpad(bits.substr(F.lit(1), pl), 64, "*")


# ---------------------------------------------------------------------------
# Driver-side (plain Python) twins — used for literal query parameters
# (computing the z-window of a query rectangle on the driver) and for
# property tests. Same bit math, no Spark involvement.
# ---------------------------------------------------------------------------

def _spread_py(v: int) -> int:
    v &= 0xFFFFFFFF
    v = (v | (v << 16)) & 0x0000FFFF0000FFFF
    v = (v | (v << 8)) & 0x00FF00FF00FF00FF
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v << 2)) & 0x3333333333333333
    v = (v | (v << 1)) & 0x5555555555555555
    return v


def _squash_py(v: int) -> int:
    v &= 0x5555555555555555
    v = (v | (v >> 1)) & 0x3333333333333333
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0F
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FF
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFF
    v = (v | (v >> 16)) & 0x00000000FFFFFFFF
    return v


def zorder_encode_py(x: int, y: int) -> int:
    """Driver-side ``Utils.bitwiseZip`` (``Utils.java:32-47``)."""
    if x < 0 or y < 0:
        raise ValueError("coordinates must be non-negative (Point.java:30-31)")
    return (_spread_py(x) << 1) | _spread_py(y)


def zorder_decode_py(z: int) -> tuple[int, int]:
    """Driver-side ``Utils.bitwiseUnzip`` (``Utils.java:61-73``)."""
    return _squash_py(z >> 1), _squash_py(z)


def cover_cells(
    rx: tuple[int, int],
    ry: tuple[int, int],
    max_intervals: int,
    decode,
    bits: int,
) -> list[tuple[int, int]]:
    """The one cover kernel of both space-filling curves: quad-trie cells,
    as ``(first, last)`` curve-index pairs, whose union holds every point
    of the rectangle.

    The driver-side twin of the reference's index-guided bucket search:
    ``Index.findBucketsInRange`` keeps only the buckets whose decoded
    rectangle meets the query (``Index.java:155-162``). Both the Z and the
    Hilbert curve traverse each quad cell completely before leaving it,
    so a level-``l`` cell is one contiguous index interval of length
    ``4**(bits - l)``, and its square is the cell-grid-masked decode of
    the interval's first index (for Hilbert the entry point lies inside
    the square). A curve supplies only ``decode(index) -> (x, y)`` and
    its ``bits`` per axis.

    Refinement is budget-first: a heap of straddling cells, shallowest
    (largest span) first, with a budget of ``16 * max_intervals`` cells
    (at least 256). Cells wholly inside are kept whole, disjoint cells
    are dropped, and the straddlers left when the budget runs out are
    kept whole, so the result is always a superset. Driver cost is
    O(budget · log budget), independent of data size.
    """
    import heapq

    if rx[0] > rx[1] or ry[0] > ry[1]:
        return []

    def classify(lo: int, level: int) -> str:
        side = 1 << (bits - level)
        x0, y0 = decode(lo)
        xlo, ylo = x0 & -side, y0 & -side
        xhi, yhi = xlo + side - 1, ylo + side - 1
        if xhi < rx[0] or xlo > rx[1] or yhi < ry[0] or ylo > ry[1]:
            return "out"
        if xlo >= rx[0] and xhi <= rx[1] and ylo >= ry[0] and yhi <= ry[1]:
            return "in"
        return "straddle"

    done: list[tuple[int, int]] = []
    heap: list[tuple[int, int]] = []  # (level, first index): shallowest first
    kind = classify(0, 0)
    if kind == "in":
        done.append((0, (1 << (2 * bits)) - 1))
    elif kind == "straddle":
        heap.append((0, 0))
    budget = max(256, max_intervals * 16)
    while heap and len(done) + len(heap) < budget and heap[0][0] < bits:
        level, lo = heapq.heappop(heap)
        span = 1 << (2 * (bits - level - 1))  # child interval length
        for q in range(4):
            child = lo + q * span
            ckind = classify(child, level + 1)
            if ckind == "in":
                done.append((child, child + span - 1))
            elif ckind == "straddle":
                heapq.heappush(heap, (level + 1, child))
    done.extend((lo, lo + (1 << (2 * (bits - level))) - 1) for level, lo in heap)
    return done


def coalesce_intervals(
    intervals: list[tuple[int, int]], max_intervals: int
) -> list[tuple[int, int]]:
    """Sort inclusive intervals, merge the touching ones, then close the
    smallest gaps until at most ``max_intervals`` remain. Always a
    superset of the input, so a residual exact predicate keeps a scan's
    result exact; merges are independent, so one sorted pass suffices."""
    merged: list[tuple[int, int]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], b))
        else:
            merged.append((a, b))
    k = len(merged) - max_intervals
    if k <= 0:
        return merged
    gaps = sorted((merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1))
    merge_after = {i for _, i in gaps[:k]}
    out: list[tuple[int, int]] = []
    for i, iv in enumerate(merged):
        if out and (i - 1) in merge_after:
            out[-1] = (out[-1][0], iv[1])
        else:
            out.append(iv)
    return out


def between_any(col: str, intervals: list[tuple[int, int]]) -> Column:
    """A literal disjunction of ``col BETWEEN lo AND hi``, one per
    interval (false for none). Only a literal filter on a stored column
    reaches the parquet readers as pushed filters, where row groups and
    files outside every interval are skipped by their min/max stats.
    Built from one SQL string: composing it from Column operators costs
    a JVM round trip per operator (PySpark 4.1 on a 4-core host: ~80 ms
    for 16 intervals, against ~0.3 ms to parse the string)."""
    if not intervals:
        return F.lit(False)
    return F.expr(" OR ".join(f"`{col}` BETWEEN {lo} AND {hi}" for lo, hi in intervals))


def z_cover_py(
    rx: tuple[int, int],
    ry: tuple[int, int],
    max_intervals: int = 64,
) -> list[tuple[int, int]]:
    """At most ``max_intervals`` sorted, disjoint z-value intervals
    covering every point of a rectangle in the 32-bit domain: the
    :func:`cover_cells` kernel on the Z curve, clamped to the single
    ``[zip(xmin, ymin), zip(xmax, ymax)]`` window (every in-rectangle z
    lies inside it), then :func:`coalesce_intervals`. A lone window can
    be almost the whole keyspace for a thin rectangle straddling a high
    z split; the cover keeps only cells that meet the rectangle."""
    cells = cover_cells(rx, ry, max_intervals, zorder_decode_py, 32)
    if not cells:
        return []
    lo = zorder_encode_py(rx[0], ry[0])
    hi = zorder_encode_py(rx[1], ry[1])
    return coalesce_intervals(
        [(max(a, lo), min(b, hi)) for a, b in cells if b >= lo and a <= hi],
        max_intervals,
    )


# SQL text twins (ANSI / DuckDB-compatible) for oracle_sql(): the same
# spread as nested CASE-free arithmetic. Kept here so the Spark expression
# and the oracle string evolve together.

def spread_sql(expr: str) -> str:
    """DuckDB/ANSI SQL text computing bit_spread(expr) on a BIGINT."""
    v = f"CAST({expr} AS BIGINT)"
    shifts = [16, 8, 4, 2, 1]
    for shift, mask in zip(shifts, _SPREAD_MASKS):
        v = f"(({v} | ({v} << {shift})) & {mask})"
    return v


def zvalue_sql(x_expr: str, y_expr: str) -> str:
    """DuckDB/ANSI SQL text computing zvalue(x, y)."""
    return f"(({spread_sql(x_expr)} << 1) | {spread_sql(y_expr)})"
