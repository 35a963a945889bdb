"""Independent oracle for the bucket index: the reference's split
recursion in plain Python, kept apart from the package's numpy kernel
(``operators.index.index_build_np``) so tests compare two separate
implementations."""

from __future__ import annotations

import bisect

from tiny_md_hbase_spark.operators.index import DEFAULT_THRESHOLD, MAX_DEPTH, ROOT_PL


def index_build_py(
    cell_counts: list[tuple[int, int]],
    threshold: int = DEFAULT_THRESHOLD,
    max_depth: int = MAX_DEPTH,
    root_z: int = 0,
    root_pl: int = ROOT_PL,
) -> list[tuple[int, int, int]]:
    """Pure-Python trie recursion, exactly ``Index.splitBucket``'s
    one-bit-at-a-time semantics (``Index.java:183-230``): split while
    count > threshold and depth < max_depth; every split writes both
    children (one may be an empty sibling). Rooted at
    ``root_z``/``root_pl``. Input: [(z, count)]; output sorted
    [(bucket_z, pl, size)]."""
    cells_sorted = sorted(cell_counts)
    if not cells_sorted:
        return [(root_z, root_pl, 0)]
    # prefix sums make each node's size an O(1) range difference
    zs = [z for z, _ in cells_sorted]
    acc = [0]
    for _, c in cells_sorted:
        acc.append(acc[-1] + c)
    out: list[tuple[int, int, int]] = []
    stack = [(0, len(zs), root_z, root_pl)]
    while stack:
        lo, hi, bucket_z, pl = stack.pop()
        size = acc[hi] - acc[lo]
        if size <= threshold or pl >= max_depth:
            out.append((bucket_z, pl, size))
            continue
        right_key = bucket_z | (1 << (63 - pl))
        mid = bisect.bisect_left(zs, right_key, lo, hi)
        stack.append((lo, mid, bucket_z, pl + 1))
        stack.append((mid, hi, right_key, pl + 1))
    return sorted(out)
