"""§2.6 — flood-fill hole patching for multi-tile geometries.

Reference: checkAndFill (MapSplit.java:253-352) — a closed ring of ≥ 8
tiles can enclose tiles containing none of its points; those "holes"
must be added to the geometry's tile set (pad bbox by 2, flood-fill the
outside from (1,1) with a 4-neighbourhood, unreached cells are holes).
Trigger: tile-set size ≥ 8 (MapSplit.java:491-493).

Spark-first: this is inherently per-group imperative logic.  Spark's
``groupBy`` collects each geometry's tiles into two arrays in the JVM,
the ≥ 8-tile trigger is a ``size(xs)`` filter on the grouped row, and
one ``mapInPandas`` call per Arrow batch runs the kernel once per
group: a grouped-map call per group paid the Arrow/pandas round trip
(~1-4 ms) tens of thousands of times at sf0.1 (r6; *Accelerating
Python UDFs in Vectorized Query Execution*, CIDR 2022), and only the
tiny fraction of large geometries ever reaches Python.

Per-group kernel (r6): the fill runs as RUN-LENGTH connected-component
labelling on a COORDINATE-COMPRESSED grid (every member coordinate ±1
plus the padded bbox edges).  Compression preserves 4-connectivity
exactly — every maximal member-free row/column strip keeps one
representative — and the run-length pass unions O(n) empty runs
instead of BFS-stepping O(n²) compressed cells (the BFS frontier loop
was 1.5-7 ms/group on scattered z13 geometries; the run CCL is
~100 µs).  Outside = every empty component touching the padded border
ring (the ring is member-free by construction, so it is one component
and contains the reference's (1,1) seed); unreached interior cells are
holes, expanded back to real-coordinate rectangles on output.  The BFS
mirror it replaced lives on in tests/test_holefill_r6.py as the
differential reference.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _compress(vals: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """Sorted unique coordinates: members ±1 plus the pad-2 bbox edges —
    one representative per maximal member-free strip."""
    return np.unique(np.concatenate([vals - 1, vals, vals + 1, [lo, hi]]))


# hole-OUTPUT guard: a geometry enclosing a continent-sized region would
# expand to tens of millions of patch tiles (the reference would add
# them all too — and blow its tile sets); such groups are left unpatched
# with a loud executor-log warning instead.  This bounds output size and
# Python enumeration time; detection is exact (summed rectangle areas
# from the compressed fill, BEFORE enumeration).
MAX_HOLES_PER_GROUP = 2_000_000


def _grid_setup(xs: np.ndarray, ys: np.ndarray):
    min_x, max_x = int(xs.min()) - 2, int(xs.max()) + 2
    min_y, max_y = int(ys.min()) - 2, int(ys.max()) + 2
    cx = _compress(xs, min_x, max_x)
    cy = _compress(ys, min_y, max_y)
    sx, sy = len(cx), len(cy)
    grid = np.zeros((sy, sx), dtype=bool)
    grid[np.searchsorted(cy, ys), np.searchsorted(cx, xs)] = True
    return cx, cy, sx, sy, grid


def _expand_holes(hy: np.ndarray, hx: np.ndarray, cx: np.ndarray,
                  cy: np.ndarray, sx: int, sy: int,
                  max_holes: int) -> list[tuple[int, int]]:
    """Compressed hole cells → real-coordinate tile list, with the exact
    pre-enumeration size guard."""
    x_next = np.append(cx[1:], cx[-1] + 1)
    y_next = np.append(cy[1:], cy[-1] + 1)
    widths = (x_next - cx)[hx]
    heights = (y_next - cy)[hy]
    total = int((widths * heights).sum())
    if total > max_holes:
        import logging

        logging.getLogger(__name__).warning(
            "fill_holes: geometry encloses %d tiles (> %d) — left unpatched",
            total, max_holes,
        )
        return []
    out: list[tuple[int, int]] = []
    for j, i in zip(hy, hx):
        # compressed hole cell (i, j) ⇒ the member-free real rectangle
        # [cx[i], cx[i+1]) × [cy[j], cy[j+1]) is entirely enclosed
        x_hi = cx[i + 1] if i + 1 < sx else cx[i] + 1
        y_hi = cy[j + 1] if j + 1 < sy else cy[j] + 1
        for x in range(int(cx[i]), int(x_hi)):
            for y in range(int(cy[j]), int(y_hi)):
                out.append((x, y))
    return out


def _fill_one(xs: np.ndarray, ys: np.ndarray,
              max_holes: int = MAX_HOLES_PER_GROUP) -> list[tuple[int, int]]:
    """Holes for one geometry's member tiles — run-length CCL on the
    compressed grid.  Semantics identical to the r5 frontier BFS (the
    reference checkAndFill; its mirror is in tests/test_holefill_r6.py):
    the walk never enters compressed row/col 0, and a cell is OUTSIDE
    iff its empty 4-component touches the padded border ring of the
    [1:, 1:] subgrid (which contains the (1,1) seed and is fully
    member-free, hence one component)."""
    cx, cy, sx, sy, grid = _grid_setup(xs, ys)
    if sx < 4 or sy < 4:
        return []
    # empty mask of the subgrid rows/cols >= 1 (the BFS domain)
    empty = ~grid[1:, 1:]
    n_rows, n_cols = empty.shape

    # maximal horizontal runs of empty cells per row (vectorized):
    # pad each row with False so run starts/ends are diffs
    padded = np.zeros((n_rows, n_cols + 2), dtype=bool)
    padded[:, 1:-1] = empty
    d = padded[:, 1:].astype(np.int8) - padded[:, :-1].astype(np.int8)
    row_idx, start_col = np.where(d == 1)
    _, end_col = np.where(d == -1)  # same count/order as starts
    # runs: [start_col, end_col) in subgrid columns, grouped by row
    n_runs = len(row_idx)
    if n_runs == 0:
        return []

    parent = list(range(n_runs))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    # rows are emitted in order by np.where; runs of row r occupy a
    # contiguous index range — walk adjacent row pairs with two pointers
    row_breaks = np.searchsorted(row_idx, np.arange(n_rows + 1))
    for r in range(1, n_rows):
        a0, a1 = row_breaks[r - 1], row_breaks[r]
        b0, b1 = row_breaks[r], row_breaks[r + 1]
        i, j = a0, b0
        while i < a1 and j < b1:
            # overlap of [s,e) intervals = 4-connectivity between rows
            if start_col[i] < end_col[j] and start_col[j] < end_col[i]:
                union(i, j)
            if end_col[i] < end_col[j]:
                i += 1
            else:
                j += 1

    # outside = components touching the subgrid border ring
    touches = (
        (row_idx == 0) | (row_idx == n_rows - 1)
        | (start_col == 0) | (end_col == n_cols)
    )
    outside_roots = {find(k) for k in np.flatnonzero(touches)}
    hole_runs = [k for k in range(n_runs) if find(k) not in outside_roots]
    if not hole_runs:
        return []
    hx_list = []
    hy_list = []
    for k in hole_runs:
        cols = np.arange(start_col[k], end_col[k])
        hx_list.append(cols + 1)  # subgrid → full-grid offset
        hy_list.append(np.full(len(cols), row_idx[k] + 1))
    hx = np.concatenate(hx_list)
    hy = np.concatenate(hy_list)
    return _expand_holes(hy, hx, cx, cy, sx, sy, max_holes)


def fill_holes(group_tiles: DataFrame, min_tiles: int = 8) -> DataFrame:
    """(element_id, tile_x, tile_y) tile rows of the groups → same
    relation + patched hole tiles.

    Groups below ``min_tiles`` tiles (MapSplit.java:491-493) are dropped
    by a ``size`` filter on the grouped row and never reach Python.

    The kernel is Python-CPU-heavy but byte-light, so AQE's byte-sized
    coalescing squeezed it into 1-3 tasks (6 s of 17 s CPU at sf0.1,
    r6); the explicit ``repartition`` is exempt from coalescing, and the
    ``groupBy`` reuses its partitioning.

    The output is the input rows plus the holes, with no dedupe
    shuffle: a patched hole is by construction a tile NOT in its
    group's member set and each hole is emitted once, so a distinct
    input (way_tiles / assign→expand outputs) gives a distinct output.

    The input relation feeds two consumers (the grouped fill and the
    output union); callers with an expensive upstream checkpoint it
    themselves (q_session_holefill does) — checkpointing here measured
    SLOWER at sf0.1 for a cheap upstream.
    """
    src = group_tiles.select("element_id", "tile_x", "tile_y")
    groups = (
        src.repartition(src.sparkSession.sparkContext.defaultParallelism, "element_id")
        .groupBy("element_id")
        .agg(F.collect_list("tile_x").alias("xs"),
             F.collect_list("tile_y").alias("ys"))
        .filter(F.size("xs") >= min_tiles)
    )
    gid_type = dict(src.dtypes)["element_id"]  # schema follows the caller's key type

    def patch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_g: list = []
            out_x: list = []
            out_y: list = []
            for gid, xs, ys in zip(pdf["element_id"], pdf["xs"], pdf["ys"]):
                for hx, hy in _fill_one(np.asarray(xs, dtype=np.int64),
                                        np.asarray(ys, dtype=np.int64)):
                    out_g.append(gid)
                    out_x.append(hx)
                    out_y.append(hy)
            yield pd.DataFrame({
                "element_id": pd.Series(out_g, dtype=pdf["element_id"].dtype),
                "tile_x": pd.Series(out_x, dtype="int64"),
                "tile_y": pd.Series(out_y, dtype="int64"),
            })

    holes = groups.mapInPandas(
        patch, f"element_id {gid_type}, tile_x long, tile_y long"
    )
    return src.unionByName(holes)
