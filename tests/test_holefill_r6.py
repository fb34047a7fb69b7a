"""r6 optimization: the run-length-CCL fill kernel must be bit-equal to
the r5 frontier-BFS mirror (and hence to the reference checkAndFill) on
ring, blob, scattered, and adversarial fixtures, and the bucketed
applyInPandas stage must produce the same relation as per-group calls.
"""

from __future__ import annotations

import numpy as np
import pytest

from mapsplit_spark.operators.holefill import (
    MAX_HOLES_PER_GROUP,
    _expand_holes,
    _fill_one,
    _grid_setup,
)


def _fill_one_bfs(xs: np.ndarray, ys: np.ndarray,
                  max_holes: int = MAX_HOLES_PER_GROUP) -> list[tuple[int, int]]:
    """Reference-shaped frontier BFS on the compressed grid — the r5
    kernel, kept here as the differential-test mirror of ``_fill_one``."""
    cx, cy, sx, sy, grid2 = _grid_setup(xs, ys)
    grid = grid2.reshape(-1)

    outside = np.zeros(sy * sx, dtype=bool)
    seed = 1 * sx + 1  # compressed (1,1) == real (min+1, min+1): cx[1]=min_x+1
    frontier = np.empty(0, dtype=np.int64)
    if not grid[seed]:
        outside[seed] = True
        frontier = np.array([seed], dtype=np.int64)
    while frontier.size:  # frontier BFS: O(cells) total like the BitSet BFS
        col = frontier % sx
        row = frontier // sx
        # 4-neighbourhood, never into row/col 0 (MapSplit.java:311-316)
        cand = np.concatenate([
            frontier[col > 1] - 1,
            frontier[col < sx - 1] + 1,
            frontier[row > 1] - sx,
            frontier[row < sy - 1] + sx,
        ])
        cand = np.unique(cand)
        cand = cand[~outside[cand] & ~grid[cand]]
        outside[cand] = True
        frontier = cand

    holes = (~grid & ~outside).reshape(sy, sx)
    holes[0, :] = False
    holes[:, 0] = False
    hy, hx = np.where(holes)
    return _expand_holes(hy, hx, cx, cy, sx, sy, max_holes)


def _groups():
    rng = np.random.default_rng(7)
    cases = []
    # scattered (the sf0.1 shape that made BFS expensive)
    for n in (8, 12, 30, 80):
        cases.append((rng.integers(0, 8192, n), rng.integers(0, 8192, n)))
    # 3x3 ring, 5x5 ring, diamond (the gate fixtures)
    ring3 = [(x, y) for x in range(3) for y in range(3) if (x, y) != (1, 1)]
    ring5 = ([(x, 0) for x in range(5)] + [(x, 4) for x in range(5)]
             + [(0, y) for y in range(5)] + [(4, y) for y in range(5)])
    diamond = [(dx + 10, dy + 10) for dx in range(-2, 3) for dy in range(-2, 3)
               if abs(dx) + abs(dy) == 2]
    for tiles in (ring3, ring5, diamond):
        xs, ys = zip(*tiles)
        cases.append((np.array(xs), np.array(ys)))
    # C-shape (hole open on one side → no hole), nested rings, full block
    c_shape = [(x, 0) for x in range(5)] + [(x, 4) for x in range(5)] + \
              [(0, y) for y in range(5)]
    nested = ring5 + [(x + 1, y + 1) for (x, y) in ring3]
    block = [(x, y) for x in range(4) for y in range(4)]
    # dense random blobs (many internal pockets)
    for _ in range(6):
        m = rng.integers(20, 120)
        cases.append((rng.integers(0, 12, m), rng.integers(0, 12, m)))
    for tiles in (c_shape, nested, block):
        xs, ys = zip(*tiles)
        cases.append((np.array(xs), np.array(ys)))
    # wide rectangle ring whose interior is a >1-cell compressed rect
    wide = ([(x, 0) for x in range(9)] + [(x, 6) for x in range(9)]
            + [(0, y) for y in range(7)] + [(8, y) for y in range(7)])
    xs, ys = zip(*wide)
    cases.append((np.array(xs), np.array(ys)))
    return cases


@pytest.mark.parametrize("idx", range(len(_groups())))
def test_run_ccl_matches_bfs(idx):
    xs, ys = _groups()[idx]
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    assert sorted(_fill_one(xs, ys)) == sorted(_fill_one_bfs(xs, ys))


def test_bucketed_stage_matches_per_group(spark):
    """fill_holes output (bucketed Python stage) equals
    the per-group reference composition over a mixed fixture."""
    from mapsplit_spark.operators.holefill import fill_holes

    rng = np.random.default_rng(3)
    rows = []
    expected = set()
    for gid in range(40):
        if gid % 3 == 0:  # ring → one hole
            tiles = [(x + gid * 50, y) for x in range(3) for y in range(3)
                     if (x, y) != (1, 1)]
            holes = [(1 + gid * 50, 1)]
        else:  # scattered → no holes
            tiles = list({(int(x), int(y)) for x, y in zip(
                rng.integers(0, 4096, 10), rng.integers(0, 4096, 10))})
            holes = []
        rows += [(gid, x, y) for x, y in tiles]
        expected |= {(gid, x, y) for x, y in tiles}
        expected |= {(gid, x, y) for x, y in holes}
    df = spark.createDataFrame(rows, "element_id long, tile_x long, tile_y long")
    got = {(r.element_id, r.tile_x, r.tile_y)
           for r in fill_holes(df).collect()}
    assert got == expected
