"""Independent pure-numpy oracle producing golden outputs for pytest.

This is the engine-free re-computation of the reference semantics
(FIXTURES.md §5): given the same deterministic inputs it produces the
exact `(tile → sorted element ids, count)` manifests the Spark engine
must reproduce.  It deliberately shares only `tilemath`/`geo` (the
formula kernel) with the engine — the dataflow (joins, grouping,
explosion) is reimplemented with plain dict/set Python so a dataflow bug
in the Spark operators cannot self-validate.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from mapsplit_spark import tilemath as tm


def assignment_pairs(ids, lon, lat, zoom: int, border: float = 0.0) -> set:
    """{(element_id, tile_x, tile_y)} — distinct member tiles per point."""
    tx, ty, nb = tm.assign(np.asarray(lon), np.asarray(lat), zoom, border)
    ei, ex, ey = tm.expand(tx, ty, nb)
    ids = np.asarray(ids)
    return set(zip(ids[ei].tolist(), ex.tolist(), ey.tolist()))


def manifests(ids, lon, lat, zoom: int, border: float = 0.0) -> dict:
    """{(tile_x, tile_y): sorted [element_id, ...]} golden manifests."""
    out = defaultdict(set)
    for eid, x, y in assignment_pairs(ids, lon, lat, zoom, border):
        out[(int(x), int(y))].add(eid)
    return {k: sorted(v) for k, v in out.items()}


def session_tiles(point_pairs: set, sessions: list) -> tuple[dict, set]:
    """Way-analog union semantics (MapSplit.java:452-511).

    ``sessions`` is [(session_id, [member_image_ids...])].  Returns
    (session_id → sorted tile list, set of augmented (image_id, tile)
    pairs from back-propagation J2).  A session with ANY missing member
    is dropped entirely (MapSplit.java:468-473).
    """
    by_id = defaultdict(set)
    for eid, x, y in point_pairs:
        by_id[eid].add((int(x), int(y)))
    ses_tiles, extra = {}, set()
    for sid, members in sessions:
        if any(m not in by_id for m in members):
            continue  # drop-if-any-missing
        tiles = set()
        for m in members:
            tiles |= by_id[m]
        ses_tiles[sid] = sorted(tiles)
        for m in members:
            for t in tiles:
                extra.add((m, t[0], t[1]))
    return ses_tiles, extra


def hole_fill(tiles: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Reference checkAndFill (MapSplit.java:253-352) on an explicit tile
    set (neighbour bits already expanded): pad bbox by 2, flood-fill the
    outside from (1,1) with a 4-neighbourhood, return interior holes."""
    if not tiles:
        return set()
    xs = [t[0] for t in tiles]
    ys = [t[1] for t in tiles]
    min_x, max_x = min(xs) - 2, max(xs) + 2
    min_y, max_y = min(ys) - 2, max(ys) + 2
    sx = max_x - min_x + 1
    sy = max_y - min_y + 1
    grid = np.zeros((sy, sx), dtype=bool)
    for x, y in tiles:
        grid[y - min_y, x - min_x] = True
    seen = np.zeros_like(grid)
    stack = [(1, 1)]
    while stack:
        gx, gy = stack.pop()
        if gx < 1 or gy < 1 or gx >= sx or gy >= sy:
            continue
        if seen[gy, gx] or grid[gy, gx]:
            seen[gy, gx] = True
            continue
        seen[gy, gx] = True
        stack.extend([(gx + 1, gy), (gx - 1, gy), (gx, gy + 1), (gx, gy - 1)])
    holes = set()
    for gy in range(1, sy):
        for gx in range(1, sx):
            if not grid[gy, gx] and not seen[gy, gx]:
                holes.add((gx + min_x, gy + min_y))
    return holes


def point_in_ring(x: float, y: float, ring: np.ndarray) -> bool:
    """Even-odd ray casting, re-deriving isInside (MapSplit.java:999-1010).
    ``ring`` is (n, 2) [lon, lat]."""
    inside = False
    n = len(ring)
    j = n - 1
    for i in range(n):
        xi, yi = ring[i]
        xj, yj = ring[j]
        if (yi > y) != (yj > y) and x < (xj - xi) * (y - yi) / (yj - yi) + xi:
            inside = not inside
        j = i
    return inside


def tile_in_polygon(tx: int, ty: int, zoom: int, outers, inners) -> bool:
    """Corner test (MapSplit.java:1020-1065): keep tile iff any of its 4
    corners is inside ≥1 outer ring and no corner is inside an inner."""
    corners = [
        (float(tm.tile2lon(tx + u, zoom)), float(tm.tile2lat(ty + v, zoom)))
        for u in (0, 1) for v in (0, 1)
    ]
    hit = any(point_in_ring(cx, cy, o) for o in outers for cx, cy in corners)
    if not hit:
        return False
    return not any(point_in_ring(cx, cy, h) for h in inners for cx, cy in corners)
