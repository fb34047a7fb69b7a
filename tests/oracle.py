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

import math
import struct
from collections import defaultdict

import numpy as np

from mapsplit_spark import tilemath as tm
from mapsplit_spark.imaging import VMAGIC, encode_image


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


# ------------------------------------------------------------------------
# references of engine encodings that only tests read: inverses, metrics,
# error bounds and fixture writers
# ------------------------------------------------------------------------

def pack_xy(x, y):
    """Reference 32-bit packing x<<16 | y (TileCoord.java:11-22)."""
    return (np.asarray(x, dtype=np.int64) << tm.MAX_ZOOM) | np.asarray(y, dtype=np.int64)


def unpack_xy(t):
    t = np.asarray(t, dtype=np.int64)
    return t >> tm.MAX_ZOOM, t & ((1 << tm.MAX_ZOOM) - 1)


def unpack_zxy(t):
    """Inverse of ``tilemath.pack_zxy``."""
    t = np.asarray(t, dtype=np.int64)
    return (t >> 32, (t >> tm.MAX_ZOOM) & ((1 << tm.MAX_ZOOM) - 1),
            t & ((1 << tm.MAX_ZOOM) - 1))


def demorton(m) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``cellid.morton``."""
    m = np.asarray(m, dtype=np.uint64)

    def compact(v):
        v = v.copy()  # &= would mutate the caller's array
        v &= np.uint64(0x55555555)
        v = (v | (v >> np.uint64(1))) & np.uint64(0x33333333)
        v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F)
        v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF)
        v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF)
        return v.astype(np.int64)

    return compact(m), compact(m >> np.uint64(1))


def parse_quadkey(qk: str) -> tuple[int, int, int]:
    """Inverse of ``cellid.quadkey``: → (z, x, y)."""
    x = y = 0
    for c in qk:
        d = int(c)
        x = (x << 1) | (d & 1)
        y = (y << 1) | (d >> 1)
    return len(qk), x, y


def hex_center(q, r, s: float) -> tuple[np.ndarray, np.ndarray]:
    """Cell → center (lon, lat) in degrees (inverse of the axial
    transform at the lattice points)."""
    q = np.asarray(q, dtype=np.float64)
    r = np.asarray(r, dtype=np.float64)
    return s * (math.sqrt(3.0) * (q + r * 0.5)), s * 1.5 * r


def hex_dist(q1, r1, q2, r2) -> np.ndarray:
    """Hex (cube) distance between axial cells — the k of k-ring."""
    dq = np.asarray(q1, dtype=np.int64) - np.asarray(q2, dtype=np.int64)
    dr = np.asarray(r1, dtype=np.int64) - np.asarray(r2, dtype=np.int64)
    return (np.abs(dq) + np.abs(dr) + np.abs(dq + dr)) // 2


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 ** 2 / mse)


def encode_video(frames: list) -> bytes:
    """The stub video container ``imaging.decode_video`` reads: magic +
    frame count + length-prefixed lossless (png) MSIM frames."""
    blobs = [encode_image(f, "png") for f in frames]
    head = VMAGIC + struct.pack("<I", len(blobs))
    return head + b"".join(struct.pack("<I", len(b)) + b for b in blobs)


def hll_error_bound(p: int) -> float:
    """HLL relative error bound at 4 standard errors (1.04/√2^p each)."""
    return 4.0 * 1.04 / math.sqrt(1 << p)
