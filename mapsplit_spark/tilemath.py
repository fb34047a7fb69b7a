"""Pure-numpy tile-math kernel (M0) — the single source of truth for
slippy-map tile semantics in this engine.

Semantics are a faithful re-derivation of the reference formulas
(mapsplit, `MapSplit.java:174-246` tile math + clamping,
`MapSplit.java:360-445` border/neighbour-bit computation,
`TileCoord.java:11-22` packing, `Const.java:14-23` constants), expressed
as vectorized numpy.  This module has NO Spark dependency: it is used by

* the synthetic-data generator (`datagen.py`),
* the independent pure-Python oracle (`tests/oracle.py`) that produces
  golden manifests for pytest,
* unit tests that cross-check the Spark Column-expression implementation
  (`sqlgen.py` / `operators/assign.py`) against it.

Neighbour-bit encoding (reference `OsmMap.java:26-39`): the stored
(x, y) is the NW-most member tile; a point close to a tile border is
additionally a member of the E / S / SE neighbour tiles only (W/N
crossings are normalized by decrementing x/y).  NEIGHBOURS_SOUTH_EAST =
EAST | SOUTH, and E+S implies SE (`AbstractOsmMap.java:106-114`).
"""

from __future__ import annotations

import numpy as np

MAX_ZOOM = 16  # Const.java:14 — tile x/y each fit in 16 bits
MIN_LAT = -85.0511  # Const.java:20-23 (Web-Mercator latitude domain)
MAX_LAT = 85.0511
MIN_LON = -180.0
MAX_LON = 180.0

NEIGHBOURS_NONE = 0
NEIGHBOURS_EAST = 1
NEIGHBOURS_SOUTH = 2
NEIGHBOURS_SOUTH_EAST = 3  # == EAST | SOUTH


# --------------------------------------------------------------------------
# forward / inverse projections (MapSplit.java:174-221)
# --------------------------------------------------------------------------

def lon2tx(lon, zoom: int):
    """Longitude → tile X with edge clamping (MapSplit.java:194-204)."""
    n = 1 << zoom
    x = np.floor((np.asarray(lon, dtype=np.float64) + 180.0) / 360.0 * n)
    return np.clip(x, 0, n - 1).astype(np.int64)


LAT_DOMAIN = 89.9  # formula domain guard, see lat2ty


def lat2ty(lat, zoom: int):
    """Latitude → tile Y (Mercator) with edge clamping (MapSplit.java:211-221).

    The latitude argument is clamped to ±89.9° first: border probes
    (lat ± dy, MapSplit.java:425-436) can leave the ±90° domain at low
    zoom, where Java's formula yields NaN and ``(int) NaN == 0``.  Such
    probes only occur for points in the top/bottom tile row, where any
    in-domain substitute latitude produces the same clamped tile index
    (0 or 2^z−1) and therefore the same neighbour flags — clamping keeps
    numpy / Spark SQL / DuckDB bit-identical instead of NaN-divergent.
    """
    n = 1 << zoom
    lat = np.clip(np.asarray(lat, dtype=np.float64), -LAT_DOMAIN, LAT_DOMAIN)
    rad = np.radians(lat)
    y = np.floor((1.0 - np.log(np.tan(rad) + 1.0 / np.cos(rad)) / np.pi) / 2.0 * n)
    return np.clip(y, 0, n - 1).astype(np.int64)


def tile2lon(x, zoom: int):
    """Tile X → west-edge longitude (MapSplit.java:173-175)."""
    return np.asarray(x, dtype=np.float64) / float(2.0 ** zoom) * 360.0 - 180.0


def tile2lat(y, zoom: int):
    """Tile Y → north-edge latitude (MapSplit.java:183-186).

    The reference computes atan(0.5*(e^n - e^-n)) == atan(sinh(n)).
    """
    n = np.pi - 2.0 * np.pi * np.asarray(y, dtype=np.float64) / float(2 ** zoom)
    return np.degrees(np.arctan(0.5 * (np.exp(n) - np.exp(-n))))


# --------------------------------------------------------------------------
# border offsets (MapSplit.java:360-382)
# --------------------------------------------------------------------------

def delta_x(lon, zoom: int, border: float):
    """border-fraction of the width of the tile containing ``lon``."""
    tx = lon2tx(lon, zoom)
    return border * (tile2lon(tx + 1, zoom) - tile2lon(tx, zoom))


def delta_y(lat, zoom: int, border: float):
    """border-fraction of the (negative) height of the tile containing
    ``lat`` — tile2lat decreases with y so the result is <= 0."""
    ty = lat2ty(lat, zoom)
    return border * (tile2lat(ty + 1, zoom) - tile2lat(ty, zoom))


# --------------------------------------------------------------------------
# point assignment with neighbour bits (MapSplit.java:411-445)
# --------------------------------------------------------------------------

def assign(lon, lat, zoom: int, border: float = 0.0):
    """Vectorized point→(tileX, tileY, neighbour_bits) assignment.

    Mirrors addNodeToMap (MapSplit.java:411-445): the base tile is
    normalized to the NW-most member tile; neighbour bits mark E / S /
    (implied SE) membership.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    tx = lon2tx(lon, zoom)
    ty = lat2ty(lat, zoom)
    neigh = np.zeros(tx.shape, dtype=np.int64)

    if border > 0:
        dx = delta_x(lon, zoom, border)
        east = lon2tx(lon + dx, zoom) > tx
        west = lon2tx(lon - dx, zoom) < tx
        # near east edge → EAST; near west edge → base moves west, EAST
        tx = tx - np.where(~east & west, 1, 0)
        neigh = neigh + np.where(east | west, NEIGHBOURS_EAST, 0)

        dy = delta_y(lat, zoom, border)  # dy <= 0
        south = lat2ty(lat + dy, zoom) > ty
        north = lat2ty(lat - dy, zoom) < ty
        ty = ty - np.where(~south & north, 1, 0)
        neigh = neigh + np.where(south | north, NEIGHBOURS_SOUTH, 0)

    return tx, ty, neigh


def expand(tx, ty, neigh):
    """Expand (base tile, neighbour bits) → distinct member (x, y) pairs.

    Returns (idx, xs, ys) where idx indexes back into the input arrays —
    i.e. the exploded (element, tile) relation.  SE is included iff
    neigh == SOUTH_EAST (AbstractOsmMap.java:106-114).
    """
    tx = np.asarray(tx, dtype=np.int64)
    ty = np.asarray(ty, dtype=np.int64)
    neigh = np.asarray(neigh, dtype=np.int64)
    base = np.arange(tx.shape[0])

    idxs = [base]
    xs = [tx]
    ys = [ty]

    e = (neigh & NEIGHBOURS_EAST) != 0
    idxs.append(base[e]); xs.append(tx[e] + 1); ys.append(ty[e])
    s = (neigh & NEIGHBOURS_SOUTH) != 0
    idxs.append(base[s]); xs.append(tx[s]); ys.append(ty[s] + 1)
    se = neigh == NEIGHBOURS_SOUTH_EAST
    idxs.append(base[se]); xs.append(tx[se] + 1); ys.append(ty[se] + 1)

    return np.concatenate(idxs), np.concatenate(xs), np.concatenate(ys)


# --------------------------------------------------------------------------
# packing (zoom-qualified variant of TileCoord.java:11-22, ours)
# --------------------------------------------------------------------------

def pack_zxy(z, x, y):
    """Zoom-qualified 64-bit tile id: z<<32 | x<<16 | y (ours; the
    reference keeps zoom implicit because it emits one zoom per run)."""
    return (
        (np.asarray(z, dtype=np.int64) << 32)
        | (np.asarray(x, dtype=np.int64) << MAX_ZOOM)
        | np.asarray(y, dtype=np.int64)
    )


# --------------------------------------------------------------------------
# bordered tile bbox (MapSplit.java:230-246)
# --------------------------------------------------------------------------

def tile_bound(tx, ty, zoom: int, border: float = 0.0):
    """Bordered tile bbox clamped to world bounds → (left, right, top, bottom)."""
    l = tile2lon(np.asarray(tx), zoom)
    r = tile2lon(np.asarray(tx) + 1, zoom)
    t = tile2lat(np.asarray(ty), zoom)
    b = tile2lat(np.asarray(ty) + 1, zoom)
    dx = r - l
    dy = b - t
    return (
        np.maximum(l - border * dx, MIN_LON),
        np.minimum(r + border * dx, MAX_LON),
        np.minimum(t - border * dy, MAX_LAT),
        np.maximum(b + border * dy, MIN_LAT),
    )
