"""Hierarchical cell encodings — quadkey / Morton (Z-order) ids and
k-rings over the slippy quadtree.

The north star asks for "H3/S2 cell encoding" alongside z/x/y; without
the h3/s2 libraries in this container we provide the equivalent
public-formula quadtree encodings (an S2 cell id is a face-local Hilbert
position; a Bing quadkey / Morton code is the same idea on the Mercator
quadtree — every slippy tile IS a quadtree cell):

* ``morton(x, y)``   — bit-interleaved Z-order index (locality-preserving
  sort key for range scans / clustering the tile table on disk),
* ``quadkey(z,x,y)`` — Bing-style base-4 string, prefix = ancestor cell,
* ``k_ring(x,y,k)``  — the grid-clamped (2k+1)² neighbourhood (H3
  k-ring analog), the reference that ``assign.tile_window`` is tested
  against.

All vectorized numpy; ``morton_col`` provides the same as a JVM column
expression for writers that cluster output by curve position.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 16 bits of v into even bit positions."""
    v = v.astype(np.uint64) & np.uint64(0xFFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x33333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x55555555)
    return v


def morton(x, y) -> np.ndarray:
    """Interleave 16-bit x, y → 32-bit Z-order index (x in even bits)."""
    return (_part1by1(np.asarray(x)) | (_part1by1(np.asarray(y)) << np.uint64(1))).astype(np.int64)


def quadkey(z: int, x, y):
    """Bing-maps quadkey strings; parent cell = string prefix."""
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    out = np.empty(x.shape, dtype=object)
    for i in np.ndindex(x.shape):
        digits = []
        for level in range(z, 0, -1):
            mask = 1 << (level - 1)
            digits.append(str(((x[i] & mask) > 0) + 2 * ((y[i] & mask) > 0)))
        out[i] = "".join(digits)
    return out


def k_ring(x: int, y: int, k: int, zoom: int) -> list[tuple[int, int]]:
    """(2k+1)² neighbourhood clamped to the tile grid — H3 k-ring analog;
    the Python reference of ``assign.tile_window``'s clamp rule."""
    n = 1 << zoom
    return [
        (x + dx, y + dy)
        for dx in range(-k, k + 1) for dy in range(-k, k + 1)
        if 0 <= x + dx < n and 0 <= y + dy < n
    ]


GEOHASH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_bits(precision: int) -> tuple[int, int]:
    """(lon_bits, lat_bits) for a geohash of ``precision`` base-32 chars
    — 5 bits per char, alternating lon/lat starting with lon, so lon
    gets the extra bit when the total is odd."""
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in [1, 12]")
    total = 5 * precision
    return (total + 1) // 2, total // 2


def geohash(lon, lat, precision: int = 8) -> np.ndarray:
    """Vectorized geohash encode (public base-32 algorithm: interleave
    the binary-subdivision bits of lon and lat, lon first, 5 bits per
    character).  The interval-halving formulation collapses to integer
    indices: ix = floor((lon+180)/360 · 2^lon_bits) — bit j of ix IS the
    j-th subdivision decision — so the whole encode is one float→int
    quantization plus bit shuffling.  numpy for Arrow-UDF contexts;
    ``geohash_col`` is the JVM twin (differential-tested), and
    ``sqlgen.geohash_*_sql`` an independent FLOOR/mod arithmetic
    formulation for the DuckDB oracle (the tile_cellid pattern)."""
    nb_lon, nb_lat = _geohash_bits(precision)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * float(1 << nb_lon)),
                 0, (1 << nb_lon) - 1).astype(np.uint64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * float(1 << nb_lat)),
                 0, (1 << nb_lat) - 1).astype(np.uint64)
    total = 5 * precision
    combined = np.zeros(lon.shape, dtype=np.uint64)
    for t in range(total):  # code bit t, MSB first
        if t % 2 == 0:
            bit = (ix >> np.uint64(nb_lon - 1 - t // 2)) & np.uint64(1)
        else:
            bit = (iy >> np.uint64(nb_lat - 1 - (t - 1) // 2)) & np.uint64(1)
        combined |= bit << np.uint64(total - 1 - t)
    chars = np.array(list(GEOHASH_BASE32))
    idx = ((combined >> np.uint64(5 * (precision - 1))) & np.uint64(31))
    out = chars[idx.astype(np.int64)]
    for k in range(1, precision):
        idx = (combined >> np.uint64(5 * (precision - 1 - k))) & np.uint64(31)
        out = np.char.add(out, chars[idx.astype(np.int64)])
    return out


def geohash_col(lon: Column, lat: Column, precision: int = 8) -> Column:
    """JVM-side geohash: same quantization arithmetic as ``geohash``
    (identical operation order → bit-identical doubles), bit shuffle via
    shiftright/shiftleft/bitwiseAND, characters via element_at on a
    literal alphabet array.  Whole-stage-codegen friendly — no UDF."""
    nb_lon, nb_lat = _geohash_bits(precision)
    total = 5 * precision

    def quant(c: Column, off: float, rng: float, nb: int) -> Column:
        i = F.floor((c + F.lit(off)) / F.lit(rng) * F.lit(float(1 << nb)))
        return F.least(F.greatest(i.cast("long"), F.lit(0)),
                       F.lit((1 << nb) - 1))

    ix = quant(lon, 180.0, 360.0, nb_lon)
    iy = quant(lat, 90.0, 180.0, nb_lat)
    combined = F.lit(0).cast("long")
    for t in range(total):
        if t % 2 == 0:
            bit = F.shiftright(ix, nb_lon - 1 - t // 2).bitwiseAND(F.lit(1))
        else:
            bit = F.shiftright(iy, nb_lat - 1 - (t - 1) // 2).bitwiseAND(F.lit(1))
        combined = combined.bitwiseOR(F.shiftleft(bit, total - 1 - t))
    alphabet = F.array(*[F.lit(c) for c in GEOHASH_BASE32])
    chars = [
        F.element_at(
            alphabet,
            (F.shiftright(combined, 5 * (precision - 1 - k))
             .bitwiseAND(F.lit(31)) + F.lit(1)).cast("int"),
        )
        for k in range(precision)
    ]
    return F.concat(*chars)


def morton_col(x: Column, y: Column) -> Column:
    """JVM-side Morton index (bit-spread via shifts/masks) — use as a
    sort/cluster key when writing the tile table so neighbouring tiles
    land in the same files (locality for k-ring reads)."""

    def spread(c: Column) -> Column:
        # Column `|` is logical OR — bitwiseOR is required here.  Long
        # from the start: on int inputs the y shift below overflows to a
        # negative index once y >= 2^15
        c = c.cast("long").bitwiseAND(F.lit(0xFFFF))
        c = c.bitwiseOR(F.shiftleft(c, 8)).bitwiseAND(F.lit(0x00FF00FF))
        c = c.bitwiseOR(F.shiftleft(c, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        c = c.bitwiseOR(F.shiftleft(c, 2)).bitwiseAND(F.lit(0x33333333))
        c = c.bitwiseOR(F.shiftleft(c, 1)).bitwiseAND(F.lit(0x55555555))
        return c

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))
