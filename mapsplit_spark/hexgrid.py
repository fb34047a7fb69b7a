"""Hexagonal lattice cell encoding — the H3 analog next to the
quadtree encodings (cellid.py: Morton / quadkey / geohash).

The north star asks for "H3/S2 cell encoding" and "H3 k-ring candidate
generation"; the h3 library is not in this container, and H3's
icosahedral projection is library-specific anyway.  What the engine
actually needs from H3 is the *lattice*: hexagonal cells (uniform
6-neighbour adjacency — no corner-vs-edge asymmetry like the square
grid's 8-ring) with O(1) point→cell assignment and cheap k-ring /
k-disk enumeration.  This module provides exactly that, from the
public axial-coordinate construction (Red Blob Games' hex grid
geometry; Amit Patel's cube-rounding algorithm — public knowledge):

* pointy-top hexagons of circumradius ``s`` DEGREES in the raw
  (lon, lat) plane — a fixed global lattice, like H3's fixed cells
  (and with the same high-latitude distortion caveat, documented on
  the consumers that care: knn.knn_hex sizes its coverage proof in
  ground km, dwithin scatters with a lat-adaptive radius);
* point→cell: the fractional axial transform followed by CUBE
  ROUNDING (round q/r/s to the nearest integers, then fix the
  component with the largest rounding error so q+r+s=0) — this is
  hexagon containment (hexagons are the Voronoi cells of the
  lattice), verified against a brute-force nearest-center search in
  tests/test_hexgrid.py;
* ``hex_disk_offsets`` / ``hex_ring_offsets``: all cells within
  hex-distance k / exactly at k (|ring k| = 6k, |disk k| = 3k(k+1)+1);
  ``hex_disk`` scatters a frame's cells to their k-disks in the JVM.

Three formulations gate each other (the tile_cellid / geohash
pattern): the numpy kernel here, the JVM column twin
(``hex_cell_cols`` — whole-stage codegen, no UDF), and the DuckDB
oracle SQL (``sqlgen.hex_q_sql``/``hex_r_sql``).  The arithmetic TEXT
is shared token-for-token across the three so the doubles are
bit-identical (FP-parity requirement of the value-hash gate); the
independence comes from the fourth formulation — the nearest-center
brute force in the pytest, which shares no code with any of them.

Geometry facts used by consumers (validated numerically in
tests/test_hexgrid.py, not just asserted):

* neighbouring cell centers are √3·s apart; cell circumradius
  (center→vertex) is s;
* centers of cells at hex-distance m are ≥ 1.5·m·s apart (the
  minimum is approached along the lattice diagonal), hence two
  POINTS in cells at hex-distance m are > (1.5·m − 2)·s apart —
  the bound behind knn_hex's coverage proof and dwithin's scatter
  radius.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Axial transform constants — Python floats, embedded as literals in
# all three formulations so every engine multiplies by the SAME double.
SQRT3_OVER_3 = math.sqrt(3.0) / 3.0
ONE_THIRD = 1.0 / 3.0
TWO_THIRDS = 2.0 / 3.0

# centers of cells at hex-distance m are >= CENTER_SPACING_MIN * m * s
# apart (lattice diagonal; tests/test_hexgrid.py validates numerically)
CENTER_SPACING_MIN = 1.5


def hex_cell(lon, lat, s: float) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized point→cell: axial (q, r) int64 of the hexagon
    containing each (lon, lat).  Pointy-top, circumradius ``s`` deg."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    qf = (lon * SQRT3_OVER_3 - lat * ONE_THIRD) / s
    rf = (lat * TWO_THIRDS) / s
    sf = (0.0 - qf) - rf
    rq = np.floor(qf + 0.5)
    rr = np.floor(rf + 0.5)
    rs = np.floor(sf + 0.5)
    dq = np.abs(rq - qf)
    dr = np.abs(rr - rf)
    ds = np.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = np.where(fix_q, (0.0 - rr) - rs, rq)
    r = np.where(fix_r, (0.0 - rq) - rs, rr)
    return q.astype(np.int64), r.astype(np.int64)


def hex_cell_cols(lon: Column, lat: Column, s: float) -> tuple[Column, Column]:
    """JVM twin of ``hex_cell`` — identical operation order, so the
    doubles (and therefore the rounded cells) are bit-identical to the
    numpy kernel and the DuckDB oracle SQL.  Pure column arithmetic:
    whole-stage codegen, no UDF, map-only (plan pinned in
    tests/test_hexgrid.py)."""
    qf = (lon * F.lit(SQRT3_OVER_3) - lat * F.lit(ONE_THIRD)) / F.lit(s)
    rf = (lat * F.lit(TWO_THIRDS)) / F.lit(s)
    sf = (F.lit(0.0) - qf) - rf
    rq = F.floor(qf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    rs = F.floor(sf + F.lit(0.5))
    dq = F.abs(rq - qf)
    dr = F.abs(rr - rf)
    ds = F.abs(rs - sf)
    fix_q = (dq > dr) & (dq > ds)
    fix_r = (~fix_q) & (dr > ds)
    q = F.when(fix_q, (F.lit(0) - rr) - rs).otherwise(rq)
    r = F.when(fix_r, (F.lit(0) - rq) - rs).otherwise(rr)
    return q.cast("long"), r.cast("long")


def hex_disk_offsets(k: int) -> list[tuple[int, int]]:
    """Axial offsets of every cell within hex-distance ``k`` of the
    origin — |disk| = 3k(k+1)+1.  The hex k-ring candidate generator's
    neighbourhood (H3 kRing analog)."""
    if k < 0:
        raise ValueError("k must be >= 0")
    return [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]


def hex_disk(df: DataFrame, keep: list[str], k: int | Column) -> DataFrame:
    """Scatter each row's cell (hq, hr) to its hex k-disk — the JVM twin
    of ``hex_disk_offsets``, the one place the engine builds the disk.
    ``k`` is an int or a per-row Column (lat-adaptive radii).
    → (*keep, hq, hr), 3k(k+1)+1 distinct cells per row; map-side (two
    explodes of ``sequence``, no UDF)."""
    if isinstance(k, int):
        if k < 0:
            raise ValueError("k must be >= 0")
        k = F.lit(k)
    kc, dq, dr = F.col("_k"), F.col("_dq"), F.col("_dr")
    return (
        df.select(*keep, "hq", "hr", k.alias("_k"))
        .withColumn("_dq", F.explode(F.sequence(-kc, kc)))
        .withColumn("_dr", F.explode(F.sequence(
            F.greatest(-kc, -dq - kc), F.least(kc, -dq + kc))))
        .select(*keep, (F.col("hq") + dq).alias("hq"),
                (F.col("hr") + dr).alias("hr"))
    )


def hex_ring_offsets(k: int) -> list[tuple[int, int]]:
    """Axial offsets at hex-distance exactly ``k`` — |ring| = 6k (k>0)."""
    if k == 0:
        return [(0, 0)]
    disk = set(hex_disk_offsets(k))
    inner = set(hex_disk_offsets(k - 1))
    return sorted(disk - inner)


def covered_radius_deg(k: int, s: float) -> float:
    """A LOWER bound on the Euclidean (degree-plane) distance from any
    point of the center cell to any point OUTSIDE the k-disk around it:
    cells at hex-distance ≥ k+1 have centers ≥ 1.5·(k+1)·s away, and a
    point is within s (the circumradius) of its own cell's center, so
    point-to-point distance > (1.5·(k+1) − 2)·s.  Positive for k ≥ 1.
    Consumers (knn_hex coverage proof, dwithin scatter radius) rely on
    this; tests/test_hexgrid.py validates it against sampled lattices."""
    return (CENTER_SPACING_MIN * (k + 1) - 2.0) * s


def scatter_k_for_radius(rho_deg: float, s: float) -> int:
    """The smallest k whose k-disk PROVABLY contains every cell holding
    a point within degree-plane distance ``rho_deg``: invert
    ``covered_radius_deg`` — k = ceil(((rho + 2s) / (1.5 s)) − 1)."""
    return max(0, math.ceil((rho_deg + 2.0 * s) / (CENTER_SPACING_MIN * s) - 1.0))


def scatter_k_col(rho_deg: Column, s: float) -> Column:
    """``scatter_k_for_radius`` as an int Column, for per-row radii."""
    return F.greatest(F.lit(0), F.ceil(
        (rho_deg + F.lit(2.0 * s)) / F.lit(CENTER_SPACING_MIN * s) - F.lit(1.0)
    )).cast("int")
