"""Within-distance spatial self-join (DWithin): every pair of points
at ground distance ≤ d km — the third classic spatial-join form next
to point-in-polygon (clip.py / strtree.py) and kNN (knn.py).

Engine shape — the GRID METHOD done Spark-first, sized so the big
table is never row-exploded:

1. every point gets its hex cell (hexgrid.hex_cell_cols — map-only,
   codegen, lattice circumradius ``s`` degrees);
2. the DISTINCT occupied-cell relation (tiny: ≤ one row per cell,
   grouped with the cell's max |lat|) scatters to its k-disk, where k
   is LAT-ADAPTIVE: the lon-degree span of d km grows as 1/cos(lat),
   so an equator cell scatters to ~a dozen neighbours while only the
   (rare) polar cells pay the wide disk — no global worst-case cell
   size, no row explosion of the raw table;
3. occupied→occupied cell pairs (a semi-join drops empty targets)
   drive two equi-joins points⋈cellpairs⋈points; the exact haversine
   refine keeps pairs ≤ d.

Each qualifying pair is produced exactly once (the scatter side owns
the pair via the cell-pair (cell_A → cell_B); the reverse direction is
cut by the id_a < id_b filter), so no distinct over the pair stream is
needed — except across the antimeridian ghosts below.

Antimeridian: the hex lattice does not wrap, so points straddling lon
±180 would never meet.  Points within the (lat-capped) maximum lon
span of the seam are GHOSTED once at lon−360 — cell assignment uses
the shifted lon, but the ghost carries its ORIGINAL coordinates, and
the refine distance is always computed from original coordinates
(haversine is 360°-periodic in Δλ, so the unwrapped difference is
exact AND bit-identical to the oracle's, which never wraps either).
A seam pair can be found both real-real and ghost-ghost, hence the
single dropDuplicates at the end.

Correctness bounds (hexgrid.py geometry, validated in
tests/test_hexgrid.py): a pair at ground distance ≤ d has
|Δφ| ≤ d/R and sin(Δλ/2) ≤ sin(d/2R)/cos(φ_max) (from the haversine
identity, with φ_max the larger |lat| of the pair — bounded per cell
by the cell's max |lat| + the Δφ span, capped at 85.06°); the
degree-plane pair distance is ≤ ρ = √(Δφ² + Δλ²), and
hexgrid.scatter_k_for_radius(ρ, s) converts ρ to the covering disk
radius.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlgen
from ..hexgrid import hex_cell_cols, hex_disk, scatter_k_col
from ..sqlgen import EARTH_R_KM


def _max_dlambda_deg(d_km: float, cos_phi: float) -> float:
    """Largest possible |Δlon| (degrees) of a pair at ground distance
    ≤ d whose larger |lat| has cosine ``cos_phi`` — exact inversion of
    the haversine identity (sin²(d/2R) ≥ cos²φ·sin²(Δλ/2))."""
    x = math.sin(d_km / (2.0 * EARTH_R_KM)) / max(cos_phi, 1e-12)
    return math.degrees(2.0 * math.asin(min(1.0, x)))


def dwithin_pairs(points: DataFrame, id_col: str, lon_col: str,
                  lat_col: str, d_km: float) -> DataFrame:
    """points(id, lon, lat) → (id_a, id_b, dist_km) for every pair with
    haversine ≤ ``d_km``, id_a < id_b, dist rounded to 6 decimals
    (sqlgen.haversine_sql — the oracle's identical expression text).

    The lattice circumradius is twice the lat span of d, so equator
    disks stay single-digit; the 85.06° cap bounds the 1/cos(lat)
    lon-span blowup — it must be ≥ the data's max |lat| (the Mercator
    domain covers every consumer in this engine).
    """
    dphi_deg = math.degrees(d_km / EARTH_R_KM)
    s = 2.0 * dphi_deg
    cap_rad = math.radians(85.06)

    hq, hr = hex_cell_cols(F.col(lon_col), F.col(lat_col), s)
    base = points.select(
        F.col(id_col).alias("pid"),
        F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat"),
        hq.alias("hq"), hr.alias("hr"),
    )
    # antimeridian ghosts: shifted lon for CELL assignment only — the
    # carried (lon, lat) stay original so the refine is oracle-identical
    margin = _max_dlambda_deg(d_km, math.cos(cap_rad))
    gq, gr = hex_cell_cols(F.col(lon_col) - F.lit(360.0), F.col(lat_col), s)
    ghosts = points.filter(F.col(lon_col) >= 180.0 - margin).select(
        F.col(id_col).alias("pid"),
        F.col(lon_col).alias("lon"), F.col(lat_col).alias("lat"),
        gq.alias("hq"), gr.alias("hr"),
    )
    pts = base.unionByName(ghosts)

    # occupied cells + the lat bound that sizes each cell's disk
    cells = pts.groupBy("hq", "hr").agg(
        F.max(F.abs(F.col("lat"))).alias("max_abs_lat"))

    # per-cell scatter radius k: ρ = √(Δφ² + Δλ(φm)²) degrees, with
    # φm = min(85.06°, cell max |lat| + Δφ)
    phi_m = F.least(F.lit(cap_rad),
                    F.radians(F.col("max_abs_lat") + F.lit(dphi_deg)))
    sin_half = F.lit(math.sin(d_km / (2.0 * EARTH_R_KM)))
    dlam_deg = F.degrees(F.lit(2.0) * F.asin(F.least(F.lit(1.0), sin_half / F.cos(phi_m))))
    rho = F.sqrt(F.lit(dphi_deg) * F.lit(dphi_deg) + dlam_deg * dlam_deg)

    # (src cell → occupied dst cell) pairs; a semi-join drops empty targets
    src = cells.select(F.col("hq").alias("src_q"), F.col("hr").alias("src_r"),
                       "hq", "hr", "max_abs_lat")
    cellpairs = hex_disk(src, ["src_q", "src_r"], scatter_k_col(rho, s)) \
        .join(cells, ["hq", "hr"], "left_semi")

    a = pts.select(F.col("pid").alias("id_a"), F.col("lon").alias("lon_a"),
                   F.col("lat").alias("lat_a"),
                   F.col("hq").alias("src_q"), F.col("hr").alias("src_r"))
    b = pts.select(F.col("pid").alias("id_b"), F.col("lon").alias("lon_b"),
                   F.col("lat").alias("lat_b"), "hq", "hr")
    dist = F.expr(sqlgen.haversine_sql("lat_a", "lon_a", "lat_b", "lon_b"))
    return (
        a.join(cellpairs, ["src_q", "src_r"])
        .join(b, ["hq", "hr"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist_km", F.round(dist, 6))
        .filter(F.col("dist_km") <= F.lit(d_km))
        .select("id_a", "id_b", "dist_km")
        .dropDuplicates(["id_a", "id_b"])
    )
