"""Snap-to-nearest-segment — the map-matching primitive: for each
point, the nearest polyline segment within a snap radius (point ↔ line
proximity join), completing the spatial-join triad next to
point-in-polygon (clip/strtree) and point-distance (dwithin/knn).

Metric (the spec both engines share, sqlgen-style text): project the
segment endpoints into the point's local equirectangular tangent plane
(Δlon·cos φ_P, Δlat), take the closest point of the 2-D chord
(clamped parameter t ∈ [0,1]), and scale the plane distance to km with
KM_PER_DEG.  This is the standard local-plane approximation every
map-matcher uses at road scale; it is exact-by-definition here because
the DuckDB oracle evaluates the IDENTICAL expression text.  The plane
is RAW lon/lat — no antimeridian wrap (map matching is inherently
local; pre-normalize lon into the road network's frame for data that
straddles ±180 — dwithin.py shows the ghosting construction if a
wrapped variant is ever needed).

Engine shape — the big sides never row-explode:

1. segments carry their chord midpoint and a per-segment coverage
   radius ρ (degree plane): a point with metric distance ≤ d_km sits
   within d/cos(φ) degrees of the chord (the tangent-plane transform
   is affine for fixed P, so the closest chord point pulls back to the
   lon/lat chord), hence within ρ = d_deg/cos(φ_max) + L_deg/2 of the
   midpoint, with φ_max a per-segment latitude bound (endpoint lat +
   the reach itself, capped);
2. each segment scatters its midpoint's hex cell to the k-disk sized
   by ρ (hexgrid.scatter_k_for_radius — lat-adaptive, like dwithin's:
   equatorial segments pay single-digit disks);
3. points join on their own cell (one equi-join), the shared-formula
   refine keeps candidates ≤ d_km, and one per-point min picks the
   winner with a total tie-break (dist, way, seq).

The per-point winner uses min(struct(...)) — a partial-aggregable
map-side combine, not a row_number window (no second sort of the
candidate stream).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hexgrid import hex_cell_cols, hex_disk, scatter_k_col
from ..sqlgen import KM_PER_DEG

# loud cap on a segment's scatter radius in lattice cells: road-scale
# segments sit at k ≤ 2, so a longer one is a degenerate input
MAX_K = 64


def snap_dist_sql(plon: str, plat: str, ax: str, ay: str,
                  bx: str, by: str) -> str:
    """Point→segment distance in km (local-plane metric above) —
    portable text, identical in Spark SQL and DuckDB, so candidates and
    tie-breaks agree bit-for-bit."""
    cosp = f"COS(RADIANS({plat}))"
    axt = f"((({ax}) - ({plon})) * {cosp})"
    ayt = f"(({ay}) - ({plat}))"
    bxt = f"((({bx}) - ({plon})) * {cosp})"
    byt = f"(({by}) - ({plat}))"
    vx = f"({bxt} - {axt})"
    vy = f"({byt} - {ayt})"
    seg2 = f"({vx} * {vx} + {vy} * {vy})"
    t = (
        f"(CASE WHEN {seg2} = 0.0 THEN 0.0 ELSE "
        f"LEAST(1.0, GREATEST(0.0, "
        f"((0.0 - {axt}) * {vx} + (0.0 - {ayt}) * {vy}) / {seg2})) END)"
    )
    cx = f"({axt} + {t} * {vx})"
    cy = f"({ayt} + {t} * {vy})"
    return f"({KM_PER_DEG!r} * SQRT({cx} * {cx} + {cy} * {cy}))"


def snap_to_segments(points: DataFrame, segments: DataFrame, d_km: float,
                     scatter_partitions: int | None = None) -> DataFrame:
    """points(pid, lon, lat) × segments(way_id, seq, x1, y1, x2, y2) →
    (pid, way_id, seq, dist_km): each point's nearest segment with
    metric distance ≤ ``d_km`` (points with no segment in range are
    absent); ties broken by (dist_km, way_id, seq); dist rounded to
    6 decimals BEFORE the threshold/tie-break, matching the oracle.

    The hex lattice size is the degree span of 2·d_km, so typical disks
    stay small; the 85.06° cap bounds the 1/cos(lat) coverage blowup as
    in dwithin.  ``MAX_K`` is a LOUD cap
    on the per-segment scatter radius: a degenerate segment longer than
    ~MAX_K lattice cells would silently explode to a huge disk, so the
    job ABORTS (raise_error) instead — split such polylines upstream
    (road-scale segments sit at k ≤ 2 for the default lattice).

    ``scatter_partitions``: explicit hash-repartition width for the
    segment side before the scatter/candidate stage.  The candidate
    refine is compute-heavy but byte-light, and when the upstream
    segment relation arrives from a small AQE-coalesced exchange the
    whole scatter+join+refine inherits its 1-2 tasks (measured: ONE
    5.4 s task at sf0.1).  Pass e.g. ``defaultParallelism`` when the
    segment source is small; leave None when it is already wide
    (r6, guide §2.5).
    """
    d_deg = d_km / KM_PER_DEG
    s = 2.0 * d_deg
    cap_rad = math.radians(85.06)

    # per-segment coverage radius ρ in the raw degree plane
    len_deg = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    phi_m = F.least(
        F.lit(cap_rad),
        F.radians(F.greatest(F.abs(F.col("y1")), F.abs(F.col("y2")))
                  + len_deg + F.lit(d_deg)),
    )
    rho = F.lit(d_deg) / F.cos(phi_m) + len_deg / F.lit(2.0)
    k_raw = scatter_k_col(rho, s)  # per-segment radii differ
    k_col = F.when(
        k_raw > F.lit(MAX_K),
        F.raise_error(F.format_string(
            "snap_to_segments: segment way_id=%s seq=%s needs scatter "
            f"radius %s > snap.MAX_K={MAX_K} — split long segments "
            "upstream or raise snap.MAX_K", F.col("way_id"), F.col("seq"),
            k_raw.cast("string"))),
    ).otherwise(k_raw)

    mx = (F.col("x1") + F.col("x2")) / F.lit(2.0)
    my = (F.col("y1") + F.col("y2")) / F.lit(2.0)
    hq, hr = hex_cell_cols(mx, my, s)
    seg = segments.select(
        "way_id", "seq", "x1", "y1", "x2", "y2",
        hq.alias("hq"), hr.alias("hr"), k_col.alias("k"),
    )
    if scatter_partitions:
        seg = seg.repartition(scatter_partitions, "hq", "hr")
    scattered = hex_disk(seg, ["way_id", "seq", "x1", "y1", "x2", "y2"], F.col("k"))

    pq, pr = hex_cell_cols(F.col("lon"), F.col("lat"), s)
    pts = points.select("pid", "lon", "lat", pq.alias("hq"), pr.alias("hr"))

    dist = F.round(F.expr(snap_dist_sql("lon", "lat", "x1", "y1", "x2", "y2")), 6)
    cand = (
        pts.join(scattered, ["hq", "hr"])
        .withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(d_km))
    )
    best = cand.groupBy("pid").agg(
        F.min(F.struct("dist_km", "way_id", "seq")).alias("b"))
    return best.select(
        "pid", F.col("b.way_id").alias("way_id"),
        F.col("b.seq").alias("seq"), F.col("b.dist_km").alias("dist_km"),
    )
