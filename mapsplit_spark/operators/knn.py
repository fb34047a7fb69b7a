"""kNN lookup — engine addition mandated by BASELINE.json north_star
(no reference analog; SURVEY.md §2.3 "new surface").

* ``knn_bruteforce`` — exact: query-set × points cross join (query set
  broadcast — it is small by definition) + haversine + per-query top-k
  window.  The baseline and the oracle-checkable path.
* ``knn_tiled`` / ``knn_tiled_stored`` — scale path: candidates
  restricted to the query's tile k-ring (quadtree analog of an H3
  k-ring) before the exact haversine re-rank.  Turns the O(Q×N) cross
  join into a range-pruned join on the tile: at 100 TB the points side
  is stored keyed on the z16 curve (``sinks.zorder``), so a level reads
  only the key intervals of its (2r+1)² ring tiles per query.  Both
  build candidates through one probe (``_tile_ring_probe``); they
  differ only in where a level's points come from (the in-memory frame
  or the stored layout).
* ``knn_hex`` — the same contract on the hex lattice (k-disks).

Scale-correctness details of the tiled path:

* the points side is assigned ONCE with its coordinates carried through
  ``keep_cols`` — no self-join back to the table to recover p_lon/p_lat
  (that join would shuffle the big side a second time);
* ring x wraps modulo 2^zoom so queries near lon ±180 see candidates on
  the other side of the antimeridian seam; ring y is clamped to
  [0, 2^zoom) (there is nothing beyond the Mercator poles);
* coverage escalation, the only mode of all three scale paths
  (``_coverage_ladder``): a query's top-k is accepted only when its
  k-th candidate distance is PROVABLY inside the probed ring — i.e.
  ≤ a conservative lower bound on the distance from the query to the
  ring's boundary (meridian / parallel great-circle bounds).  Unproven
  queries (sparse oceans at 100× density variance) re-probe at
  progressively coarser zooms (ring area ×4 per step) and finally fall
  back to exact brute force — so the scale paths return the exact
  top-k at every density, and the expensive fallback only ever sees
  the few queries the ladder could not prove.  The ladder runs Spark
  jobs EAGERLY at call time (each level's accept decision needs that
  level's coverage proof).
"""

from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import sqlgen
from ..hexgrid import covered_radius_deg, hex_cell_cols, hex_disk
from ..sinks import zorder
from ..sqlgen import EARTH_R_KM
from .assign import assign_tiles, tile_window
from .iterate import checkpoint_count, fixed_point
from .pyramid import ancestor_tiles

_FAR_KM = 1.0e9  # "side fully covered" sentinel (wraps / poles)
# knn_hex's disk ladder: radii K0·2^i up to K_MAX, then brute force
K0 = 1
K_MAX = 8


def _ranked(joined: DataFrame, k: int) -> DataFrame:
    dist = F.expr(sqlgen.haversine_sql("q_lat", "q_lon", "p_lat", "p_lon"))
    w = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(), F.col("point_id").asc())
    return (
        joined.withColumn("dist_km", F.round(dist, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "point_id", "dist_km")
    )


def knn_bruteforce(queries: DataFrame, points: DataFrame, k: int = 5) -> DataFrame:
    """queries(query_id, q_lon, q_lat) × points(point_id, p_lon, p_lat)
    → (query_id, rank, point_id, dist_km); deterministic ties by id."""
    return _ranked(F.broadcast(queries).crossJoin(points), k)


def _tiled_points(points: DataFrame, zoom: int) -> DataFrame:
    return assign_tiles(
        points, "point_id", "p_lon", "p_lat", zoom,
        keep_cols=["p_lon", "p_lat"],
    ).select(F.col("element_id").alias("point_id"), "p_lon", "p_lat", "tile_x", "tile_y")


def _coarsen_tiles(pt_base: DataFrame, d: int) -> DataFrame:
    """Zoom z−d tiles derived from the base assignment by BIT-SHIFT
    (``pyramid.ancestor_tiles``, clamping included) — escalation levels
    never re-scan or re-project the points table; the only new
    expression is the shift itself (pinned by tests/test_knn.py)."""
    if d == 0:
        return pt_base
    return pt_base.select("point_id", "p_lon", "p_lat", *ancestor_tiles(d))


def _query_tiles(queries: DataFrame, zoom: int) -> DataFrame:
    return assign_tiles(
        queries, "query_id", "q_lon", "q_lat", zoom,
        keep_cols=["q_lon", "q_lat"],
    ).select(F.col("element_id").alias("query_id"), "q_lon", "q_lat", "tile_x", "tile_y")


def _ring_tiles(qt: DataFrame, zoom: int, ring: int,
                keep: list[str]) -> DataFrame:
    """Each query tile's (2·ring+1)² ring (``assign.tile_window``): x
    wraps at the antimeridian, y clamps to the Mercator domain.
    → (*keep, tile_x, tile_y), distinct per query."""
    return tile_window(qt, keep, ring, zoom, wrap_x=True)


def _coverage_radius_km(qt: DataFrame, zoom: int, ring: int) -> DataFrame:
    """Per query: a conservative LOWER bound (km) on the distance from
    the query point to the probed ring's boundary.  Any neighbour closer
    than this provably lies inside the ring, so a top-k whose k-th
    distance is below it is exact.

    Bounds used (never overestimate):
    * west/east tile edges: great-circle distance to the full meridian,
      R·asin(cos φ · |sin Δλ|) — ≤ distance to the finite edge segment;
    * north/south edges: R·|Δφ| along the meridian — the true minimum
      to the full parallel;
    * a side that wraps the world / hits a pole is fully covered (_FAR_KM).
    """
    n = 1 << zoom
    lon_w = sqlgen.tile2lon_sql(f"tile_x - {ring}", zoom)
    lon_e = sqlgen.tile2lon_sql(f"tile_x + {ring + 1}", zoom)
    lat_n = sqlgen.tile2lat_sql(f"tile_y - {ring}", zoom)
    lat_s = sqlgen.tile2lat_sql(f"tile_y + {ring + 1}", zoom)

    def meridian_km(lon_b: str):
        return (
            f"{EARTH_R_KM!r} * ASIN(LEAST(1.0, COS(RADIANS(q_lat)) * "
            f"ABS(SIN(RADIANS(q_lon - ({lon_b})))))"
            ")"
        )

    def parallel_km(lat_b: str):
        return f"{EARTH_R_KM!r} * RADIANS(ABS(q_lat - ({lat_b})))"

    if 2 * ring + 1 >= n:
        lon_cov = F.lit(_FAR_KM)
    else:
        lon_cov = F.least(F.expr(meridian_km(lon_w)), F.expr(meridian_km(lon_e)))
    north_cov = F.when(F.col("tile_y") - ring <= 0, F.lit(_FAR_KM)) \
        .otherwise(F.expr(parallel_km(lat_n)))
    south_cov = F.when(F.col("tile_y") + ring >= n - 1, F.lit(_FAR_KM)) \
        .otherwise(F.expr(parallel_km(lat_s)))
    return qt.select(
        "query_id", F.least(lon_cov, north_cov, south_cov).alias("cov_km")
    )


def _proven(ranked: DataFrame, coverage: DataFrame, k: int) -> DataFrame:
    """Query ids whose ring top-k is provably exact: k candidates AND
    k-th distance strictly inside the coverage radius."""
    stats = ranked.groupBy("query_id").agg(
        F.count("*").alias("n_cand"), F.max("dist_km").alias("d_k")
    )
    return (
        stats.join(coverage, "query_id")
        .filter((F.col("n_cand") >= k) & (F.col("d_k") < F.col("cov_km")))
        .select("query_id")
    )


def _coverage_ladder(queries: DataFrame, levels: list, probe, fallback,
                     k: int) -> DataFrame:
    """The exact-top-k escalation shared by the kNN scale paths.
    ``probe(pending, level)`` → (candidate pairs, per-query ``cov_km``);
    level by level, queries whose top-k is provably inside their coverage
    (``_proven``) are accepted and the rest re-probe at the next level;
    ``fallback(pending)`` answers what the last level leaves.  Eager: per
    level, ranked candidates and the pending set are checkpointed, the
    pending count observed on its checkpoint.  The checkpointed
    intermediates backing the result are context-cleaned once the
    caller drops its reference (localCheckpoint blocks are GC-managed,
    not pinned)."""
    pending = queries.select("query_id", "q_lon", "q_lat")

    def level(i, state):
        pending, results = state
        if i == len(levels):  # exact tail for what no level could prove
            return (pending, results + [fallback(pending)]), 0
        cands, coverage = probe(pending, levels[i])
        ranked = _ranked(cands, k).localCheckpoint(eager=True)  # read twice below
        proven = F.broadcast(_proven(ranked, coverage, k))
        pending, n = checkpoint_count(pending.join(proven, "query_id", "left_anti"))
        return (pending, results + [ranked.join(proven, "query_id", "left_semi")]), n

    _, results = fixed_point("knn coverage ladder", level, (pending, []),
                             len(levels) + 1, "the ladder's level count")
    return reduce(DataFrame.unionByName, results)


def _tile_ring_probe(pending: DataFrame, z: int, zoom: int, ring: int,
                     points_at) -> tuple[DataFrame, DataFrame]:
    """The probe of both tiled ladders at zoom ``z`` ≤ base ``zoom``:
    the pending queries' ring tiles (broadcast — the query side is small
    by definition) ⋈ ``points_at(ringed, zoom − z)``, the points with
    their tiles at zoom z.  → (query_id, q_lon, q_lat, point_id, p_lon,
    p_lat) candidates and the per-query ``cov_km``.  A (query, point)
    pair joins at most once, with no dedup: ``_ring_tiles`` makes
    (query, tile) distinct and each point has one tile at zoom z."""
    qt = _query_tiles(pending, z)
    ringed = _ring_tiles(qt, z, ring, ["query_id", "q_lon", "q_lat"])
    cands = F.broadcast(ringed).join(points_at(ringed, zoom - z), ["tile_x", "tile_y"])
    return (
        cands.select("query_id", "q_lon", "q_lat", "point_id", "p_lon", "p_lat"),
        _coverage_radius_km(qt, z, ring),
    )


def knn_tiled(queries: DataFrame, points: DataFrame, zoom: int, ring: int = 1,
              k: int = 5) -> DataFrame:
    """Tile-ring candidate generation + exact haversine re-rank.

    Each query expands to its (2·ring+1)² surrounding tiles (H3 k-ring
    analog on the slippy quadtree); points carry their base tile; the
    join hits only ring tiles.  With the points side stored keyed by
    tile (``knn_tiled_stored``) this is a range-pruned join, not a cross
    join.

    The result is EXACT at any density: each query's top-k is accepted
    only when provably covered by its ring (see ``_coverage_radius_km``);
    unproven queries walk coarser zooms down to zoom 0 (ring area ×4
    per step) and finally fall back to brute force — by construction
    the fallback set is tiny (the few sparse-region queries).  There is
    no single-probe mode: the call runs the ladder's Spark jobs EAGERLY
    (two localCheckpoints per zoom reached).
    """
    # assign the big points side ONCE at the base zoom; coarser levels
    # derive by bit-shift (quadtree nesting: floor(v·2^(z−d)) ==
    # floor(v·2^z) >> d, clamping included) — escalation never rescans
    # or re-projects the points table
    pt_base = _tiled_points(points, zoom)
    probe = partial(_tile_ring_probe, zoom=zoom, ring=ring,
                    points_at=lambda _, d: _coarsen_tiles(pt_base, d))
    return _coverage_ladder(
        queries, list(range(zoom, -1, -1)), probe,
        lambda pending: knn_bruteforce(pending, points, k), k,
    )


def _stored_points_at(pts: DataFrame, zoom: int, ringed: DataFrame,
                      d: int) -> DataFrame:
    """A ladder level's points from the stored layout ``pts``
    (``sinks.zorder.write_tiles``): the level's ring tiles at zoom
    z = base − d are collected (the query side is small by definition),
    each is one aligned key interval (``zorder.tile_key_range``), and
    the merged, capped intervals filter the cell directories and the key
    column (``zorder.key_range_filter``); tiles are coarsened by
    bit-shift to zoom z for the ring join, which re-checks exact tiles."""
    z = zoom - d
    tiles = ringed.select("tile_x", "tile_y").distinct().collect()
    ranges = zorder.merge_ranges(
        [zorder.tile_key_range(r.tile_x, r.tile_y, z) for r in tiles])
    return _coarsen_tiles(
        zorder.key_range_filter(pts, ranges)
        .select("point_id", "p_lon", "p_lat", "tile_x", "tile_y"), d
    )


def knn_tiled_stored(queries: DataFrame, points_path: str, zoom: int,
                     ring: int = 1, k: int = 5) -> DataFrame:
    """kNN over the stored tile layout (``sinks.zorder.write_tiles``:
    parquet keyed on the z16 curve, one directory per z4 cell) — the
    100 TB read path: each level reads only the key intervals of the
    pending queries' ring tiles, pruned to their cell directories at
    planning time and to their key ranges in the parquet scan, and only
    then does the ring equi-join + exact re-rank run.

    The stored path walks the SAME coverage-proof ladder and the same
    probe as ``knn_tiled``: a query's top-k is accepted only when
    provably inside its probed ring; unproven queries re-probe at
    coarser zooms, where a coarse ring tile's key interval holds all its
    base-zoom descendants.  Exact at any density, by the same argument,
    and eager like ``knn_tiled``.

    The stored layout must carry (point_id, p_lon, p_lat, tile_x,
    tile_y) at the BASE zoom; coarser levels derive tiles by bit-shift
    (quadtree nesting), never re-projecting the stored rows.
    """
    pts = queries.sparkSession.read.parquet(points_path)
    probe = partial(_tile_ring_probe, zoom=zoom, ring=ring,
                    points_at=partial(_stored_points_at, pts, zoom))
    return _coverage_ladder(
        queries, list(range(zoom, -1, -1)), probe,
        lambda pending: knn_bruteforce(
            pending, pts.select("point_id", "p_lon", "p_lat"), k), k,
    )


# ---------------------------------------------------------------------------
# Hex-lattice kNN — the H3 "kRing candidate generation + exact haversine
# re-rank" named by the north star, on the engine's hex lattice
# (hexgrid.py) instead of the slippy quadtree.  Same exactness contract
# as knn_tiled: accept a query's top-k only when PROVABLY covered,
# escalate the disk radius otherwise, brute-force the unprovable tail.


def _hex_assigned(df: DataFrame, id_out: str, lon: str, lat: str,
                  s_deg: float) -> DataFrame:
    q, r = hex_cell_cols(F.col(lon), F.col(lat), s_deg)
    return df.select(
        F.col(df.columns[0]).alias(id_out), lon, lat,
        q.alias("hq"), r.alias("hr"),
    )


def _hex_coverage_km(qt: DataFrame, k: int, s_deg: float) -> DataFrame:
    """Per query: a conservative lower bound (km) on the ground distance
    to any point OUTSIDE the probed k-disk.

    Chain of bounds (each step conservative):
    * degree plane: every point within ρ = hexgrid.covered_radius_deg(k, s)
      of the query is in a disk cell (lattice geometry, validated in
      tests/test_hexgrid.py) — so every UNPROBED point lies outside the
      axis-aligned square of half-side ρ/√2 inscribed in that disk;
    * ground: a point beyond the square's west/east edge is beyond that
      edge's meridian — distance ≥ R·asin(cos φ_q · |sin Δλ|) (exact
      distance to the full great circle); beyond the north/south edge —
      ≥ R·|Δφ| to the parallel;
    * a square crossing the antimeridian gets lon coverage 0 (the hex
      lattice does not wrap, so cross-seam neighbours are never probed:
      those queries must escalate to the brute-force tail — a ~ρ/360
      fraction); a square swallowing a pole has that side fully covered
      (no points beyond the pole).
    """
    rho = covered_radius_deg(k, s_deg)
    if rho <= 0:  # k=0 disks guarantee nothing — the bound below would
        raise ValueError("coverage proof needs disk radius k >= 1")
    half = rho / float(2 ** 0.5)
    meridian = (
        f"{EARTH_R_KM!r} * ASIN(LEAST(1.0, COS(RADIANS(q_lat)) * "
        f"ABS(SIN(RADIANS({half!r})))))"
    )
    lon_cov = F.when(F.abs(F.col("q_lon")) + F.lit(half) > 180.0, F.lit(0.0)) \
        .otherwise(F.expr(meridian))
    parallel = F.lit(EARTH_R_KM) * F.radians(F.lit(half))
    north_cov = F.when(F.col("q_lat") + F.lit(half) >= 90.0, F.lit(_FAR_KM)) \
        .otherwise(parallel)
    south_cov = F.when(F.col("q_lat") - F.lit(half) <= -90.0, F.lit(_FAR_KM)) \
        .otherwise(parallel)
    return qt.select(
        "query_id", F.least(lon_cov, north_cov, south_cov).alias("cov_km")
    )


def _hex_probe(pending: DataFrame, kk: int, pt: DataFrame,
               s_deg: float) -> tuple[DataFrame, DataFrame]:
    """The hex ladder's probe at disk radius ``kk``: the pending queries'
    exploded k-disks (broadcast — the query side is small by definition)
    ⋈ the hex-assigned points ``pt`` → (candidate pairs, per-query
    ``cov_km``)."""
    qt = _hex_assigned(pending, "query_id", "q_lon", "q_lat", s_deg)
    cells = hex_disk(qt, ["query_id", "q_lon", "q_lat"], kk)
    cands = F.broadcast(cells).join(pt, ["hq", "hr"]).select(
        "query_id", "q_lon", "q_lat", "point_id", "p_lon", "p_lat"
    )
    return cands, _hex_coverage_km(qt, kk, s_deg)


def knn_hex(queries: DataFrame, points: DataFrame, s_deg: float,
            k: int = 5) -> DataFrame:
    """Hex k-disk candidate generation + exact haversine re-rank.

    queries(query_id, q_lon, q_lat) × points(point_id, p_lon, p_lat) →
    (query_id, rank, point_id, dist_km): the exact top-k at any density.

    The points side is hex-assigned ONCE (the lattice is fixed —
    escalation grows the probed DISK, never re-projects the big table,
    the same no-rescan property the quadtree ladder gets from bit-shift
    coarsening); each level joins the pending queries' exploded k-disk
    (broadcast — query side is small by definition) against the point
    cells, re-ranks by exact haversine, and accepts only queries whose
    k-th distance is provably inside the disk (``_hex_coverage_km``).
    Unproven queries escalate the disk radius from ``K0`` ×2 up to
    ``K_MAX``, then fall back to brute force (sparse regions + the
    antimeridian seam, which the non-wrapping lattice never covers).

    Like knn_tiled there is no single-probe mode: the call runs the
    ladder's Spark jobs eagerly (the per-level accept decision needs
    each level's coverage proof).
    """
    pt = _hex_assigned(points.select("point_id", "p_lon", "p_lat"),
                       "point_id", "p_lon", "p_lat", s_deg)
    levels = [K0 << i for i in range(max(K_MAX // K0, 0).bit_length())]  # K0·2^i ≤ K_MAX
    return _coverage_ladder(queries, levels,
                            partial(_hex_probe, pt=pt, s_deg=s_deg),
                            lambda pending: knn_bruteforce(pending, points, k), k)
