"""Per-way geometry statistics: great-circle length, bbox, centroid.

Engine addition on the mapsplit data model: the reference stores ways
as ordered node lists and computes only their tile memberships
(MapSplit.java way pass); a geospatial analytics engine also needs the
derived geometry — polyline length (haversine over consecutive
vertices), bounding box, and vertex centroid per way — e.g. to filter
degenerate traces, weight sampling by trace length, or size tile
render budgets.

Spark-first shape: ONE shuffle.  The vertex successor comes from a
``lead()`` window over (way, seq); the per-way aggregate groups on the
window's own partition key, so Catalyst reuses the exchange (pinned in
tests/test_geometry.py).  No Python anywhere.

Float determinism: every accumulated quantity is quantized to an exact
integer first — edge lengths to millimetres, coordinates to
microdegrees (sqlgen.mm_from_km_sql / udeg_sql, shared verbatim with
the DuckDB oracle) — so sums and means are order-independent and the
gate is value-exact despite double inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import sqlgen
from ..sqlgen import KM_PER_DEG


def polyline_stats(nodes: DataFrame, way_col: str, seq_col: str,
                   lon_col: str, lat_col: str) -> DataFrame:
    """→ one row per way: (way_col, n_pts, length_mm, min_lon_u,
    max_lon_u, min_lat_u, max_lat_u, c_lon_u, c_lat_u).

    ``length_mm`` = Σ haversine(v_i, v_i+1) in integer millimetres;
    ``*_u`` columns are exact microdegrees; the centroid is the
    integer-rounded vertex mean (unweighted, matching the reference's
    node-set semantics rather than arc-length weighting)."""
    w = Window.partitionBy(way_col).orderBy("_seq")
    hav = sqlgen.haversine_sql("_lat", "_lon", "_nlat", "_nlon")
    stepped = nodes.select(
        F.col(way_col),
        F.col(seq_col).alias("_seq"),
        F.expr(lon_col).cast("double").alias("_lon"),
        F.expr(lat_col).cast("double").alias("_lat"),
    ).withColumns({
        "_nlon": F.lead("_lon").over(w),
        "_nlat": F.lead("_lat").over(w),
    }).withColumns({
        "_edge_mm": F.when(
            F.col("_nlon").isNotNull(),
            F.expr(sqlgen.mm_from_km_sql(hav)),
        ),
        "_lon_u": F.expr(sqlgen.udeg_sql("_lon")),
        "_lat_u": F.expr(sqlgen.udeg_sql("_lat")),
    })
    return stepped.groupBy(way_col).agg(
        F.count("*").cast("long").alias("n_pts"),
        F.coalesce(F.sum("_edge_mm"), F.lit(0)).cast("long").alias("length_mm"),
        F.min("_lon_u").alias("min_lon_u"),
        F.max("_lon_u").alias("max_lon_u"),
        F.min("_lat_u").alias("min_lat_u"),
        F.max("_lat_u").alias("max_lat_u"),
        F.expr("CAST(ROUND(CAST(SUM(_lon_u) AS DOUBLE) / COUNT(*), 0) AS BIGINT)")
        .alias("c_lon_u"),
        F.expr("CAST(ROUND(CAST(SUM(_lat_u) AS DOUBLE) / COUNT(*), 0) AS BIGINT)")
        .alias("c_lat_u"),
    )


def polyline_stats_sql(src: str, way_col: str, seq_col: str,
                       lon_col: str, lat_col: str) -> str:
    """The SAME computation as declarative SQL (lead() + one GROUP BY),
    generated once for the DuckDB oracle — quantization/haversine
    formula text shared with the Spark operator, relational plan
    independent."""
    hav = sqlgen.haversine_sql("_lat", "_lon", "_nlat", "_nlon")
    return f"""
WITH v AS (
  SELECT {way_col},
         CAST({lon_col} AS DOUBLE) AS _lon, CAST({lat_col} AS DOUBLE) AS _lat,
         LEAD(CAST({lon_col} AS DOUBLE)) OVER
           (PARTITION BY {way_col} ORDER BY {seq_col}) AS _nlon,
         LEAD(CAST({lat_col} AS DOUBLE)) OVER
           (PARTITION BY {way_col} ORDER BY {seq_col}) AS _nlat
  FROM {src}
),
e AS (
  SELECT {way_col}, _lon, _lat,
         CASE WHEN _nlon IS NOT NULL
              THEN {sqlgen.mm_from_km_sql(hav)} END AS _edge_mm,
         {sqlgen.udeg_sql('_lon')} AS _lon_u,
         {sqlgen.udeg_sql('_lat')} AS _lat_u
  FROM v
)
SELECT {way_col},
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       CAST(COALESCE(SUM(_edge_mm), 0) AS BIGINT) AS length_mm,
       MIN(_lon_u) AS min_lon_u, MAX(_lon_u) AS max_lon_u,
       MIN(_lat_u) AS min_lat_u, MAX(_lat_u) AS max_lat_u,
       CAST(ROUND(CAST(SUM(_lon_u) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS c_lon_u,
       CAST(ROUND(CAST(SUM(_lat_u) AS DOUBLE) / COUNT(*), 0) AS BIGINT) AS c_lat_u
FROM e GROUP BY {way_col}
"""


def trajectory_stats(events: DataFrame, user_col: str, ts_col: str,
                     id_col: str, lon_col: str, lat_col: str) -> DataFrame:
    """Per-user GPS-trace statistics — the TIME-ordered twin of
    ``polyline_stats`` (a trajectory is a polyline whose vertex order
    is the event timeline, ties broken by event id so the order — and
    therefore every step — is total and deterministic).

    → one row per user: (user_col, n_pts, n_moves, path_mm,
    max_step_mm, net_mm, duration_us, tortuosity_pct) where path_mm is
    the summed haversine step length (exact integer millimetres per
    step, so the sum is order-independent), net_mm the first→last
    displacement, duration_us the covered time span, and
    tortuosity_pct = round(100·path/net) (how far off the straight
    line the trace wanders; NULL for net = 0).

    Spark shape: ONE shuffle — lag window and groupBy share the
    user-partitioning, so Catalyst reuses the exchange (pinned in
    tests/test_hexgrid.py); endpoints come from min_by/max_by on the
    in-window row number, not a second self-join.
    """
    from .temporal import _micros

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    hav = sqlgen.haversine_sql("_plat", "_plon", "_lat", "_lon")
    net = sqlgen.haversine_sql("_alat", "_alon", "_zlat", "_zlon")
    ts_us = _micros(F.col(ts_col), events.schema[ts_col].dataType)
    stepped = events.select(
        F.col(user_col),
        F.col(ts_col), F.col(id_col), ts_us.alias("_ts_us"),
        F.expr(lon_col).cast("double").alias("_lon"),
        F.expr(lat_col).cast("double").alias("_lat"),
    ).withColumns({
        "_rn": F.row_number().over(w),
        "_plon": F.lag("_lon").over(w),
        "_plat": F.lag("_lat").over(w),
    }).withColumn(
        "_step_mm",
        F.when(F.col("_plon").isNotNull(), F.expr(sqlgen.mm_from_km_sql(hav))),
    )
    agg = stepped.groupBy(user_col).agg(
        F.count("*").cast("long").alias("n_pts"),
        F.count("_step_mm").cast("long").alias("n_moves"),
        F.coalesce(F.sum("_step_mm"), F.lit(0)).cast("long").alias("path_mm"),
        F.coalesce(F.max("_step_mm"), F.lit(0)).cast("long").alias("max_step_mm"),
        F.min_by("_lon", "_rn").alias("_alon"),
        F.min_by("_lat", "_rn").alias("_alat"),
        F.max_by("_lon", "_rn").alias("_zlon"),
        F.max_by("_lat", "_rn").alias("_zlat"),
        (F.max("_ts_us") - F.min("_ts_us")).cast("long").alias("duration_us"),
    )
    return agg.select(
        user_col, "n_pts", "n_moves", "path_mm", "max_step_mm",
        F.expr(sqlgen.mm_from_km_sql(net)).alias("net_mm"),
        "duration_us",
        F.when(
            F.expr(sqlgen.mm_from_km_sql(net)) > 0,
            F.round(F.lit(100.0) * F.col("path_mm")
                    / F.expr(sqlgen.mm_from_km_sql(net)), 0).cast("long"),
        ).alias("tortuosity_pct"),
    )


def trajectory_stats_sql(src: str, user_col: str, ts_col: str,
                         id_col: str, lon_col: str, lat_col: str) -> str:
    """DuckDB-oracle twin of ``trajectory_stats`` — shared
    haversine/quantization formula text, independent relational plan
    (DuckDB window + arg_min/arg_max endpoints on the trace-order row
    number; arg_min takes no composite key, hence the _rn CTE)."""
    hav = sqlgen.haversine_sql("_plat", "_plon", "_lat", "_lon")
    net = sqlgen.haversine_sql("_alat", "_alon", "_zlat", "_zlon")
    return f"""
WITH v AS (
  SELECT {user_col}, {ts_col} AS _ts, {id_col} AS _id,
         CAST({lon_col} AS DOUBLE) AS _lon, CAST({lat_col} AS DOUBLE) AS _lat,
         ROW_NUMBER() OVER
           (PARTITION BY {user_col} ORDER BY {ts_col}, {id_col}) AS _rn,
         LAG(CAST({lon_col} AS DOUBLE)) OVER
           (PARTITION BY {user_col} ORDER BY {ts_col}, {id_col}) AS _plon,
         LAG(CAST({lat_col} AS DOUBLE)) OVER
           (PARTITION BY {user_col} ORDER BY {ts_col}, {id_col}) AS _plat
  FROM {src}
),
e AS (
  SELECT {user_col}, _ts, _rn, _lon, _lat,
         CASE WHEN _plon IS NOT NULL
              THEN {sqlgen.mm_from_km_sql(hav)} END AS _step_mm
  FROM v
),
a AS (
  SELECT {user_col},
         CAST(COUNT(*) AS BIGINT) AS n_pts,
         CAST(COUNT(_step_mm) AS BIGINT) AS n_moves,
         CAST(COALESCE(SUM(_step_mm), 0) AS BIGINT) AS path_mm,
         CAST(COALESCE(MAX(_step_mm), 0) AS BIGINT) AS max_step_mm,
         ARG_MIN(_lon, _rn) AS _alon,
         ARG_MIN(_lat, _rn) AS _alat,
         ARG_MAX(_lon, _rn) AS _zlon,
         ARG_MAX(_lat, _rn) AS _zlat,
         CAST(EPOCH_US(MAX(_ts)) - EPOCH_US(MIN(_ts)) AS BIGINT) AS duration_us
  FROM e GROUP BY {user_col}
)
SELECT {user_col}, n_pts, n_moves, path_mm, max_step_mm,
       {sqlgen.mm_from_km_sql(net)} AS net_mm,
       duration_us,
       CASE WHEN {sqlgen.mm_from_km_sql(net)} > 0
            THEN CAST(ROUND(100.0 * path_mm / {sqlgen.mm_from_km_sql(net)}, 0) AS BIGINT)
       END AS tortuosity_pct
FROM a
"""


def ring_stats(nodes: DataFrame, way_col: str, seq_col: str,
               lon_col: str, lat_col: str) -> DataFrame:
    """Closed-ring polygon statistics — the CLOSED complement of
    ``polyline_stats``: each way's vertex list is treated as a ring
    (the closing edge last→first is implicit, OSM-style), yielding

    → (way_col, n_pts, perim_mm, area2_u9, winding, area_km2):
    perimeter INCLUDING the closing edge (exact integer mm per edge),
    the signed shoelace double-area in deg²·1e9 (each cross term
    quantized to an exact integer BEFORE the sum, so the accumulation
    is order-independent — the mm/µdeg pattern), winding (+1 CCW /
    −1 CW / 0 degenerate), and the equirectangular-scaled area in km²
    (|area2|/2 · KM_PER_DEG² · cos(mean lat) — the local-plane
    approximation, the module's stated metric; exact spherical excess
    is a documented refinement, not needed for parity since the oracle
    evaluates the same text over the same exact integers).

    One shuffle: lead(), the wrap-around first_value(), and the
    aggregate all share the way partitioning (exchange reuse, pinned
    in tests/test_snap_raster.py).
    """
    w = Window.partitionBy(way_col).orderBy("_seq")
    hav = sqlgen.haversine_sql("_lat", "_lon", "_nlat", "_nlon")
    cross_u9 = ("CAST(ROUND((_lon * _nlat - _nlon * _lat) "
                "* 1000000000, 0) AS BIGINT)")
    stepped = nodes.select(
        F.col(way_col),
        F.col(seq_col).alias("_seq"),
        F.expr(lon_col).cast("double").alias("_lon"),
        F.expr(lat_col).cast("double").alias("_lat"),
    ).withColumns({
        "_nlon": F.coalesce(F.lead("_lon").over(w), F.first("_lon").over(w)),
        "_nlat": F.coalesce(F.lead("_lat").over(w), F.first("_lat").over(w)),
    }).withColumns({
        "_edge_mm": F.expr(sqlgen.mm_from_km_sql(hav)),
        "_cross_u9": F.expr(cross_u9),
        "_lat_u": F.expr(sqlgen.udeg_sql("_lat")),
    })
    agg = stepped.groupBy(way_col).agg(
        F.count("*").cast("long").alias("n_pts"),
        F.sum("_edge_mm").cast("long").alias("perim_mm"),
        F.sum("_cross_u9").cast("long").alias("area2_u9"),
        F.expr("CAST(SUM(_lat_u) AS DOUBLE) / COUNT(*) / 1000000.0")
        .alias("_clat"),
    )
    k2 = KM_PER_DEG * KM_PER_DEG
    return agg.select(
        way_col, "n_pts", "perim_mm", "area2_u9",
        F.signum("area2_u9").cast("int").alias("winding"),
        F.expr(f"ROUND(ABS(area2_u9) / 2.0e9 * {k2!r} * "
               f"COS(RADIANS(_clat)), 4)").alias("area_km2"),
    )


def ring_stats_sql(src: str, way_col: str, seq_col: str,
                   lon_col: str, lat_col: str) -> str:
    """DuckDB-oracle twin of ``ring_stats`` — shared quantized-edge
    formula text, declarative window restatement."""
    hav = sqlgen.haversine_sql("_lat", "_lon", "_nlat", "_nlon")
    cross_u9 = ("CAST(ROUND((_lon * _nlat - _nlon * _lat) "
                "* 1000000000, 0) AS BIGINT)")
    k2 = KM_PER_DEG * KM_PER_DEG
    return f"""
WITH v AS (
  SELECT {way_col},
         CAST({lon_col} AS DOUBLE) AS _lon, CAST({lat_col} AS DOUBLE) AS _lat,
         COALESCE(LEAD(CAST({lon_col} AS DOUBLE)) OVER wv,
                  FIRST_VALUE(CAST({lon_col} AS DOUBLE)) OVER wv) AS _nlon,
         COALESCE(LEAD(CAST({lat_col} AS DOUBLE)) OVER wv,
                  FIRST_VALUE(CAST({lat_col} AS DOUBLE)) OVER wv) AS _nlat
  FROM {src}
  WINDOW wv AS (PARTITION BY {way_col} ORDER BY {seq_col})
),
e AS (
  SELECT {way_col},
         {sqlgen.mm_from_km_sql(hav)} AS _edge_mm,
         {cross_u9} AS _cross_u9,
         {sqlgen.udeg_sql('_lat')} AS _lat_u
  FROM v
),
a AS (
  SELECT {way_col},
         CAST(COUNT(*) AS BIGINT) AS n_pts,
         CAST(SUM(_edge_mm) AS BIGINT) AS perim_mm,
         CAST(SUM(_cross_u9) AS BIGINT) AS area2_u9,
         CAST(SUM(_lat_u) AS DOUBLE) / COUNT(*) / 1000000.0 AS _clat
  FROM e GROUP BY {way_col}
)
SELECT {way_col}, n_pts, perim_mm, area2_u9,
       CAST(SIGN(area2_u9) AS INT) AS winding,
       ROUND(ABS(area2_u9) / 2.0e9 * {k2!r} * COS(RADIANS(_clat)), 4) AS area_km2
FROM a
"""


def _bearing_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Initial great-circle bearing (radians, −π..π) — the standard
    forward-azimuth formula; portable text shared with the oracle."""
    dl = f"RADIANS(({lon2}) - ({lon1}))"
    return (
        f"ATAN2(SIN({dl}) * COS(RADIANS({lat2})), "
        f"COS(RADIANS({lat1})) * SIN(RADIANS({lat2})) - "
        f"SIN(RADIANS({lat1})) * COS(RADIANS({lat2})) * COS({dl}))"
    )


def heading_stats(events: DataFrame, user_col: str, ts_col: str,
                  id_col: str, lon_col: str, lat_col: str) -> DataFrame:
    """Circular statistics of each user's movement directions —
    → (user_col, n_moves, mean_bearing_deg, resultant_pct): the
    circular mean of the per-step forward azimuths and the resultant
    length R·100 (100 = every step due the same way, 0 = directions
    cancel; the standard directedness measure for traces).

    Circular means are atan2 of SUMS of sines/cosines — float sums, so
    each sin/cos is quantized to an exact 1e9 integer per step (the
    mm/µdeg pattern) and the atan2/hypot run on the exact sums:
    order-independent, bit-identical across engines.  Users with zero
    moves (single-point traces) are absent — the circular mean of an
    empty direction set is undefined, not 0.  One shuffle (lag window
    + groupBy share the user key)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    brg = _bearing_sql("_plat", "_plon", "_lat", "_lon")
    stepped = events.select(
        F.col(user_col), F.col(ts_col), F.col(id_col),
        F.expr(lon_col).cast("double").alias("_lon"),
        F.expr(lat_col).cast("double").alias("_lat"),
    ).withColumns({
        "_plon": F.lag("_lon").over(w),
        "_plat": F.lag("_lat").over(w),
    }).filter(F.col("_plon").isNotNull()).withColumns({
        "_s_u9": F.expr(f"CAST(ROUND(SIN({brg}) * 1000000000, 0) AS BIGINT)"),
        "_c_u9": F.expr(f"CAST(ROUND(COS({brg}) * 1000000000, 0) AS BIGINT)"),
    })
    return stepped.groupBy(user_col).agg(
        F.count("*").cast("long").alias("n_moves"),
        F.expr("ROUND(DEGREES(ATAN2(CAST(SUM(_s_u9) AS DOUBLE), "
               "CAST(SUM(_c_u9) AS DOUBLE))), 4)").alias("mean_bearing_deg"),
        F.expr("ROUND(SQRT(POWER(CAST(SUM(_s_u9) AS DOUBLE), 2) + "
               "POWER(CAST(SUM(_c_u9) AS DOUBLE), 2)) "
               "/ COUNT(*) / 10000000.0, 4)").alias("resultant_pct"),
    )


def heading_stats_sql(src: str, user_col: str, ts_col: str,
                      id_col: str, lon_col: str, lat_col: str) -> str:
    """DuckDB-oracle twin of ``heading_stats`` — shared bearing /
    quantization text, declarative restatement."""
    brg = _bearing_sql("_plat", "_plon", "_lat", "_lon")
    return f"""
WITH v AS (
  SELECT {user_col},
         CAST({lon_col} AS DOUBLE) AS _lon, CAST({lat_col} AS DOUBLE) AS _lat,
         LAG(CAST({lon_col} AS DOUBLE)) OVER w AS _plon,
         LAG(CAST({lat_col} AS DOUBLE)) OVER w AS _plat
  FROM {src}
  WINDOW w AS (PARTITION BY {user_col} ORDER BY {ts_col}, {id_col})
),
e AS (
  SELECT {user_col},
         CAST(ROUND(SIN({brg}) * 1000000000, 0) AS BIGINT) AS _s_u9,
         CAST(ROUND(COS({brg}) * 1000000000, 0) AS BIGINT) AS _c_u9
  FROM v WHERE _plon IS NOT NULL
)
SELECT {user_col},
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       ROUND(DEGREES(ATAN2(CAST(SUM(_s_u9) AS DOUBLE),
                           CAST(SUM(_c_u9) AS DOUBLE))), 4) AS mean_bearing_deg,
       ROUND(SQRT(POWER(CAST(SUM(_s_u9) AS DOUBLE), 2) +
                  POWER(CAST(SUM(_c_u9) AS DOUBLE), 2))
             / COUNT(*) / 10000000.0, 4) AS resultant_pct
FROM e GROUP BY {user_col}
"""


def tile_flows(events: DataFrame, user_col: str, ts_col: str,
               id_col: str, lon_col: str, lat_col: str,
               zoom: int) -> DataFrame:
    """Origin→destination tile flows — the flow-map / OD-matrix
    aggregation: each user's consecutive event pair contributes one
    move from its previous tile to its current tile at ``zoom``.

    → (from_x, from_y, to_x, to_y, n_moves, n_users): move count and
    distinct movers per directed tile pair (self-loops included — a
    dwell is a flow the reader filters, not a dropped row).

    Two shuffles by construction (the OD key is not the user key):
    the per-user lag window, then the partial-aggregated groupBy on
    the flow key; tile assignment itself is map-side column math.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    tx = sqlgen.lon2tx_sql("_lon", zoom)
    ty = sqlgen.lat2ty_sql("_lat", zoom)
    stepped = events.select(
        F.col(user_col),
        F.col(ts_col), F.col(id_col),
        F.expr(lon_col).cast("double").alias("_lon"),
        F.expr(lat_col).cast("double").alias("_lat"),
    ).withColumns({
        "_tx": F.expr(tx), "_ty": F.expr(ty),
    }).withColumns({
        "from_x": F.lag("_tx").over(w),
        "from_y": F.lag("_ty").over(w),
    }).filter(F.col("from_x").isNotNull())
    return stepped.groupBy(
        "from_x", "from_y",
        F.col("_tx").alias("to_x"), F.col("_ty").alias("to_y"),
    ).agg(
        F.count("*").cast("long").alias("n_moves"),
        F.countDistinct(user_col).cast("long").alias("n_users"),
    )


def tile_flows_sql(src: str, user_col: str, ts_col: str, id_col: str,
                   lon_col: str, lat_col: str, zoom: int) -> str:
    """DuckDB-oracle twin of ``tile_flows`` (shared tile-math text)."""
    tx = sqlgen.lon2tx_sql("_lon", zoom)
    ty = sqlgen.lat2ty_sql("_lat", zoom)
    return f"""
WITH t AS (
  SELECT {user_col}, {tx} AS _tx, {ty} AS _ty,
         LAG({tx}) OVER w AS from_x, LAG({ty}) OVER w AS from_y
  FROM (
    SELECT {user_col}, {ts_col} AS _ts, {id_col} AS _id,
           CAST({lon_col} AS DOUBLE) AS _lon, CAST({lat_col} AS DOUBLE) AS _lat
    FROM {src}
  ) b
  WINDOW w AS (PARTITION BY {user_col} ORDER BY _ts, _id)
)
SELECT from_x, from_y, _tx AS to_x, _ty AS to_y,
       CAST(COUNT(*) AS BIGINT) AS n_moves,
       CAST(COUNT(DISTINCT {user_col}) AS BIGINT) AS n_users
FROM t WHERE from_x IS NOT NULL
GROUP BY from_x, from_y, _tx, _ty
"""


def gps_spikes(events: DataFrame, user_col: str, ts_col: str,
               id_col: str, lon_col: str, lat_col: str,
               max_kmh: float = 1000.0) -> DataFrame:
    """Implausible-speed step detection — the trace-cleaning pass a
    training pipeline runs before trusting geo labels: a step whose
    implied speed exceeds ``max_kmh`` marks its arrival event as a
    spike (teleport / corrupted fix).

    → (user_col, event_id, step_mm, dt_us, speed_kmh): one row per
    flagged step; speed is computed from the EXACT integer step length
    (mm) and duration (µs) — speed_kmh = step_mm · 3600 / dt_us,
    rounded to 4 — so the flag threshold is bit-identical across
    engines.  Zero-duration steps with any movement are spikes by
    definition (infinite speed); zero-duration zero-movement steps are
    not.  One shuffle (the user window)."""
    from .temporal import _micros

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    hav = sqlgen.haversine_sql("_plat", "_plon", "_lat", "_lon")
    ts_us = _micros(F.col(ts_col), events.schema[ts_col].dataType)
    stepped = events.select(
        F.col(user_col), F.col(ts_col), F.col(id_col),
        ts_us.alias("_ts_us"),
        F.expr(lon_col).cast("double").alias("_lon"),
        F.expr(lat_col).cast("double").alias("_lat"),
    ).withColumns({
        "_plon": F.lag("_lon").over(w),
        "_plat": F.lag("_lat").over(w),
        "_pts": F.lag("_ts_us").over(w),
    }).filter(F.col("_plon").isNotNull()).withColumns({
        "step_mm": F.expr(sqlgen.mm_from_km_sql(hav)),
        "dt_us": (F.col("_ts_us") - F.col("_pts")).cast("long"),
    })
    speed = F.round(F.col("step_mm") * F.lit(3600.0) / F.col("dt_us"), 4)
    return stepped.filter(
        ((F.col("dt_us") > 0) & (speed > F.lit(max_kmh)))
        | ((F.col("dt_us") <= 0) & (F.col("step_mm") > 0))
    ).select(
        user_col, F.col(id_col).alias("event_id"), "step_mm", "dt_us",
        F.when(F.col("dt_us") > 0, speed).alias("speed_kmh"),
    )


def gps_spikes_sql(src: str, user_col: str, ts_col: str, id_col: str,
                   lon_col: str, lat_col: str,
                   max_kmh: float = 1000.0) -> str:
    """DuckDB-oracle twin of ``gps_spikes`` (shared step/speed text)."""
    hav = sqlgen.haversine_sql("_plat", "_plon", "_lat", "_lon")
    return f"""
WITH v AS (
  SELECT {user_col}, {id_col} AS _id, EPOCH_US({ts_col}) AS _ts_us,
         CAST({lon_col} AS DOUBLE) AS _lon, CAST({lat_col} AS DOUBLE) AS _lat,
         LAG(CAST({lon_col} AS DOUBLE)) OVER w AS _plon,
         LAG(CAST({lat_col} AS DOUBLE)) OVER w AS _plat,
         LAG(EPOCH_US({ts_col})) OVER w AS _pts
  FROM {src}
  WINDOW w AS (PARTITION BY {user_col} ORDER BY {ts_col}, {id_col})
),
e AS (
  SELECT {user_col}, _id,
         {sqlgen.mm_from_km_sql(hav)} AS step_mm,
         CAST(_ts_us - _pts AS BIGINT) AS dt_us
  FROM v WHERE _plon IS NOT NULL
)
SELECT {user_col}, _id AS event_id, step_mm, dt_us,
       CASE WHEN dt_us > 0
            THEN ROUND(step_mm * 3600.0 / dt_us, 4) END AS speed_kmh
FROM e
WHERE (dt_us > 0 AND ROUND(step_mm * 3600.0 / dt_us, 4) > {max_kmh!r})
   OR (dt_us <= 0 AND step_mm > 0)
"""
