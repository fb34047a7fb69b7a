"""IDW spatial interpolation onto the tile grid — raster surface
estimation from point samples (inverse-distance-weighted mean), the
write-side complement of the focal/zonal raster operators.

Engine shape — the INVERTED kernel again (focal.py's trick): instead
of each grid cell GATHERING the samples of its (2r+1)² neighborhood
(an 8-way inequality self-join), each SAMPLE scatters map-side to the
(2r+1)² target cells it influences (grid-clamped before the shuffle),
and ONE partially-aggregated groupBy folds the weighted sums per cell
— one Exchange at any radius, no Python.

Float determinism (the mm/µdeg pattern): IDW is a quotient of float
sums, which are order-dependent — so both factors are quantized to
exact integers per (sample, cell) pair BEFORE aggregation: the weight
w = round(1e12 / (d_km² + 1)) (the +1 regularizer also caps the
weight of a sample sitting exactly on a center) and the sample value
at 2 decimals (×100).  The final estimate divides the two exact sums
as doubles — identical text, identical result in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlgen
from .assign import assign_tiles, tile_window

# exact decimal quantizer of the sample value, shared by the engine and
# its oracle twin (100 ⇒ 2 decimals survive exactly)
VALUE_SCALE = 100


def idw_weight_sql(d_km: str) -> str:
    """Integer-quantized IDW weight (power 2, +1 km² regularizer) —
    portable text shared with the DuckDB oracle."""
    return (f"CAST(ROUND(1000000000000.0 / (({d_km}) * ({d_km}) + 1.0), 0) "
            "AS BIGINT)")


def idw_grid(points: DataFrame, id_col: str, lon_col: str, lat_col: str,
             value_col: str, zoom: int, radius: int = 1) -> DataFrame:
    """points(id, lon, lat, value) → (tile_x, tile_y, n_samples,
    est_value): the IDW estimate at every ``zoom``-level tile center
    having ≥1 sample within its (2·radius+1)² neighborhood."""
    # a NULL-valued sample would add weight to the denominator while the
    # SUM skips its numerator term — drop it before it can skew a cell
    pts = assign_tiles(points.filter(F.col(value_col).isNotNull()),
                       id_col, lon_col, lat_col, zoom,
                       keep_cols=[lon_col, lat_col, value_col])
    scattered = tile_window(pts, [lon_col, lat_col, value_col], radius, zoom)
    c_lon = sqlgen.tile2lon_sql("tile_x + 0.5", zoom)
    c_lat = sqlgen.tile2lat_sql("tile_y + 0.5", zoom)
    d = sqlgen.haversine_sql(lat_col, lon_col, f"({c_lat})", f"({c_lon})")
    weighted = scattered.select(
        "tile_x", "tile_y",
        F.expr(idw_weight_sql(d)).alias("_w"),
        (F.expr(idw_weight_sql(d))
         * F.expr(f"CAST(ROUND({value_col} * {VALUE_SCALE}, 0) AS BIGINT)")
         ).alias("_wv"),
    )
    return weighted.groupBy("tile_x", "tile_y").agg(
        F.count("*").cast("long").alias("n_samples"),
        F.expr(
            f"ROUND(CAST(SUM(_wv) AS DOUBLE) / SUM(_w) / {VALUE_SCALE}.0, 4)"
        ).alias("est_value"),
    )


def idw_grid_sql(src: str, id_col: str, lon_col: str, lat_col: str,
                 value_col: str, zoom: int, radius: int = 1) -> str:
    """DuckDB-oracle twin — the GATHER formulation (assigned tiles ×
    offsets cross join, the focal-oracle pattern), independent of the
    engine's map-side scatter; weight/haversine/quantizer text shared."""
    n = 1 << zoom
    c_lon = sqlgen.tile2lon_sql("tx + 0.5", zoom)
    c_lat = sqlgen.tile2lat_sql("ty + 0.5", zoom)
    d = sqlgen.haversine_sql(lat_col, lon_col, f"({c_lat})", f"({c_lon})")
    return f"""
WITH a AS (
  SELECT {sqlgen.lon2tx_sql(lon_col, zoom)} AS tile_x,
         {sqlgen.lat2ty_sql(lat_col, zoom)} AS tile_y,
         {lon_col}, {lat_col}, {value_col}
  FROM {src}
),
o AS (SELECT dx.g AS dx, dy.g AS dy
      FROM generate_series(-{radius}, {radius}) dx(g),
           generate_series(-{radius}, {radius}) dy(g)),
s AS (
  SELECT a.tile_x + o.dx AS tx, a.tile_y + o.dy AS ty,
         {lon_col}, {lat_col}, {value_col}
  FROM a CROSS JOIN o
  WHERE a.tile_x + o.dx >= 0 AND a.tile_x + o.dx < {n}
    AND a.tile_y + o.dy >= 0 AND a.tile_y + o.dy < {n}
),
w AS (
  SELECT tx, ty, {idw_weight_sql(d)} AS _w,
         {idw_weight_sql(d)}
           * CAST(ROUND({value_col} * {VALUE_SCALE}, 0) AS BIGINT) AS _wv
  FROM s
)
SELECT tx AS tile_x, ty AS tile_y,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       ROUND(CAST(SUM(_wv) AS DOUBLE) / SUM(_w) / {VALUE_SCALE}.0, 4)
         AS est_value
FROM w GROUP BY tx, ty
"""
