"""P1/P2 — point→tile assignment with border/neighbour expansion.

Spark-first design: the whole operator is built-in Column expressions
(no Python UDF), so Catalyst keeps it inside one WholeStageCodegen
Project and the parquet scan below it prunes to (id, lon, lat) only.
The formula text comes from ``sqlgen`` — the same strings the DuckDB
oracle runs — so engine/oracle parity holds by construction.

Reference semantics: MapSplit.java:174-221 (projection + clamping),
:360-382 (border deltas), :411-445 (neighbour bits, NW normalization),
AbstractOsmMap.java:106-114 (E/S/SE expansion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlgen


def assign_tiles(df: DataFrame, id_col: str, lon_col: str, lat_col: str,
                 zoom: int, border: float = 0.0,
                 keep_cols: list[str] | None = None) -> DataFrame:
    """→ DataFrame(element_id, tile_x, tile_y, neighbour[, *keep_cols]).

    One row per input element; ``(tile_x, tile_y)`` is the NW-most member
    tile and ``neighbour`` ∈ {0,1,2,3} encodes E/S/SE extra membership.
    ``keep_cols`` pass through untouched (e.g. event-time for streaming —
    avoids a stream-stream re-join).
    """
    keep_cols = keep_cols or []
    base = df.select(
        F.col(id_col).alias("element_id"),
        F.expr(lon_col).cast("double").alias("lon0"),
        F.expr(lat_col).cast("double").alias("lat0"),
        *keep_cols,
    ).where(
        # rows without coordinates cannot be assigned (the reference's
        # input format guarantees coords; parquet does not) — dropping
        # beats emitting null tiles downstream
        F.col("lon0").isNotNull() & F.col("lat0").isNotNull()
    ).withColumns({
        "tx0": F.expr(sqlgen.lon2tx_sql("lon0", zoom)),
        "ty0": F.expr(sqlgen.lat2ty_sql("lat0", zoom)),
    })
    if border <= 0:
        return base.select(
            "element_id",
            F.col("tx0").alias("tile_x"),
            F.col("ty0").alias("tile_y"),
            F.lit(0).alias("neighbour"),
            *keep_cols,
        )
    flags = base.withColumns({
        "dx": F.expr(sqlgen.delta_x_sql(zoom, border)),
        "dy": F.expr(sqlgen.delta_y_sql("ty0", zoom, border)),
    }).withColumns({
        "e": F.expr(sqlgen.lon2tx_sql("lon0 + dx", zoom)) > F.col("tx0"),
        "w": F.expr(sqlgen.lon2tx_sql("lon0 - dx", zoom)) < F.col("tx0"),
        "s": F.expr(sqlgen.lat2ty_sql("lat0 + dy", zoom)) > F.col("ty0"),
        "n": F.expr(sqlgen.lat2ty_sql("lat0 - dy", zoom)) < F.col("ty0"),
    })
    return flags.select(
        "element_id",
        (F.col("tx0") - F.when(~F.col("e") & F.col("w"), 1).otherwise(0)).alias("tile_x"),
        (F.col("ty0") - F.when(~F.col("s") & F.col("n"), 1).otherwise(0)).alias("tile_y"),
        (
            F.when(F.col("e") | F.col("w"), 1).otherwise(0)
            + F.when(F.col("s") | F.col("n"), 2).otherwise(0)
        ).alias("neighbour"),
        *keep_cols,
    )


def expand_tiles(assigned: DataFrame, keep_cols: list[str] | None = None) -> DataFrame:
    """Explode (base tile, neighbour bits) → one row per member tile.

    → DataFrame(element_id, tile_x, tile_y), duplicate-free by
    construction (E/S/SE are distinct tiles), matching the engine's
    distinct-(element, tile) golden semantics (SURVEY.md §2.7).
    Stays inside codegen: array-of-struct + filter-null + explode.
    """
    n = F.col("neighbour")
    x, y = F.col("tile_x"), F.col("tile_y")
    member = F.array(
        F.struct(x.alias("tile_x"), y.alias("tile_y")),
        F.when(n % 2 == 1, F.struct((x + 1).alias("tile_x"), y.alias("tile_y"))),
        F.when(n >= 2, F.struct(x.alias("tile_x"), (y + 1).alias("tile_y"))),
        F.when(n == 3, F.struct((x + 1).alias("tile_x"), (y + 1).alias("tile_y"))),
    )
    keep_cols = keep_cols or []
    return (
        assigned
        .select("element_id", F.explode(F.array_compact(member)).alias("t"), *keep_cols)
        .select("element_id", F.col("t.tile_x").alias("tile_x"),
                F.col("t.tile_y").alias("tile_y"), *keep_cols)
    )


def tile_window(df: DataFrame, keep: list[str], radius: int, zoom: int,
                wrap_x: bool = False) -> DataFrame:
    """Scatter each row's (tile_x, tile_y) to its (2·radius+1)² window
    (Chebyshev radius, the grid k-ring; ``cellid.k_ring`` is the Python
    reference of the clamp rule) → (*keep, tile_x, tile_y).

    The one place the square neighbourhood and its edge rule are built:
    y always clamps to the zoom's grid; x clamps too, or with ``wrap_x``
    wraps modulo 2^zoom (the antimeridian seam).  Cells outside the grid
    are dropped here, before any shuffle, and a row's window cells are
    distinct (a wrapped window wider than the world takes each column
    once).  Map-side: one explode of literal offsets inside codegen."""
    if radius < 0:
        raise ValueError(f"radius must be ≥ 0, got {radius}")
    n = 1 << zoom
    span = range(-radius, radius + 1)
    dxs = range(n) if wrap_x and len(span) > n else span
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in dxs for dy in span])
    x = F.col("tile_x") + F.col("o.dx")
    tx, ty = F.col("tile_x"), F.col("tile_y")
    in_grid = (ty >= 0) & (ty < n)
    if not wrap_x:
        in_grid &= (tx >= 0) & (tx < n)
    return df.select(*keep, "tile_x", "tile_y", F.explode(offs).alias("o")).select(
        *keep,
        (F.pmod(x, F.lit(n)) if wrap_x else x).alias("tile_x"),
        (ty + F.col("o.dy")).alias("tile_y"),
    ).filter(in_grid)


def assign_and_expand(df: DataFrame, id_col: str, lon_col: str, lat_col: str,
                      zoom: int, border: float = 0.0) -> DataFrame:
    """Convenience: points → exploded (element_id, tile_x, tile_y)."""
    return expand_tiles(assign_tiles(df, id_col, lon_col, lat_col, zoom, border))


def with_tile_id(df: DataFrame, zoom: int) -> DataFrame:
    """Add packed 64-bit ``tile_id`` = z<<32 | x<<16 | y (tilemath.pack_zxy).
    A per-row ``zoom`` column (multi-zoom optimized runs) wins over the
    configured constant."""
    z = "zoom" if "zoom" in df.columns else zoom
    return df.withColumn(
        "tile_id", F.expr(sqlgen.tile_id_sql(z, "tile_x", "tile_y"))
    )
