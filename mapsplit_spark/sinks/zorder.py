"""The stored tile layout: a Z-order key on the z16 curve, one cell
directory per z4 ancestor, and key-range reads.

Every tile row gets ``key = morton(x << (16 − z), y << (16 − z))``: its
position on the zoom-16 Z-curve (mapsplit's TileCoord domain, 16 bits
per axis), so tiles of any zoom ≤ 16 share one key space and a tile's
key interval holds exactly its descendants.  ``write_tiles`` range-
partitions the rows by key, sorts each task's rows, and writes them
under ``cell = key >> 24`` directories (the tile's z4 ancestor: at most
256 directories).  Each written file then owns a compact, disjoint key
interval — the z-ordering Iceberg/Delta apply to spatial tables.

A region read is a few key intervals (``bbox_morton_ranges``: an
aligned 2^k × 2^k quadtree cell with corner (x0, y0) covers exactly the
Z-curve interval [morton(x0, y0), morton(x0, y0) + 4^k)).
``key_range_filter`` turns them into two filters: an OR of ``cell``
ranges, which prunes directories at planning time, and an OR of ``key``
ranges, which reaches the parquet scan and skips files and row groups
against their key min-max stats.  Both readers use it: the bbox scan
here and the stored kNN probe (``knn.knn_tiled_stored``).

Correctness does not depend on the decomposition: ranges may be merged
(``merge_ranges`` caps predicate size at 64 ranges, admitting supersets)
because the readers re-check the exact tiles after the range scan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mapsplit_spark.cellid import morton_col

_BITS = 16  # tile coords < 2^16: zoom ≤ 16, mapsplit's TileCoord domain
CELL_SHIFT = 24  # key >> 24 = the z4 ancestor → at most 256 cell directories


def _tile_key(df: DataFrame, zoom: int) -> Column:
    """The z16-curve key of each (tile_x, tile_y) row at its zoom (a
    per-row ``zoom`` column wins over ``zoom``).

    Raises on a tile outside its zoom's grid or a zoom outside
    [0, 16]: such a tile would alias to a wrong key, and a range read
    would then EXCLUDE the row — an in-range row silently dropped (the
    tile re-check runs after the range scan, so it cannot restore what
    the ranges pruned).  The guard rides the write pass itself
    (raise_error inside the key projection) — no extra scan."""
    z = "zoom" if "zoom" in df.columns else str(int(zoom))
    x, y, zc = F.col("tile_x"), F.col("tile_y"), F.expr(z)
    grid = F.expr(f"shiftleft(1, {z})")
    in_domain = (
        zc.between(0, _BITS)
        & (x >= 0) & (x < grid) & (y >= 0) & (y < grid)
    )
    # NULL coords need their own arm: they fall through to otherwise(),
    # where concat() would be NULL too — an abort with a NULL message
    return F.when(
        x.isNull() | y.isNull() | zc.isNull(),
        F.raise_error(F.lit(
            "write_tiles: NULL tile coord — drop or fill null tile rows "
            "before the tile sink")).cast("long"),
    ).when(
        in_domain,
        morton_col(F.expr(f"shiftleft(tile_x, {_BITS} - {z})"),
                   F.expr(f"shiftleft(tile_y, {_BITS} - {z})")),
    ).otherwise(F.raise_error(F.concat(
        F.lit("write_tiles: tile (z, x, y) = ("), zc.cast("string"),
        F.lit(", "), x.cast("string"), F.lit(", "), y.cast("string"),
        F.lit(f") outside the {_BITS}-bit morton domain: zoom must be in "
              f"[0, {_BITS}] and x, y in [0, 2^zoom)"),
    )).cast("long"))


def write_tiles(df: DataFrame, out_path: str, zoom: int) -> None:
    """Materialize per-tile rows (tile_x, tile_y[, zoom], ...) in the
    stored layout: ``key`` and ``cell`` columns added, rows range-
    partitioned and sorted by key, one directory per cell.  The key
    stays in the data so parquet min/max stats (file and row-group
    level) drive skipping on read."""
    keyed = df.withColumn("key", _tile_key(df, zoom)) \
        .withColumn("cell", F.shiftright("key", CELL_SHIFT))
    (
        keyed.repartitionByRange("key")
        .sortWithinPartitions("cell", "key")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(out_path)
    )


def _morton_int(x: int, y: int) -> int:
    m = 0
    for b in range(_BITS):
        m |= ((x >> b) & 1) << (2 * b)
        m |= ((y >> b) & 1) << (2 * b + 1)
    return m


def tile_key_range(x: int, y: int, zoom: int) -> tuple[int, int]:
    """The inclusive key interval of tile (zoom, x, y): its own key and
    those of all its descendants down to zoom 16."""
    s = _BITS - zoom
    lo = _morton_int(x << s, y << s)
    return lo, lo + (1 << (2 * s)) - 1


def merge_ranges(ranges, max_ranges: int = 64) -> list[tuple[int, int]]:
    """Sort inclusive intervals, coalesce overlapping and adjacent ones,
    then merge across the smallest gaps down to ``max_ranges`` (a
    superset — callers re-check exact tiles)."""
    merged: list[list[int]] = []
    for lo, hi in sorted(ranges):
        if merged and lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    while len(merged) > max_ranges:
        gaps = [(merged[i + 1][0] - merged[i][1], i) for i in range(len(merged) - 1)]
        _, i = min(gaps)
        merged[i][1] = merged[i + 1][1]
        del merged[i + 1]
    return [(lo, hi) for lo, hi in merged]


def bbox_morton_ranges(x0: int, y0: int, x1: int, y1: int,
                       zoom: int = _BITS) -> list[tuple[int, int]]:
    """Decompose an inclusive bbox of zoom-``zoom`` tiles into aligned
    quadtree key intervals (sorted, non-overlapping).  Cells fully
    inside the box emit their whole interval; border cells recurse —
    O(perimeter) ranges.  Past ``merge_ranges``' budget, nearest-gap
    ranges are merged (supersets are fine: callers re-filter on x/y)."""
    if x1 < x0 or y1 < y0:
        return []
    s = _BITS - zoom  # the box on the z16 curve
    x0, y0, x1, y1 = x0 << s, y0 << s, ((x1 + 1) << s) - 1, ((y1 + 1) << s) - 1
    out: list[tuple[int, int]] = []

    def rec(level: int, cx: int, cy: int) -> None:
        side = 1 << (_BITS - level)
        bx0, by0 = cx * side, cy * side
        bx1, by1 = bx0 + side - 1, by0 + side - 1
        if bx1 < x0 or bx0 > x1 or by1 < y0 or by0 > y1:
            return
        if x0 <= bx0 and bx1 <= x1 and y0 <= by0 and by1 <= y1:
            m = _morton_int(bx0, by0)
            out.append((m, m + side * side - 1))
            return
        rec(level + 1, 2 * cx, 2 * cy)
        rec(level + 1, 2 * cx + 1, 2 * cy)
        rec(level + 1, 2 * cx, 2 * cy + 1)
        rec(level + 1, 2 * cx + 1, 2 * cy + 1)

    rec(0, 0, 0)
    return merge_ranges(out)


def _any_between(col: str, ranges) -> Column:
    return reduce(Column.__or__, [F.col(col).between(lo, hi) for lo, hi in ranges])


def key_range_filter(df: DataFrame, ranges) -> DataFrame:
    """The rows of a stored layout whose key lies in one of ``ranges``
    (inclusive key intervals): an OR of ``cell`` ranges (partition
    pruning) and, as a separate filter, an OR of ``key`` ranges (pushed
    to the parquet scan)."""
    if not ranges:
        return df.filter(F.lit(False))
    cells = merge_ranges([(lo >> CELL_SHIFT, hi >> CELL_SHIFT) for lo, hi in ranges],
                         len(ranges))
    return df.filter(_any_between("cell", cells)).filter(_any_between("key", ranges))


def read_tiles_bbox(spark: SparkSession, path: str, zoom: int,
                    x0: int, y0: int, x1: int, y1: int) -> DataFrame:
    """Bbox scan of zoom-``zoom`` tiles over the stored layout: the
    bbox's key ranges (``key_range_filter``) + the exact x/y re-filter."""
    ranges = bbox_morton_ranges(x0, y0, x1, y1, zoom=zoom)
    return key_range_filter(spark.read.parquet(path), ranges).filter(
        F.col("tile_x").between(x0, x1) & F.col("tile_y").between(y0, y1)
    )
