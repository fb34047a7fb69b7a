"""S7 — MBTiles export (MapSplit.java:1158-1166, 1353-1369, 1388-1408).

The reference writes per-tile PBF blobs into a SQLite `tiles` table keyed
(zoom_level, tile_column, tile_row) with the TMS y-flip
``y' = 2^z − y − 1`` (MapSplit.java:1359-1364) plus a `metadata` table:
name/type/version/attribution/format/minzoom/maxzoom/latest_date/bounds
(MapSplit.java:1389-1402, Const.java:5-9) — bounds is the tile-set bbox
"left,bottom,right,top" with a world-bounds fallback, and latest_date is
the A3 max entity timestamp in epoch ms (deterministic, never wall
clock).

Ours stores each tile's manifest JSON (or a mosaic blob when provided) —
SQLite is inherently single-writer, so this is a driver-side export for
bounded outputs; at 100 TB the per-tile parquet/Iceberg table from
``zorder.write_tiles`` (the one stored tile layout) is the real sink and
MBTiles is a downstream packaging step (one file per region via
foreachPartition if ever needed).
``mbtiles_tile_rows`` builds the tile rows (TMS flip + JSON blob) as a
pure Column-expression DataFrame so the driver's DuckDB gate can verify
it value-exactly.
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FORMAT = "application/json"  # manifest payload (reference uses OSM PBF)
RASTER_FORMAT = "image/x-msim"  # mosaic blobs from the stub codec
ATTRIBUTION = "mapsplit_spark synthetic fixtures"  # ≡ Const.OSM_ATTRIBUTION slot
VERSION = "0.2.0"  # Const.MBT_VERSION
WORLD_BOUNDS = "-180.0,-85.0,180.0,85.0"  # fallback, MapSplit.java:1399


def _tms_keys(tiles: DataFrame, zoom: int) -> list:
    """(zoom_level, tile_column, tile_row TMS-flipped) of tile rows; a
    per-row ``zoom`` column wins over ``zoom``."""
    z = "zoom" if "zoom" in tiles.columns else str(zoom)
    return [F.expr(z).cast("int").alias("zoom_level"),
            F.col("tile_x").cast("long").alias("tile_column"),
            (F.expr(f"CAST(POWER(2.0, {z}) AS BIGINT)") - F.col("tile_y") - 1).alias("tile_row")]


def mbtiles_tile_rows(manifests: DataFrame, zoom: int) -> DataFrame:
    """Manifest table → MBTiles tile rows as Column expressions only:
    (zoom_level, tile_column, tile_row TMS-flipped, tile_data JSON).

    JSON shape matches the historical export blob byte-for-byte:
    ``{"ids":[a,b,...],"n":N}`` — numeric ids bare, string ids quoted
    (ids are identifier tokens; no embedded quotes to escape).
    """
    ids = F.col("element_ids")
    elem_type = manifests.schema["element_ids"].dataType.elementType.simpleString()
    if elem_type == "string":
        ids = F.transform(ids, lambda x: F.concat(F.lit('"'), x, F.lit('"')))
    return manifests.select(
        *_tms_keys(manifests, zoom),
        F.concat(
            F.lit('{"ids":['),
            F.concat_ws(",", ids),
            F.lit('],"n":'),
            F.col("n").cast("string"),
            F.lit("}"),
        ).alias("tile_data"),
    )


def _tileset_bounds(tile_rows) -> str | None:
    """left,bottom,right,top of the exported tile set (un-flipped y) —
    setTilesetBounds analog (MapSplit.java:1396-1399)."""
    if not tile_rows:
        return None
    import numpy as np

    from .. import tilemath as tm

    lefts, rights, tops, bottoms = [], [], [], []
    for z, x, tms_y, _ in tile_rows:
        y = (1 << z) - tms_y - 1
        lefts.append(float(tm.tile2lon(np.float64(x), z)))
        rights.append(float(tm.tile2lon(np.float64(x + 1), z)))
        tops.append(float(tm.tile2lat(np.float64(y), z)))
        bottoms.append(float(tm.tile2lat(np.float64(y + 1), z)))
    return f"{min(lefts)},{min(bottoms)},{max(rights)},{max(tops)}"


def _write_sqlite(path: str, tile_rows, fmt: str, zooms: set,
                  fallback_zoom: int, latest_date_ms: int,
                  description: str, tmp_suffix: str = "") -> None:
    """Write one SQLite file ATOMICALLY: build at a unique temp path,
    os.replace() into place on success — a task retry or speculative
    duplicate attempt can never leave a truncated/corrupt file or
    interleave two writers on the final path (executor-side shard
    writes pass a task-attempt-unique ``tmp_suffix``)."""
    tmp = f"{path}.tmp{tmp_suffix}"
    if os.path.exists(tmp):
        os.remove(tmp)
    conn = sqlite3.connect(tmp)
    try:
        cur = conn.cursor()
        cur.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        cur.execute(
            "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER, "
            "tile_row INTEGER, tile_data BLOB)"
        )
        cur.execute(
            "CREATE UNIQUE INDEX tile_index ON tiles "
            "(zoom_level, tile_column, tile_row)"
        )
        cur.executemany("INSERT INTO tiles VALUES (?,?,?,?)", tile_rows)
        meta = {
            "name": "mapsplit_spark",
            "type": "baselayer",
            "version": VERSION,
            "description": description,
            "attribution": ATTRIBUTION,
            "format": fmt,
            "minzoom": str(min(zooms) if zooms else fallback_zoom),
            "maxzoom": str(max(zooms) if zooms else fallback_zoom),
            # deterministic: the A3 max-timestamp, never wall clock
            "latest_date": str(int(latest_date_ms)),
            "bounds": _tileset_bounds(tile_rows) or WORLD_BOUNDS,
        }
        cur.executemany("INSERT INTO metadata VALUES (?,?)", meta.items())
        conn.commit()
    except BaseException:
        conn.close()
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    conn.close()
    os.replace(tmp, path)  # atomic publish


def export_mbtiles(spark, manifests: DataFrame, path: str, zoom: int,
                   latest_date_ms: int = 0) -> None:
    """Vector path: per-tile manifest JSON blobs (rows built by
    ``mbtiles_tile_rows`` — the same relation the correctness gate
    verifies against DuckDB)."""
    rows = mbtiles_tile_rows(manifests, zoom).collect()
    out = [(r.zoom_level, r.tile_column, r.tile_row, r.tile_data.encode())
           for r in rows]
    _write_sqlite(path, out, FORMAT, {r.zoom_level for r in rows}, zoom,
                  latest_date_ms, "tile manifests from mapsplit_spark")


def export_mbtiles_sharded(manifests: DataFrame, out_dir: str, zoom: int,
                           n_shards: int = 8, latest_date_ms: int = 0) -> None:
    """Scale-path packaging: one MBTiles file PER REGION SHARD, written
    executor-side via ``foreachPartition`` — no driver collect, so the
    packaging step has no single-writer bottleneck at 100 TB (each
    shard's SQLite is bounded; shard count scales with the tile set).

    Sharding is a deterministic hash of the tile key, repartitioned so
    one shard never splits across partitions; the union of the shard
    files' ``tiles`` tables equals the single-file ``export_mbtiles``
    relation exactly (asserted in tests/test_mbtiles.py).  Each shard
    carries full metadata with its OWN tile-subset bounds.  On a real
    cluster ``out_dir`` is a shared mount / object-store fuse path;
    locally it is a directory of ``shard-NNNNN.mbtiles`` files.
    """
    rows = mbtiles_tile_rows(manifests, zoom).withColumn(
        "shard", F.pmod(F.xxhash64("tile_column", "tile_row"), F.lit(n_shards))
    )
    os.makedirs(out_dir, exist_ok=True)
    # driver-side, before any task runs: sweep tmp leftovers from
    # KILLED/zombie attempts of previous runs — a dead attempt's
    # `shard-*.mbtiles.tmp.attemptN` is never cleaned by its own
    # publish (only the same attempt pre-removes its own path), so
    # without this the directory accretes garbage forever
    import glob as _glob

    for stale in _glob.glob(os.path.join(out_dir, "shard-*.mbtiles.tmp*")):
        try:
            os.remove(stale)
        except OSError:
            pass  # a concurrent export owns it; leave it
    fmt, date_ms = FORMAT, latest_date_ms  # close over plain values only

    def write_partition(it) -> None:
        from pyspark import TaskContext

        tc = TaskContext.get()
        # task-attempt-unique temp suffix → a retried / speculative
        # duplicate attempt builds its own temp file; whichever attempt
        # finishes last atomically os.replace()s the final shard path
        # (both attempts write identical bytes — deterministic input)
        suffix = f".attempt{tc.taskAttemptId()}" if tc is not None else ""
        by_shard: dict[int, list] = {}
        for r in it:
            by_shard.setdefault(int(r.shard), []).append(
                (r.zoom_level, r.tile_column, r.tile_row, r.tile_data.encode())
            )
        for shard, tiles in by_shard.items():
            _write_sqlite(
                os.path.join(out_dir, f"shard-{shard:05d}.mbtiles"),
                sorted(tiles), fmt, {t[0] for t in tiles}, zoom, date_ms,
                f"tile manifests from mapsplit_spark (shard {shard})",
                tmp_suffix=suffix,
            )

    rows.repartition(n_shards, "shard").foreachPartition(write_partition)


def export_raster_mbtiles(spark, mosaics: DataFrame, path: str, zoom: int,
                          latest_date_ms: int = 0) -> None:
    """Raster path: per-tile mosaic image blobs (operators/multimodal.
    tile_mosaics) — the raster side of the north star's raster↔vector
    tile rendering.  Same TMS flip + metadata layout."""
    rows = mosaics.select(*_tms_keys(mosaics, zoom), "mosaic").collect()
    out = [(r.zoom_level, r.tile_column, r.tile_row, bytes(r.mosaic))
           for r in rows]
    _write_sqlite(path, out, RASTER_FORMAT, {o[0] for o in out} or {zoom},
                  zoom, latest_date_ms, "raster tile mosaics from mapsplit_spark")
