"""MBTiles sinks — vector (manifest JSON) and raster (mosaic blobs):
TMS y-flip, metadata rows, blob round trips."""

from __future__ import annotations

import json
import sqlite3

import pytest
from pyspark.sql import functions as F

from mapsplit_spark import imaging
from mapsplit_spark.operators.assign import assign_and_expand
from mapsplit_spark.operators.multimodal import tile_mosaics
from mapsplit_spark.sinks.manifests import tile_manifests
from mapsplit_spark.sinks.mbtiles import (
    export_mbtiles,
    export_raster_mbtiles,
    mbtiles_tile_rows,
)

ZOOM = 6


@pytest.fixture(scope="module")
def pairs(spark, images_dir):
    imgs = spark.read.parquet(f"{images_dir}/images.parquet")
    return imgs, assign_and_expand(
        imgs.select("image_id", "lon", "lat"), "image_id", "lon", "lat", ZOOM, 0.0
    )


def test_vector_mbtiles_tms_flip(spark, pairs, tmp_path):
    _, p = pairs
    man = tile_manifests(p, ZOOM, assume_distinct=True)
    path = str(tmp_path / "v.mbtiles")
    export_mbtiles(spark, man, path, ZOOM)
    conn = sqlite3.connect(path)
    meta = dict(conn.execute("SELECT name, value FROM metadata").fetchall())
    assert meta["format"] == "application/json"
    assert meta["minzoom"] == meta["maxzoom"] == str(ZOOM)
    expect = {(r.tile_x, r.tile_y): list(r.element_ids) for r in man.collect()}
    got = {}
    for z, x, tms_y, blob in conn.execute("SELECT * FROM tiles"):
        assert z == ZOOM
        y = (1 << z) - tms_y - 1  # undo the TMS flip (MapSplit.java:1359-1364)
        got[(x, y)] = json.loads(blob)["ids"]
    assert got == expect


def test_raster_mbtiles_mosaics_decode(spark, pairs, tmp_path):
    imgs, p = pairs
    tile_imgs = p.join(imgs.select("image_id", "bytes"),
                       p.element_id == imgs.image_id).select(
        "tile_x", "tile_y", "image_id", "bytes"
    )
    mosaics = tile_mosaics(tile_imgs, cell=8, grid=4)
    path = str(tmp_path / "r.mbtiles")
    export_raster_mbtiles(spark, mosaics, path, ZOOM)
    conn = sqlite3.connect(path)
    meta = dict(conn.execute("SELECT name, value FROM metadata").fetchall())
    assert meta["format"] == "image/x-msim"
    n = 0
    for z, x, tms_y, blob in conn.execute("SELECT * FROM tiles"):
        px = imaging.decode_image(bytes(blob))
        assert px.shape == (32, 32, 3)  # cell 8 × grid 4
        n += 1
    assert n == mosaics.count() > 0


def test_metadata_parity_rows(spark, pairs, tmp_path):
    """Reference metadata parity (MapSplit.java:1389-1402): bounds
    (left,bottom,right,top of the tile set), attribution, version, and a
    DETERMINISTIC latest_date (the A3 max timestamp, not wall clock)."""
    from mapsplit_spark import tilemath as tm

    _, p = pairs
    man = tile_manifests(p, ZOOM, assume_distinct=True)
    path = str(tmp_path / "m.mbtiles")
    export_mbtiles(spark, man, path, ZOOM, latest_date_ms=1544288785000)
    conn = sqlite3.connect(path)
    meta = dict(conn.execute("SELECT name, value FROM metadata").fetchall())
    assert meta["latest_date"] == "1544288785000"
    assert meta["version"] == "0.2.0"
    assert meta["attribution"]
    xs = [r.tile_x for r in man.collect()]
    ys = [r.tile_y for r in man.collect()]
    left, bottom, right, top = (float(v) for v in meta["bounds"].split(","))
    assert left == float(tm.tile2lon(min(xs), ZOOM))
    assert right == float(tm.tile2lon(max(xs) + 1, ZOOM))
    assert top == float(tm.tile2lat(min(ys), ZOOM))
    assert bottom == float(tm.tile2lat(max(ys) + 1, ZOOM))
    # re-export is byte-deterministic (no wall-clock anywhere)
    path2 = str(tmp_path / "m2.mbtiles")
    export_mbtiles(spark, man, path2, ZOOM, latest_date_ms=1544288785000)
    meta2 = dict(sqlite3.connect(path2).execute("SELECT name, value FROM metadata").fetchall())
    assert meta == {**meta2}


def test_sharded_export_union_equals_single_file(spark, pairs, tmp_path):
    """export_mbtiles_sharded (foreachPartition, no driver collect):
    the union of the shard files' tiles tables equals the single-file
    export exactly; every shard carries full metadata with its own
    tile-subset bounds."""
    import glob
    import os

    from mapsplit_spark.sinks.mbtiles import export_mbtiles_sharded

    _, p = pairs
    man = tile_manifests(p, ZOOM, assume_distinct=True)

    single = str(tmp_path / "single.mbtiles")
    export_mbtiles(spark, man, single, ZOOM, latest_date_ms=123)
    conn = sqlite3.connect(single)
    expect = set(conn.execute("SELECT * FROM tiles").fetchall())
    conn.close()

    out_dir = str(tmp_path / "shards")
    # ADVICE r4: a killed attempt's temp file from a PREVIOUS run must
    # be swept at job start (its own attempt can never clean it)
    os.makedirs(out_dir, exist_ok=True)
    stale = os.path.join(out_dir, "shard-00001.mbtiles.tmp.attempt99")
    open(stale, "wb").write(b"zombie")
    export_mbtiles_sharded(man, out_dir, ZOOM, n_shards=4, latest_date_ms=123)
    assert not os.path.exists(stale), "stale attempt tmp not swept"
    assert not glob.glob(os.path.join(out_dir, "*.tmp*"))
    files = sorted(glob.glob(os.path.join(out_dir, "shard-*.mbtiles")))
    assert len(files) > 1, "fixture must actually spread across shards"
    got = set()
    for f in files:
        c = sqlite3.connect(f)
        rows = c.execute("SELECT * FROM tiles").fetchall()
        assert rows, f"empty shard file written: {f}"
        assert not (got & set(rows)), "tile present in two shards"
        got |= set(rows)
        meta = dict(c.execute("SELECT name, value FROM metadata").fetchall())
        assert meta["latest_date"] == "123"
        assert meta["format"] == "application/json"
        # per-shard bounds cover exactly this shard's tiles (never wider
        # than the world, never missing a tile corner)
        left, bottom, right, top = map(float, meta["bounds"].split(","))
        assert -180.0 <= left < right <= 180.0
        c.close()
    assert got == expect


def test_sharded_mbtiles_partitions_by_shard_key(spark):
    """The sharded export repartitions by the shard hash (one shard never
    splits across partitions) and nothing else — a single exchange above
    the tile-row projection."""
    pairs = spark.range(500).select(
        F.col("id").alias("element_id"),
        (F.col("id") % 50).alias("tile_x"),
        (F.col("id") % 37).alias("tile_y"),
    )
    man = tile_manifests(pairs, 13, assume_distinct=True)
    rows = mbtiles_tile_rows(man, 13).withColumn(
        "shard", F.pmod(F.xxhash64("tile_column", "tile_row"), F.lit(8))
    ).repartition(8, "shard")
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(shard") == 1
