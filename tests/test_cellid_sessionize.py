"""Cell-id encodings (Morton/quadkey/k-ring) + stateful streaming
sessionization."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mapsplit_spark import cellid
from mapsplit_spark.streaming.drain import start_stream
from tests import oracle

WORK = "/tmp/sessionize_test"


def test_morton_roundtrip_and_locality():
    rng = np.random.default_rng(1)
    x = rng.integers(0, 1 << 16, 1000)
    y = rng.integers(0, 1 << 16, 1000)
    m = cellid.morton(x, y)
    rx, ry = oracle.demorton(m)
    assert (rx == x).all() and (ry == y).all()
    # locality: adjacent tiles differ less in curve position than far ones
    near = abs(int(cellid.morton([100], [100])[0]) - int(cellid.morton([101], [100])[0]))
    far = abs(int(cellid.morton([100], [100])[0]) - int(cellid.morton([5000], [9000])[0]))
    assert near < far


def test_morton_col_matches_numpy(spark):
    rng = np.random.default_rng(2)
    x = rng.integers(0, 1 << 16, 500).tolist()
    y = rng.integers(0, 1 << 16, 500).tolist()
    df = spark.createDataFrame(list(zip(x, y)), "x long, y long")
    got = [r.m for r in df.select(cellid.morton_col(F.col("x"), F.col("y")).alias("m")).collect()]
    assert got == cellid.morton(x, y).tolist()
    # int columns too: y >= 2^15 sets the sign bit of a 32-bit index
    ints = df.select(F.col("x").cast("int"), F.col("y").cast("int"))
    assert [r.m for r in ints.select(cellid.morton_col(
        F.col("x"), F.col("y")).alias("m")).collect()] == got


def test_quadkey_roundtrip_and_prefix():
    qk = cellid.quadkey(13, np.array([4096]), np.array([3000]))[0]
    assert len(qk) == 13
    z, x, y = oracle.parse_quadkey(qk)
    assert (z, x, y) == (13, 4096, 3000)
    # parent tile at z-1 is the quadkey prefix
    pz, px, py = oracle.parse_quadkey(qk[:-1])
    assert (pz, px, py) == (12, 4096 >> 1, 3000 >> 1)


def test_k_ring_clamps_at_world_edge():
    ring = cellid.k_ring(0, 0, 1, zoom=13)
    assert len(ring) == 4  # corner tile: only in-grid neighbours
    ring = cellid.k_ring(100, 100, 2, zoom=13)
    assert len(ring) == 25


def test_tile_window_clamps_like_k_ring_and_wraps_x(spark):
    """assign.tile_window: the clamp rule equals cellid.k_ring cell for
    cell; ``wrap_x`` wraps x modulo 2^zoom and still lists every window
    cell once, also when the window is wider than the world."""
    from mapsplit_spark.operators.assign import tile_window

    tiles = [(0, 0, 0), (1, 7, 7), (2, 3, 0), (3, 4, 5)]
    df = spark.createDataFrame(tiles, "id long, tile_x long, tile_y long")

    def window(radius, zoom, wrap_x=False):
        return sorted(tuple(r) for r in tile_window(
            df, ["id"], radius, zoom, wrap_x=wrap_x).collect())

    for radius in (0, 1, 2):
        assert window(radius, 3) == sorted(
            (i, *c) for i, x, y in tiles for c in cellid.k_ring(x, y, radius, 3))
    n = 8
    assert window(1, 3, wrap_x=True) == sorted({
        (i, (x + dx) % n, y + dy) for i, x, y in tiles
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if 0 <= y + dy < n})
    wide = window(3, 1, wrap_x=True)  # 7 columns on a 2-column world
    assert len(wide) == len(set(wide))
    assert {(x, y) for i, x, y in wide if i == 0} == {
        (x, y) for x in (0, 1) for y in (0, 1)}


def test_hex_disk_matches_offsets_for_int_and_column_k(spark):
    """hexgrid.hex_disk scatters each cell to exactly the cells of
    hex_disk_offsets(k), for a constant k and for a per-row k column."""
    from pyspark.sql import functions as F

    from mapsplit_spark.hexgrid import hex_disk, hex_disk_offsets

    cells = [(0, 0, 0, 0), (1, 5, -3, 1), (2, -2, 7, 3)]
    df = spark.createDataFrame(cells, "id long, hq long, hr long, k int")

    def disk(k):
        return sorted(tuple(r) for r in hex_disk(df, ["id"], k).collect())

    assert disk(2) == sorted((i, q + dq, r + dr) for i, q, r, _ in cells
                             for dq, dr in hex_disk_offsets(2))
    assert disk(F.col("k")) == sorted((i, q + dq, r + dr) for i, q, r, k in cells
                                      for dq, dr in hex_disk_offsets(k))


def test_sessionize_stream(spark):
    from mapsplit_spark.streaming.sessionize import sessionize

    shutil.rmtree(WORK, ignore_errors=True)
    src = os.path.join(WORK, "src")
    os.makedirs(src)
    rows = []
    for key in (1, 2):
        for j in range(5):
            rows.append((key, np.datetime64(f"2024-01-05T12:0{j}:00"),
                         1000 + key, 2000 + j % 2))
    t = pa.table({
        "key": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows]),
        "tile_x": pa.array([r[2] for r in rows], pa.int64()),
        "tile_y": pa.array([r[3] for r in rows], pa.int64()),
    })
    pq.write_table(t, os.path.join(src, "b1.parquet"))

    stream = spark.readStream.schema(
        "key long, ts timestamp, tile_x long, tile_y long"
    ).parquet(src)
    out = sessionize(stream, gap_ms=1)  # tiny gap → sessions close fast

    # a tailing stream: the sessions close in a later no-data batch, once
    # the processing-time gap has passed; it is stopped as soon as both
    # are in, or after 12 s
    got = []
    q = start_stream(spark, out, lambda df, _: got.extend(df.collect()),
                     os.path.join(WORK, "ckpt"), interval="1 second")
    deadline = time.monotonic() + 12
    try:
        while (q.isActive and {r.key for r in got} != {1, 2}
               and time.monotonic() < deadline):
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination()  # re-raises the error of a failed query
    res = {r.key: r for r in got}
    assert set(res) == {1, 2}
    for k in (1, 2):
        assert res[k].n_events == 5
        assert res[k].n_tiles == 2  # two distinct tiles per key


# ------------------------------------------------------------- geohash

def _geohash_ref(lon: float, lat: float, precision: int) -> str:
    """Independent reference: the textbook interval-halving geohash
    algorithm (no quantization, no bit arithmetic) — a third
    formulation against cellid.geohash's float->int quantize + shuffle
    and sqlgen's FLOOR/mod oracle."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    out: list[str] = []
    val = nbits = 0
    even = True
    while len(out) < precision:
        if even:
            mid = (lo_lon + hi_lon) / 2
            if lon >= mid:
                val, lo_lon = val * 2 + 1, mid
            else:
                val, hi_lon = val * 2, mid
        else:
            mid = (lo_lat + hi_lat) / 2
            if lat >= mid:
                val, lo_lat = val * 2 + 1, mid
            else:
                val, hi_lat = val * 2, mid
        even = not even
        nbits += 1
        if nbits == 5:
            out.append(alphabet[val])
            val = nbits = 0
    return "".join(out)


def test_geohash_known_vector_and_interval_halving_ref():
    # canonical public test vector: geohash 'ezs42' decodes to
    # lat 42.605, lon -5.603
    assert cellid.geohash([-5.603], [42.605], 5)[0] == "ezs42"
    rng = np.random.default_rng(7)
    lon = rng.integers(-180000, 180000, 300) / 1000.0
    lat = rng.integers(-90000, 90001, 300) / 1000.0
    for p in (1, 5, 8, 11, 12):
        got = cellid.geohash(lon, lat, p)
        want = [_geohash_ref(lo, la, p) for lo, la in zip(lon, lat)]
        assert got.tolist() == want, f"precision {p}"


def test_geohash_col_matches_numpy(spark):
    rng = np.random.default_rng(8)
    lon = (rng.integers(-180000, 180000, 400) / 1000.0).tolist()
    lat = (rng.integers(-90000, 90001, 400) / 1000.0).tolist()
    df = spark.createDataFrame(list(zip(lon, lat)), "lon double, lat double")
    for p in (5, 8):
        got = [r.g for r in df.select(
            cellid.geohash_col(F.col("lon"), F.col("lat"), p).alias("g")
        ).collect()]
        assert got == cellid.geohash(lon, lat, p).tolist(), f"precision {p}"


def test_geohash_prefix_nesting():
    """gh(p) is a prefix of gh(p') for p < p' — floor-quantization
    nesting makes the hierarchy exact (the quadkey-prefix analog)."""
    rng = np.random.default_rng(9)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    g12 = cellid.geohash(lon, lat, 12)
    for p in (1, 4, 5, 8, 11):
        gp = cellid.geohash(lon, lat, p)
        assert all(full[:p] == pre for full, pre in zip(g12, gp))
