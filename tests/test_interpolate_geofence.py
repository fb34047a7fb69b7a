"""IDW grid interpolation (operators/interpolate.py) and geofence
transitions (operators/geofence.py)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from mapsplit_spark import tilemath
from mapsplit_spark.operators.clip import make_ring
from mapsplit_spark.operators.interpolate import idw_grid

EARTH_R_KM = 6371.0088


def _hav(lat1, lon1, lat2, lon2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    a = (math.sin((p2 - p1) / 2) ** 2
         + math.cos(p1) * math.cos(p2)
         * math.sin((math.radians(lon2) - math.radians(lon1)) / 2) ** 2)
    return 2 * EARTH_R_KM * math.asin(math.sqrt(a))


def _center(x, y, zoom):
    n = 1 << zoom
    lon = (x + 0.5) / n * 360.0 - 180.0
    lat = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 0.5) / n))))
    return lon, lat


def test_idw_matches_python_recompute(spark):
    """Random samples → per-cell estimate recomputed independently in
    Python with the same integer quantization."""
    zoom, radius = 6, 1
    rng = np.random.default_rng(9)
    n = 400
    pdf = pd.DataFrame({
        "pid": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(-170, 170, n),
        "lat": rng.uniform(-80, 80, n),
        "value": np.round(rng.uniform(0, 500, n), 2),
    })
    got = {(r.tile_x, r.tile_y): (r.n_samples, r.est_value)
           for r in idw_grid(spark.createDataFrame(pdf), "pid", "lon", "lat",
                             "value", zoom, radius).collect()}

    # python gather recompute
    cells: dict[tuple[int, int], list] = {}
    grid_n = 1 << zoom
    for row in pdf.itertuples():
        tx = int(tilemath.lon2tx(row.lon, zoom))
        ty = int(tilemath.lat2ty(row.lat, zoom))
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                x, y = tx + dx, ty + dy
                if 0 <= x < grid_n and 0 <= y < grid_n:
                    clon, clat = _center(x, y, zoom)
                    d = _hav(row.lat, row.lon, clat, clon)
                    w = round(1e12 / (d * d + 1.0))
                    cells.setdefault((x, y), []).append(
                        (w, w * round(row.value * 100)))
    want = {}
    for k, ws in cells.items():
        den = sum(w for w, _ in ws)
        num = sum(wv for _, wv in ws)
        want[k] = (len(ws), round(num / den / 100.0, 4))
    assert got == want


def test_idw_single_shuffle(spark):
    df = spark.range(50).selectExpr(
        "id AS pid", "CAST(id % 360 - 180 AS DOUBLE) AS lon",
        "CAST(id % 160 / 2.0 - 40 AS DOUBLE) AS lat",
        "CAST(id AS DOUBLE) AS value")
    plan = idw_grid(df, "pid", "lon", "lat", "value", 5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_zone_transitions_hand_traced(spark):
    """One user walks outside → zone0 → zone0 → overlap(z0∩z1) → z1 →
    outside; expected transitions at each boundary, overlap resolves to
    the min zone, no row for the unchanged step."""
    from mapsplit_spark.operators.geofence import zone_transitions

    z0 = make_ring([(0.0, -10.0), (10.0, -9.5), (10.0, 10.0), (0.0, 9.5)])
    z1 = make_ring([(5.0, -10.2), (15.0, -9.7), (15.0, 10.2), (5.0, 9.7)])
    path = [(-5.0, 0.0), (2.0, 0.0), (3.0, 1.0), (7.0, 0.0),
            (12.0, 0.0), (20.0, 0.0)]
    ev = spark.createDataFrame(pd.DataFrame({
        "user_id": [1] * 6,
        "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(6), "min"),
        "event_id": range(6),
        "lon": [p[0] for p in path],
        "lat": [p[1] for p in path],
    }))
    rows = sorted(
        (r.event_id, r.prev_zone, r.zone)
        for r in zone_transitions(ev, "user_id", "ts", "event_id",
                                  "lon", "lat", [z0, z1]).collect()
    )
    assert rows == [
        (1, -1, 0),   # enter z0
        (4, 0, 1),    # overlap (still 0) → z1-only: min-zone rule held at 3
        (5, 1, -1),   # exit
    ]


def test_zone_transitions_hole_drops_membership(spark):
    """A point inside a hole counts as outside (zone −1)."""
    from mapsplit_spark.operators.geofence import zone_transitions

    outer = make_ring([(0.0, -10.0), (10.0, -9.5), (10.0, 10.0), (0.0, 9.5)])
    hole = make_ring([(4.0, -2.0), (6.0, -1.9), (6.0, 2.0), (4.0, 1.9)])
    ev = spark.createDataFrame(pd.DataFrame({
        "user_id": [1, 1, 1],
        "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta(range(3), "min"),
        "event_id": range(3),
        "lon": [2.0, 5.0, 2.0],   # in → hole → in
        "lat": [0.0, 0.0, 0.0],
    }))
    rows = sorted(
        (r.event_id, r.prev_zone, r.zone)
        for r in zone_transitions(ev, "user_id", "ts", "event_id",
                                  "lon", "lat", [outer], [hole]).collect()
    )
    assert rows == [(1, 0, -1), (2, -1, 0)]


def test_idw_drops_null_valued_samples(spark):
    """A NULL-valued sample must not add denominator weight."""
    pdf = pd.DataFrame({
        "pid": [1, 2],
        "lon": [10.0, 10.001],
        "lat": [10.0, 10.001],
        "value": [40.0, None],
    })
    rows = idw_grid(spark.createDataFrame(pdf), "pid", "lon", "lat",
                    "value", 6).collect()
    assert rows and all(r.est_value == 40.0 and r.n_samples == 1 for r in rows)


def test_streaming_zone_transitions_matches_batch(spark, tmp_path):
    """Drain a per-user time-ordered fixture through the streaming
    geofence in multiple micro-batches (maxFilesPerTrigger=1, state
    carries across triggers) — the emitted transition set must equal
    the batch operator's rows exactly."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapsplit_spark.operators.geofence import zone_transitions
    from mapsplit_spark.streaming.drain import run_stream
    from mapsplit_spark.streaming.geofence_stream import (
        streaming_zone_transitions,
    )

    z0 = make_ring([(0.0, -10.0), (10.0, -9.5), (10.0, 10.0), (0.0, 9.5)])
    z1 = make_ring([(5.0, -10.2), (15.0, -9.7), (15.0, 10.2), (5.0, 9.7)])
    rng = np.random.default_rng(21)
    n, n_users = 600, 7
    ids = np.arange(n, dtype=np.int64)
    users = ids % n_users
    ts = (np.datetime64("2024-01-01") + (ids // n_users)
          * np.timedelta64(60, "s"))  # time-ordered per user across files
    lon = rng.uniform(-5.0, 20.0, n)
    lat = rng.uniform(-5.0, 5.0, n)

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, sl in enumerate([slice(0, 200), slice(200, 400), slice(400, 600)]):
        pq.write_table(pa.table({
            "user_id": pa.array(users[sl]), "ts": pa.array(ts[sl]),
            "event_id": pa.array(ids[sl]), "lon": pa.array(lon[sl]),
            "lat": pa.array(lat[sl]),
        }), os.path.join(src, f"b{i}.parquet"))
        # the file source reads files in modification-time order; files
        # written within one clock tick tie and come in listing order
        os.utime(os.path.join(src, f"b{i}.parquet"), (1e9 + i, 1e9 + i))

    schema = ("user_id long, ts timestamp, event_id long, "
              "lon double, lat double")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_zone_transitions(
        stream, "user_id", "ts", "event_id", "lon", "lat", [z0, z1])
    rows = []
    run_stream(spark, out, lambda df, _: rows.extend(
        df.select("user_id", "event_id", "prev_zone", "zone").collect()),
        str(tmp_path / "ckpt"), timeout_sec=180)

    got = {tuple(r) for r in rows}
    batch = spark.read.parquet(src)
    want = {tuple(r) for r in zone_transitions(
        batch, "user_id", "ts", "event_id", "lon", "lat",
        [z0, z1]).collect()}
    assert got == want and len(got) > 20


def test_stream_job_geofence_mode_e2e(spark, tmp_path, capsys):
    """jobs/stream_job.py --mode geofence --once drains a landing dir
    and writes the same transition rows the batch operator computes."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from jobs.stream_job import main as stream_main
    from mapsplit_spark.operators.geofence import zone_transitions

    rng = np.random.default_rng(3)
    n, n_users = 300, 5
    ids = np.arange(n, dtype=np.int64)
    ts = np.datetime64("2024-02-01") + ids * np.timedelta64(30, "s")
    lon = rng.uniform(-5.0, 20.0, n)
    lat = rng.uniform(-5.0, 5.0, n)
    src = str(tmp_path / "landing")
    os.makedirs(src)
    pq.write_table(pa.table({
        "user_id": pa.array(ids % n_users), "ts": pa.array(ts),
        "event_id": pa.array(ids), "lon": pa.array(lon),
        "lat": pa.array(lat),
    }), os.path.join(src, "b0.parquet"))
    # zone rings parquet in the clip_polygons layout load_rings expects
    ring = [(0.0, -10.0), (10.0, -9.5), (10.0, 10.0), (0.0, 9.5)]
    spark.createDataFrame(
        [("z", [{"lon": v[0], "lat": v[1]} for v in ring], False)],
        "poly_id string, coords array<struct<lon double, lat double>>, "
        "is_hole boolean",
    ).write.mode("overwrite").parquet(str(tmp_path / "zones.parquet"))

    out = str(tmp_path / "out")
    stream_main([
        "--input", src, "--checkpoint", str(tmp_path / "ckpt"),
        "--output", out, "--mode", "geofence", "--once", "--timeout-sec", "120",
        "--poly", str(tmp_path / "zones.parquet"),
        "--user-col", "user_id", "--ts-col", "ts", "--id-col", "event_id",
    ])
    summary = json.loads([ln for ln in capsys.readouterr().out.splitlines()
                          if ln.startswith("{")][-1])
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in zone_transitions(
        spark.read.parquet(src), "user_id", "ts", "event_id", "lon", "lat",
        *_load(spark, str(tmp_path / "zones.parquet"))).collect()}
    assert got == want and summary["transitions"] == len(got) > 0
    assert summary["state_partitions"] == spark.sparkContext.defaultParallelism


def _load(spark, path):
    from mapsplit_spark.operators.clip import load_rings

    return load_rings(spark.read.parquet(path), None)


def test_heading_stats_hand_computed(spark):
    """Due-east equator walk → mean bearing 90°, resultant 100%;
    back-and-forth walk → resultant ~0; single-point user absent."""
    from mapsplit_spark.operators.geometry import heading_stats

    rows = []
    # user 1: monotone east along the equator (bearing exactly 90°)
    for i in range(5):
        rows.append((1, i, i, 10.0 + 0.1 * i, 0.0))
    # user 2: east then west (opposite bearings cancel)
    rows += [(2, 0, 10, 10.0, 0.0), (2, 1, 11, 10.1, 0.0),
             (2, 2, 12, 10.0, 0.0)]
    # user 3: single point
    rows.append((3, 0, 20, 50.0, 50.0))
    ev = spark.createDataFrame(pd.DataFrame(
        [(u, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=t), i, lo, la)
         for u, t, i, lo, la in rows],
        columns=["user_id", "ts", "event_id", "lon", "lat"]))
    got = {r.user_id: r for r in heading_stats(
        ev, "user_id", "ts", "event_id", "lon", "lat").collect()}
    assert got[1].n_moves == 4
    assert abs(got[1].mean_bearing_deg - 90.0) < 1e-6
    assert abs(got[1].resultant_pct - 100.0) < 1e-3
    assert got[2].resultant_pct < 0.01
    assert 3 not in got

    plan = heading_stats(ev, "user_id", "ts", "event_id", "lon", "lat") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_tile_flows_hand_computed(spark):
    """Two users, known tile hops at z1 (tiles are 180° wide): counts
    and distinct movers per directed pair, self-loop included."""
    from mapsplit_spark.operators.geometry import tile_flows

    # z1: lon<0 → x=0, lon>0 → x=1; lat>0 → y=0 (north), lat<0 → y=1
    rows = [
        (1, 0, 0, -90.0, 40.0),   # (0,0)
        (1, 1, 1, 90.0, 40.0),    # → (1,0)
        (1, 2, 2, 91.0, 41.0),    # → (1,0) self-loop
        (2, 0, 3, -90.0, 40.0),   # (0,0)
        (2, 1, 4, 90.0, 40.0),    # → (1,0)  (same flow as user 1's first)
    ]
    ev = spark.createDataFrame(pd.DataFrame(
        [(u, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=t), i, lo, la)
         for u, t, i, lo, la in rows],
        columns=["user_id", "ts", "event_id", "lon", "lat"]))
    got = {(r.from_x, r.from_y, r.to_x, r.to_y): (r.n_moves, r.n_users)
           for r in tile_flows(ev, "user_id", "ts", "event_id",
                               "lon", "lat", zoom=1).collect()}
    assert got == {(0, 0, 1, 0): (2, 2), (1, 0, 1, 0): (1, 1)}


def test_gps_spikes_hand_computed(spark):
    """A plausible step, a teleport, and a zero-duration move — only
    the latter two flagged; zero-duration speed is NULL."""
    from mapsplit_spark.operators.geometry import gps_spikes

    rows = [
        (1, 0, 0, 10.0, 50.0),
        (1, 60, 1, 10.01, 50.0),    # ~0.7 km in 1 min → ~43 km/h: fine
        (1, 120, 2, 40.0, 10.0),    # ~5000 km in 1 min → spike
        (2, 0, 3, 0.0, 0.0),
        (2, 0, 4, 1.0, 0.0),        # zero duration, moved → spike
    ]
    ev = spark.createDataFrame(pd.DataFrame(
        [(u, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=t), i, lo, la)
         for u, t, i, lo, la in rows],
        columns=["user_id", "ts", "event_id", "lon", "lat"]))
    got = {r.event_id: r for r in gps_spikes(
        ev, "user_id", "ts", "event_id", "lon", "lat", 1000.0).collect()}
    assert set(got) == {2, 4}
    assert got[2].speed_kmh > 1000.0 and got[2].dt_us == 60_000_000
    assert got[4].speed_kmh is None and got[4].dt_us == 0
