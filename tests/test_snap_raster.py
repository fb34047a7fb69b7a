"""Snap-to-segment (operators/snap.py) and the vector→raster gate."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from mapsplit_spark.operators.snap import KM_PER_DEG, snap_to_segments


def _snap_np(plon, plat, segs):
    """Brute-force reference of the local-plane metric (independent
    numpy formulation of snap_dist_sql)."""
    out = []
    cosp = math.cos(math.radians(plat))
    for way, seq, x1, y1, x2, y2 in segs:
        ax, ay = (x1 - plon) * cosp, y1 - plat
        bx, by = (x2 - plon) * cosp, y2 - plat
        vx, vy = bx - ax, by - ay
        seg2 = vx * vx + vy * vy
        t = 0.0 if seg2 == 0 else min(1.0, max(0.0, (-ax * vx - ay * vy) / seg2))
        cx, cy = ax + t * vx, ay + t * vy
        out.append((round(KM_PER_DEG * math.hypot(cx, cy), 6), way, seq))
    return sorted(out)


def test_snap_matches_bruteforce(spark):
    """Random points vs random short segments at mixed latitudes —
    winner and distance must equal the numpy brute force exactly."""
    rng = np.random.default_rng(5)
    n_seg, n_pt = 120, 200
    sx = rng.uniform(-30, 30, n_seg)
    sy = np.concatenate([rng.uniform(-10, 10, 60), rng.uniform(70, 84, 60)])
    segs = [
        (int(i % 13), int(i), float(sx[i]), float(sy[i]),
         float(sx[i] + rng.uniform(-0.05, 0.05)),
         float(sy[i] + rng.uniform(-0.05, 0.05)))
        for i in range(n_seg)
    ]
    plon = rng.uniform(-30, 30, n_pt)
    plat = np.concatenate([rng.uniform(-10, 10, 100), rng.uniform(70, 84, 100)])
    d_km = 80.0

    seg_df = spark.createDataFrame(
        pd.DataFrame(segs, columns=["way_id", "seq", "x1", "y1", "x2", "y2"]))
    pt_df = spark.createDataFrame(pd.DataFrame({
        "pid": np.arange(n_pt, dtype=np.int64), "lon": plon, "lat": plat}))
    got = {r.pid: (r.dist_km, r.way_id, r.seq)
           for r in snap_to_segments(pt_df, seg_df, d_km).collect()}

    n_hit = 0
    for i in range(n_pt):
        best = _snap_np(float(plon[i]), float(plat[i]), segs)[0]
        if best[0] <= d_km:
            n_hit += 1
            assert got[i] == best, f"pid {i}"
        else:
            assert i not in got
    assert n_hit == len(got) and n_hit > 20  # the radius actually filters


def test_snap_degenerate_and_clamped_endpoints(spark):
    """Zero-length segment (t=0 branch) and a point past a segment end
    (clamped t) both snap to the endpoint distance."""
    segs = pd.DataFrame(
        [(1, 1, 10.0, 0.0, 10.0, 0.0),     # degenerate
         (2, 1, 20.0, 0.0, 20.2, 0.0)],    # point west of x1 → clamp t=0
        columns=["way_id", "seq", "x1", "y1", "x2", "y2"])
    pts = pd.DataFrame({"pid": [1, 2], "lon": [10.05, 19.9], "lat": [0.0, 0.0]})
    got = {r.pid: (r.way_id, round(r.dist_km, 3)) for r in snap_to_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs), 50.0).collect()}
    assert got[1] == (1, round(KM_PER_DEG * 0.05, 3))
    assert got[2] == (2, round(KM_PER_DEG * 0.1, 3))


def test_snap_tie_breaks_by_way_then_seq(spark):
    """A point exactly between two parallel segments: equal distance,
    lowest (way_id, seq) wins."""
    segs = pd.DataFrame(
        [(7, 3, -0.1, 0.02, 0.1, 0.02), (4, 9, -0.1, -0.02, 0.1, -0.02)],
        columns=["way_id", "seq", "x1", "y1", "x2", "y2"])
    pts = pd.DataFrame({"pid": [1], "lon": [0.0], "lat": [0.0]})
    rows = snap_to_segments(spark.createDataFrame(pts),
                            spark.createDataFrame(segs), 50.0).collect()
    assert (rows[0].way_id, rows[0].seq) == (4, 9)


def test_snap_gate_plan_no_cartesian(spark):
    import __spark_entry__ as entry

    plan = entry.q_point_snap(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_ring_raster_covers_all_zones(spark):
    import __spark_entry__ as entry

    rows = {r.zone: r for r in entry.q_ring_raster(
        spark, "/root/testdata/sf0.001").collect()}
    assert len(rows) == 40
    assert all(r.n_tiles > 0 for r in rows.values())
    assert sum(r.n_events for r in rows.values()) > 0


def test_ring_stats_square_hand_computed(spark):
    """A 1°×1° square at the equator, CCW and CW variants, plus an
    unclosed duplicate — area ≈ 111.19²km², winding signs, perimeter
    includes the closing edge."""
    from mapsplit_spark.operators.geometry import KM_PER_DEG, ring_stats

    ccw = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]
    rows = []
    for wid, ring in ((1, ccw), (2, ccw[::-1])):
        rows += [(wid, i, x, y) for i, (x, y) in enumerate(ring)]
    df = spark.createDataFrame(rows, "way_id int, seq int, lon double, lat double")
    got = {r.way_id: r for r in ring_stats(df, "way_id", "seq", "lon", "lat").collect()}

    assert got[1].winding == 1 and got[2].winding == -1
    assert got[1].area2_u9 == -got[2].area2_u9 == 2_000_000_000  # 2·1 deg²
    # equirectangular area at mean lat 0.5°
    import math
    want_km2 = round(KM_PER_DEG**2 * math.cos(math.radians(0.5)), 4)
    assert got[1].area_km2 == got[2].area_km2 == want_km2
    assert got[1].n_pts == 4
    # perimeter: 2 parallels (cos-scaled at 0 and 1 deg) + 2 meridians
    assert got[1].perim_mm == got[2].perim_mm > 0


def test_ring_stats_single_shuffle(spark):
    from mapsplit_spark.operators.geometry import ring_stats

    df = spark.range(40).selectExpr(
        "id % 5 AS way_id", "id AS seq",
        "CAST(id % 360 - 180 AS DOUBLE) AS lon",
        "CAST(id % 170 / 2.0 - 42.0 AS DOUBLE) AS lat")
    plan = ring_stats(df, "way_id", "seq", "lon", "lat") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_snap_long_segment_aborts_loudly(spark, monkeypatch):
    """A degenerate continent-length segment must ABORT (raise_error)
    rather than silently explode its scatter disk."""
    import pytest

    from mapsplit_spark.operators import snap

    monkeypatch.setattr(snap, "MAX_K", 8)

    segs = pd.DataFrame([(1, 1, -60.0, 0.0, 60.0, 0.0)],
                        columns=["way_id", "seq", "x1", "y1", "x2", "y2"])
    pts = pd.DataFrame({"pid": [1], "lon": [0.0], "lat": [0.1]})
    df = snap_to_segments(spark.createDataFrame(pts),
                          spark.createDataFrame(segs), 2.0)
    with pytest.raises(Exception, match="split long segments"):
        df.collect()
