"""Hex lattice (hexgrid.py), hex-ring kNN (knn.knn_hex), DWithin join
(operators/dwithin.py), and trajectory stats (geometry.trajectory_stats).

The hex cell encode has FOUR formulations: numpy kernel, JVM column
twin, DuckDB oracle SQL (those three share arithmetic text for FP
parity and are differential-tested here), and the INDEPENDENT
nearest-center brute force (hexagons are the lattice's Voronoi cells,
so containment ≡ nearest center) — the formulation that shares no code
with the other three.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from mapsplit_spark import hexgrid, sqlgen
from tests import oracle

RNG = np.random.default_rng(42)


def _random_points(n: int) -> tuple[np.ndarray, np.ndarray]:
    return (RNG.uniform(-180.0, 180.0, n), RNG.uniform(-85.05, 85.05, n))


# ------------------------------------------------------------- encoding


@pytest.mark.parametrize("s", [4.0, 0.7, 0.11])
def test_hex_cell_numpy_matches_duckdb_sql(s):
    lon, lat = _random_points(20000)
    q_np, r_np = hexgrid.hex_cell(lon, lat, s)
    qs, rs = sqlgen.hex_qr_sql("lon", "lat", s)
    df = pd.DataFrame({"lon": lon, "lat": lat})
    got = duckdb.sql(f"SELECT {qs} AS q, {rs} AS r FROM df").fetchnumpy()
    assert (got["q"] == q_np).all() and (got["r"] == r_np).all()


def test_hex_cell_matches_nearest_center():
    """The independent formulation: cube-rounding must pick the cell
    whose center is Euclidean-nearest (Voronoi containment).  Points
    whose two nearest centers tie within 1e-9 are skipped (the
    boundary, where any tie rule is acceptable)."""
    s = 1.3
    lon, lat = _random_points(4000)
    q, r = hexgrid.hex_cell(lon, lat, s)
    # candidate centers: the chosen cell's 2-disk (the true nearest is
    # always within it — validated by the assertion itself)
    offs = np.array(hexgrid.hex_disk_offsets(2))
    cq = q[:, None] + offs[None, :, 0]
    cr = r[:, None] + offs[None, :, 1]
    cx, cy = oracle.hex_center(cq, cr, s)
    d2 = (cx - lon[:, None]) ** 2 + (cy - lat[:, None]) ** 2
    d_sorted = np.sort(d2, axis=1)
    clear = d_sorted[:, 1] - d_sorted[:, 0] > 1e-9
    # offset (0,0) is the chosen cell; it must hold the minimum
    own = d2[np.arange(len(lon)), np.nonzero((offs == 0).all(axis=1))[0][0]]
    assert np.allclose(own[clear], d_sorted[clear, 0])
    assert clear.sum() > 3500  # the skip is the boundary sliver, not the test


def test_hex_cell_cols_matches_numpy(spark):
    lon, lat = _random_points(5000)
    q_np, r_np = hexgrid.hex_cell(lon, lat, 2.5)
    sdf = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    qc, rc = hexgrid.hex_cell_cols(sdf.lon, sdf.lat, 2.5)
    got = sdf.select(qc.alias("q"), rc.alias("r")).toPandas()
    assert (got["q"].to_numpy() == q_np).all()
    assert (got["r"].to_numpy() == r_np).all()


def test_disk_and_ring_counts_and_distances():
    for k in range(0, 6):
        disk = hexgrid.hex_disk_offsets(k)
        assert len(disk) == 3 * k * (k + 1) + 1
        dq = np.array([o[0] for o in disk])
        dr = np.array([o[1] for o in disk])
        assert (oracle.hex_dist(dq, dr, 0, 0) <= k).all()
        ring = hexgrid.hex_ring_offsets(k)
        assert len(ring) == (6 * k if k else 1)
        rq = np.array([o[0] for o in ring])
        rr = np.array([o[1] for o in ring])
        assert (oracle.hex_dist(rq, rr, 0, 0) == (k if k else 0)).all()


def test_center_spacing_lower_bound():
    """Centers of cells at hex-distance m are ≥ 1.5·m·s apart — the
    geometric fact behind covered_radius_deg and scatter_k_for_radius,
    validated numerically over whole rings."""
    s = 0.9
    for m in range(1, 8):
        ring = np.array(hexgrid.hex_ring_offsets(m))
        cx, cy = oracle.hex_center(ring[:, 0], ring[:, 1], s)
        d = np.sqrt(cx**2 + cy**2)
        assert d.min() >= hexgrid.CENTER_SPACING_MIN * m * s - 1e-9


def test_covered_radius_is_conservative():
    """Any point of the center cell and any point of a cell OUTSIDE the
    k-disk are farther apart than covered_radius_deg(k, s)."""
    s = 1.1
    lon = RNG.uniform(-25.0, 25.0, 20000)
    lat = RNG.uniform(-25.0, 25.0, 20000)
    q, r = hexgrid.hex_cell(lon, lat, s)
    d0 = oracle.hex_dist(q, r, 0, 0)
    inside = d0 == 0
    assert inside.sum() > 3  # the lattice origin cell is populated
    for k in (1, 2, 4):
        outside = d0 > k
        dx = lon[inside][:, None] - lon[outside][None, :]
        dy = lat[inside][:, None] - lat[outside][None, :]
        dist = np.sqrt(dx**2 + dy**2)
        assert dist.min() > hexgrid.covered_radius_deg(k, s)


def test_scatter_k_covers_radius():
    """The contract: the k returned for ρ has covered_radius ≥ ρ (the
    disk provably contains every point within ρ), and k is within one
    step of minimal (FP at the exact boundary may round up — safe)."""
    s = 0.37
    for rho in np.linspace(0.01, 30.0, 200):
        k = hexgrid.scatter_k_for_radius(float(rho), s)
        assert hexgrid.covered_radius_deg(k, s) >= rho - 1e-9
        if k > 1:
            assert hexgrid.covered_radius_deg(k - 2, s) < rho


def test_event_hexcell_gate_plan_is_map_only(spark):
    """The hex gate must be a pure projection: no Exchange, scan reads
    only event_id (lon/lat are derived)."""
    import __spark_entry__ as entry

    df = entry.q_event_hexcell(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert df.count() > 0


# ------------------------------------------------------------- hex kNN


def _haversine_np(lat1, lon1, lat2, lon2):
    r = 6371.0088
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dp = p2 - p1
    dl = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dp / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2) ** 2
    return 2 * r * np.arcsin(np.sqrt(a))


def _knn_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_knn_hex_matches_bruteforce(spark):
    """Mixed-density points (dense cluster + sparse tail + antimeridian
    + high latitude) and awkward queries (inside the cluster, in the
    void, at the seam, near the cap): the hex ladder must equal exact
    brute force on every one."""
    from mapsplit_spark.operators.knn import knn_bruteforce, knn_hex

    rng = np.random.default_rng(7)
    lon = np.concatenate([
        rng.normal(12.0, 0.8, 300) % 360 - 180,
        rng.uniform(-180, 180, 120),
        np.concatenate([rng.uniform(176, 180, 25), rng.uniform(-180, -176, 25)]),
        rng.uniform(-30, 30, 30),
    ])
    lat = np.concatenate([
        rng.normal(47.0, 0.8, 300),
        rng.uniform(-85, 85, 120),
        rng.uniform(-10, 10, 50),
        rng.uniform(80, 85, 30),
    ])
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(len(lon), dtype=np.int64),
        "p_lon": lon, "p_lat": lat,
    }))
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": np.arange(6, dtype=np.int64),
        "q_lon": np.array([12.3, 100.0, 179.9, -179.95, 5.0, -120.0]),
        "q_lat": np.array([47.2, -60.0, 2.0, -1.0, 83.5, 20.0]),
    }))
    got = _knn_rows(knn_hex(qs, pts, s_deg=2.0, k=4))
    want = _knn_rows(knn_bruteforce(qs, pts, k=4))
    assert got == want


def test_knn_hex_sparse_forces_bruteforce_tail_and_stays_exact(spark, monkeypatch):
    """9 points spread over the globe, K_MAX tiny: no disk can prove
    coverage, so every query must fall through to the brute-force tail
    — and the answer must still be exact."""
    from mapsplit_spark.operators import knn
    from mapsplit_spark.operators.knn import knn_bruteforce, knn_hex

    monkeypatch.setattr(knn, "K_MAX", 2)

    rng = np.random.default_rng(3)
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(9, dtype=np.int64),
        "p_lon": rng.uniform(-170, 170, 9),
        "p_lat": rng.uniform(-80, 80, 9),
    }))
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": np.array([0, 1], dtype=np.int64),
        "q_lon": np.array([0.0, 90.0]),
        "q_lat": np.array([0.0, -45.0]),
    }))
    got = _knn_rows(knn_hex(qs, pts, s_deg=1.0, k=3))
    want = _knn_rows(knn_bruteforce(qs, pts, k=3))
    assert got == want


def test_knn_hex_candidates_broadcast(spark):
    """The exploded query-disk side must broadcast (query set is small
    by definition) — the points side must never build a hash table."""
    from mapsplit_spark.operators.knn import _hex_assigned, _hex_probe

    pts = spark.range(500).selectExpr(
        "id AS point_id",
        "CAST(id % 360 - 180 AS DOUBLE) AS p_lon",
        "CAST(id % 170 / 2.0 - 42.0 AS DOUBLE) AS p_lat",
    )
    qs = spark.range(3).selectExpr(
        "id AS query_id", "CAST(id AS DOUBLE) AS q_lon", "CAST(id AS DOUBLE) AS q_lat")
    pt = _hex_assigned(pts, "point_id", "p_lon", "p_lat", 2.0)
    cands, _ = _hex_probe(qs, 1, pt, 2.0)
    plan = cands._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


# ------------------------------------------------------------- DWithin


def test_dwithin_matches_bruteforce(spark):
    """Global random points + a seam cluster + a polar cluster vs the
    numpy O(n²) brute force — exact pair-set equality including the
    rounded distances."""
    from mapsplit_spark.operators.dwithin import dwithin_pairs

    rng = np.random.default_rng(11)
    lon = np.concatenate([
        rng.uniform(-180, 180, 400),
        np.concatenate([rng.uniform(178.5, 180, 20), rng.uniform(-180, -178.5, 20)]),
        rng.uniform(-20, 20, 40),
    ])
    lat = np.concatenate([
        rng.uniform(-85, 85, 400),
        rng.uniform(-5, 5, 40),
        rng.uniform(82, 85, 40),
    ])
    d_km = 350.0
    ids = np.arange(len(lon), dtype=np.int64)
    pdf = pd.DataFrame({"pid": ids, "lon": lon, "lat": lat})
    got = sorted(
        tuple(r) for r in dwithin_pairs(
            spark.createDataFrame(pdf), "pid", "lon", "lat", d_km
        ).collect()
    )
    dm = np.round(_haversine_np(lat[:, None], lon[:, None],
                                lat[None, :], lon[None, :]), 6)
    ia, ib = np.nonzero((dm <= d_km) & (ids[:, None] < ids[None, :]))
    want = sorted(zip(ids[ia].tolist(), ids[ib].tolist(), dm[ia, ib].tolist()))
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    assert np.allclose([d for *_, d in got], [d for *_, d in want], atol=2e-6)


def test_dwithin_finds_antimeridian_pair(spark):
    from mapsplit_spark.operators.dwithin import dwithin_pairs

    pdf = pd.DataFrame({
        "pid": np.array([1, 2, 3], dtype=np.int64),
        "lon": [179.95, -179.95, 0.0],
        "lat": [10.0, 10.05, 10.0],
    })
    rows = dwithin_pairs(spark.createDataFrame(pdf), "pid", "lon", "lat",
                         50.0).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]


def test_dwithin_plan_has_no_cartesian(spark):
    import __spark_entry__ as entry

    df = entry.q_points_dwithin(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# ---------------------------------------------------------- trajectory


def test_trajectory_stats_matches_python(spark):
    """Hand-recomputed trace: unordered input rows, a ts tie broken by
    event id, and a single-point user (0 moves, net 0, NULL
    tortuosity)."""
    from mapsplit_spark.operators.geometry import trajectory_stats

    rows = pd.DataFrame({
        "user_id": [1, 1, 1, 1, 2],
        "ts": pd.to_datetime([
            "2024-01-01 00:02:00", "2024-01-01 00:00:00",
            "2024-01-01 00:01:00", "2024-01-01 00:01:00",
            "2024-03-05 12:00:00",
        ]),
        "event_id": [40, 10, 30, 20, 99],
        "lon": [13.5, 13.0, 13.2, 13.1, 50.0],
        "lat": [52.6, 52.0, 52.4, 52.2, 8.0],
    })
    got = {r.user_id: r for r in trajectory_stats(
        spark.createDataFrame(rows), "user_id", "ts", "event_id",
        "lon", "lat").collect()}

    # user 1 order by (ts, id): 10 → 20 → 30 → 40
    path = [(13.0, 52.0), (13.1, 52.2), (13.2, 52.4), (13.5, 52.6)]
    steps = [
        round(1e6 * float(_haversine_np(a[1], a[0], b[1], b[0])))
        for a, b in zip(path, path[1:])
    ]
    net = round(1e6 * float(_haversine_np(52.0, 13.0, 52.6, 13.5)))
    u1 = got[1]
    assert (u1.n_pts, u1.n_moves) == (4, 3)
    assert u1.path_mm == sum(steps)
    assert u1.max_step_mm == max(steps)
    assert u1.net_mm == net
    assert u1.duration_us == 120_000_000
    assert u1.tortuosity_pct == round(100.0 * sum(steps) / net)
    u2 = got[2]
    assert (u2.n_pts, u2.n_moves, u2.path_mm, u2.net_mm,
            u2.duration_us, u2.tortuosity_pct) == (1, 0, 0, 0, 0, None)


def test_trajectory_single_shuffle(spark):
    """Window and groupBy share the user partitioning — exactly one
    Exchange in the plan (exchange reuse, the polyline_stats shape)."""
    from mapsplit_spark.operators.geometry import trajectory_stats

    ev = spark.range(100).selectExpr(
        "id % 7 AS user_id",
        "timestamp_micros(CAST(id * 1000000 AS LONG)) AS ts",
        "id AS event_id",
        "CAST(id % 360 - 180 AS DOUBLE) AS lon",
        "CAST(id % 170 / 2.0 - 42.0 AS DOUBLE) AS lat",
    )
    plan = trajectory_stats(ev, "user_id", "ts", "event_id", "lon", "lat") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_knn_hex_rejects_zero_disk(spark):
    import pytest

    from mapsplit_spark.operators.knn import _hex_assigned, _hex_coverage_km

    qs = spark.range(1).selectExpr("id AS query_id", "0.0 AS q_lon", "0.0 AS q_lat")
    qt = _hex_assigned(qs, "query_id", "q_lon", "q_lat", 1.0)
    with pytest.raises(ValueError, match="k >= 1"):
        _hex_coverage_km(qt, 0, 1.0)
