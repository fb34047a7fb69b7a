"""M0 unit tests — tile math kernel vs reference semantics.

Ports the reference unit/e2e scenarios that are pure tile math:
* TileCoordTest.java:12-27   — pack/unpack round trips
* SplitTest.splitNearLatLonBounds (SplitTest.java:142-157) — clamping
* SplitTest.splitBorderTest (SplitTest.java:162-177) — neighbour bits
plus numpy↔DuckDB formula parity (the oracle-gate guarantee).
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from mapsplit_spark import geo, sqlgen
from mapsplit_spark import tilemath as tm
from tests import oracle


def test_pack_unpack_roundtrip():
    rng = np.random.default_rng(0)
    x = rng.integers(0, 1 << 16, 500)
    y = rng.integers(0, 1 << 16, 500)
    px, py = oracle.unpack_xy(oracle.pack_xy(x, y))
    assert (px == x).all() and (py == y).all()
    z = rng.integers(0, 17, 500)
    uz, ux, uy = oracle.unpack_zxy(tm.pack_zxy(z, x, y))
    assert (uz == z).all() and (ux == x).all() and (uy == y).all()


def test_extreme_coords_clamp_to_corner_tiles():
    # ports splitNearLatLonBounds: 4 extreme points → the 4 corner tiles at z13
    z = 13
    n = (1 << z) - 1
    lons = np.array([-180.0, -180.0, 180.0, 180.0, -181.0, 181.0])
    lats = np.array([85.0511, -85.0511, 85.0511, -85.0511, 86.0, -86.0])
    tx = tm.lon2tx(lons, z)
    ty = tm.lat2ty(lats, z)
    assert tx.tolist() == [0, 0, n, n, 0, n]
    assert ty.tolist() == [0, n, 0, n, 0, n]


def test_border_corner_point_in_all_four_tiles():
    # ports splitBorderTest: z=1, border=0.1, point just NW of the world
    # center corner is a member of all four z1 tiles via E+S+SE bits
    tx, ty, nb = tm.assign(np.array([-0.1]), np.array([0.1]), zoom=1, border=0.1)
    assert (tx[0], ty[0]) == (0, 0)
    assert nb[0] == tm.NEIGHBOURS_SOUTH_EAST
    _, xs, ys = tm.expand(tx, ty, nb)
    assert set(zip(xs.tolist(), ys.tolist())) == {(0, 0), (1, 0), (0, 1), (1, 1)}


def test_border_west_normalization():
    # a point just EAST of a tile boundary gets the WEST tile as base
    # (tileX decremented) + EAST bit — MapSplit.java:421-424
    z = 13
    edge = tm.tile2lon(4096, z)  # boundary longitude
    tx, ty, nb = tm.assign(np.array([edge + 1e-9]), np.array([10.0]), z, border=0.1)
    assert tx[0] == 4095
    assert nb[0] & tm.NEIGHBOURS_EAST


def test_tile2lat_lon_inverse():
    z = 13
    for v in [0, 1, 100, 4096, 8191]:
        lon = tm.tile2lon(v, z)
        lat = tm.tile2lat(v, z)
        assert tm.lon2tx(lon + 1e-9, z) == v
        # lat edges: north edge of tile v maps back into tile v (or v-1 at fp edge)
        assert abs(tm.lat2ty(lat - 1e-9, z) - v) <= 0


def test_bordered_bound_clamps_to_world():
    l, r, t, b = tm.tile_bound(0, 0, 1, border=0.4)
    assert l == tm.MIN_LON and t == tm.MAX_LAT
    assert r > 0 and b < 0


@pytest.mark.parametrize("zoom,border", [(1, 0.1), (13, 0.0), (13, 0.1), (16, 0.2)])
def test_numpy_duckdb_formula_parity(zoom, border):
    idx = np.arange(3000)
    lat, lon = geo.geo(idx)
    lon = np.concatenate([lon, [-180.0, 179.999999, 0.0, -1e-12]])
    lat = np.concatenate([lat, [85.0511, -85.0511, 1e-12, 0.0]])
    ids = np.arange(len(lon))
    expect = {
        (int(i), int(x), int(y))
        for i, x, y in zip(*[a.tolist() if hasattr(a, "tolist") else a for a in (
            ids[tm.expand(*tm.assign(lon, lat, zoom, border))[0]],
            tm.expand(*tm.assign(lon, lat, zoom, border))[1],
            tm.expand(*tm.assign(lon, lat, zoom, border))[2],
        )])
    }
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"element_id": ids, "lon": lon, "lat": lat}))
    q = sqlgen.expand_union_sql(
        sqlgen.assign_cte_sql("pts", "element_id", "lon", "lat", zoom, border)
    )
    got = {(int(a), int(b), int(c)) for a, b, c in con.sql(q).fetchall()}
    assert got == expect


def test_geo_deterministic_and_skewed():
    lat1, lon1 = geo.geo(np.arange(5000))
    lat2, lon2 = geo.geo(np.arange(5000))
    assert (lat1 == lat2).all() and (lon1 == lon2).all()
    assert (lat1 <= tm.MAX_LAT).all() and (lat1 >= tm.MIN_LAT).all()
    # skew: the hottest z13 tile should hold far more than uniform share
    tx = tm.lon2tx(lon1, 13)
    ty = tm.lat2ty(lat1, 13)
    _, counts = np.unique(tx << 16 | ty, return_counts=True)
    assert counts.max() > 50  # uniform expectation ≪ 1 per tile
