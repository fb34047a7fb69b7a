"""Zoom-extreme edge cases: z=0 single-tile world, z=16 max zoom
(Const.java:14 — 16-bit tile coords)."""

from __future__ import annotations

import numpy as np

from mapsplit_spark import tilemath as tm
from mapsplit_spark.operators.assign import assign_and_expand
from tests import oracle


def test_zoom_zero_everything_in_one_tile():
    lon = np.array([-179.9, 0.0, 179.9])
    lat = np.array([84.0, 0.0, -84.0])
    tx, ty, nb = tm.assign(lon, lat, zoom=0, border=0.2)
    assert (tx == 0).all() and (ty == 0).all()
    # no neighbours exist at z0 — probes clamp back into tile 0
    assert (nb == 0).all()


def test_zoom_max_corner_tiles():
    z = 16
    n = (1 << z) - 1
    assert int(tm.lon2tx(179.999999, z)) == n
    assert int(tm.lat2ty(-85.0511, z)) == n
    assert int(tm.lon2tx(-180.0, z)) == 0
    t = tm.pack_zxy(z, n, n)
    uz, ux, uy = oracle.unpack_zxy(t)
    assert (int(uz), int(ux), int(uy)) == (z, n, n)


def test_spark_assign_zoom_zero(spark):
    df = spark.createDataFrame(
        [("a", -179.9, 84.0), ("b", 179.9, -84.0)], "id string, lon double, lat double"
    )
    rows = assign_and_expand(df, "id", "lon", "lat", 0, 0.3).collect()
    assert {(r.element_id, r.tile_x, r.tile_y) for r in rows} == {("a", 0, 0), ("b", 0, 0)}
