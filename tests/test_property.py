"""Property-based invariants (hypothesis) for the tile-math kernel and
a hot-tile skew check for the salted manifest aggregation."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from mapsplit_spark import tilemath as tm
from tests import oracle

lons = st.floats(min_value=-185.0, max_value=185.0, allow_nan=False)
lats = st.floats(min_value=-89.0, max_value=89.0, allow_nan=False)
zooms = st.integers(min_value=0, max_value=16)
borders = st.floats(min_value=0.0, max_value=0.49)


@settings(max_examples=300, deadline=None)
@given(lon=lons, lat=lats, zoom=zooms)
def test_tile_indices_always_in_range(lon, lat, zoom):
    n = 1 << zoom
    tx = int(tm.lon2tx(lon, zoom))
    ty = int(tm.lat2ty(lat, zoom))
    assert 0 <= tx < n and 0 <= ty < n


@settings(max_examples=300, deadline=None)
@given(lon=lons, lat=lats, zoom=st.integers(min_value=1, max_value=16),
       border=borders)
def test_expansion_tiles_adjacent_and_contain_base(lon, lat, zoom, border):
    tx, ty, nb = tm.assign(np.array([lon]), np.array([lat]), zoom, border)
    _, xs, ys = tm.expand(tx, ty, nb)
    tiles = set(zip(xs.tolist(), ys.tolist()))
    assert 1 <= len(tiles) <= 4
    # member tiles form a contiguous 2x2-at-most block around the base
    assert all(t[0] - tx[0] in (0, 1) and t[1] - ty[0] in (0, 1) for t in tiles)
    # without border, the base tile is exactly the clamped projection
    if border == 0.0:
        assert tiles == {(int(tm.lon2tx(lon, zoom)), int(tm.lat2ty(lat, zoom)))}


@settings(max_examples=200, deadline=None)
@given(lon=st.floats(min_value=-179.99, max_value=179.99, allow_nan=False),
       lat=st.floats(min_value=-84.9, max_value=84.9, allow_nan=False),
       zoom=st.integers(min_value=1, max_value=16), border=borders)
def test_point_inside_every_member_tiles_bordered_bbox(lon, lat, zoom, border):
    """Border-expansion containment, with the reference's exact slack:
    the E/W probes use the constant tile width (exact containment), but
    the N/S probes use the POINT's tile height (deltaY,
    MapSplit.java:372-382) — at high borders a point can be a member of
    a Mercator-shorter neighbour tile whose own bordered bbox is
    smaller, so the lat tolerance is border × the point-tile height.
    (Found by hypothesis: lat=74, z=3, border=0.4375.)"""
    tx, ty, nb = tm.assign(np.array([lon]), np.array([lat]), zoom, border)
    _, xs, ys = tm.expand(tx, ty, nb)
    eps = 1e-9
    own_ty = int(tm.lat2ty(lat, zoom))
    own_h = abs(float(tm.tile2lat(own_ty, zoom)) - float(tm.tile2lat(own_ty + 1, zoom)))
    lat_slack = border * own_h + eps
    for x, y in zip(xs.tolist(), ys.tolist()):
        left, right, top, bottom = tm.tile_bound(x, y, zoom, border)
        assert left - eps <= lon <= right + eps  # X: exact containment
        t0 = float(tm.tile2lat(y, zoom))
        b0 = float(tm.tile2lat(y + 1, zoom))
        assert b0 - lat_slack <= lat <= t0 + lat_slack


@settings(max_examples=100, deadline=None)
@given(st.sets(st.tuples(st.integers(0, 40), st.integers(0, 40)),
               min_size=1, max_size=60))
def test_holefill_oracle_invariants(tiles):
    holes = oracle.hole_fill(tiles)
    assert not (holes & tiles)  # holes are new tiles
    if holes:
        xs = [t[0] for t in tiles]
        ys = [t[1] for t in tiles]
        for hx, hy in holes:
            assert min(xs) < hx < max(xs) or min(ys) < hy < max(ys)


def test_salted_manifest_handles_hot_tile(spark, monkeypatch):
    """Worst-case skew: every element in ONE tile; the salted two-phase
    aggregation must still produce one correct sorted manifest row."""
    from mapsplit_spark.sinks import manifests
    from mapsplit_spark.sinks.manifests import tile_manifests

    monkeypatch.setattr(manifests, "N_SALTS", 16)

    n = 20_000
    df = spark.range(n).selectExpr(
        "concat('e', lpad(cast(id as string), 8, '0')) AS element_id",
        "cast(500 as long) AS tile_x", "cast(600 as long) AS tile_y",
    )
    rows = tile_manifests(df, 13, assume_distinct=True).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n == n
    assert list(r.element_ids) == sorted(r.element_ids)
    assert r.element_ids[0] == "e00000000" and r.element_ids[-1] == f"e{n-1:08d}"


@settings(max_examples=100, deadline=None)
@given(st.sets(st.tuples(st.integers(0, 60), st.integers(0, 60)),
               min_size=1, max_size=80))
def test_compressed_fill_equals_fullgrid_oracle(tiles):
    """The coordinate-compressed frontier BFS (operators/holefill._fill_one)
    must be BIT-EQUAL to the full-grid BFS oracle on arbitrary tile sets —
    the compression-preserves-connectivity claim, property-tested."""
    import numpy as np

    from mapsplit_spark.operators.holefill import _fill_one

    xs = np.array([t[0] for t in tiles], dtype=np.int64)
    ys = np.array([t[1] for t in tiles], dtype=np.int64)
    assert set(_fill_one(xs, ys)) == oracle.hole_fill(tiles)


@settings(max_examples=60, deadline=None)
@given(st.sets(st.tuples(st.integers(0, 60), st.integers(0, 60)),
               min_size=1, max_size=40),
       st.integers(50, 5000))
def test_compressed_fill_scatter_invariance(tiles, spread):
    """Scaling a tile set's coordinates by an arbitrary factor must not
    change its hole STRUCTURE when gaps already exceed adjacency — the
    bbox-independence property that replaced the old grid cap.  (Any
    tile set spread so that former neighbours are >1 apart encloses
    nothing: every member is isolated.)"""
    import numpy as np

    from mapsplit_spark.operators.holefill import _fill_one

    xs = np.array([t[0] * spread for t in tiles], dtype=np.int64)
    ys = np.array([t[1] * spread for t in tiles], dtype=np.int64)
    if spread > 1:
        assert _fill_one(xs, ys) == []  # isolated members → no holes
