"""M4 — polygon clip tests (ports splitAndClip / splitNoOptimize,
SplitTest.java:108-137: a tile outside the polygon must be absent after
clipping and present without it)."""

from __future__ import annotations

import pytest

from mapsplit_spark import tilemath as tm
from mapsplit_spark.operators.assign import assign_and_expand
from mapsplit_spark.operators.clip import (
    clip_assignments,
    clip_points,
    clip_tiles,
    load_rings,
    make_ring,
)
from tests import oracle

ZOOM = 13


@pytest.fixture(scope="module")
def polys(spark, images_dir):
    return spark.read.parquet(f"{images_dir}/clip_polygons.parquet")


def test_load_rings(polys):
    outers, inners = load_rings(polys, "donut")
    assert len(outers) == 1 and len(inners) == 1
    outers, inners = load_rings(polys, "vaduz")
    assert len(outers) == 1 and not inners


def test_load_rings_unknown_poly_id_raises(polys):
    """A poly id that selects no outer ring would clip every tile away;
    it fails instead, naming the id."""
    with pytest.raises(ValueError, match="'typo'"):
        load_rings(polys, "typo")


def test_clip_tiles_matches_oracle(spark, polys):
    outers, inners = load_rings(polys, "donut")
    cx = float(outers[0][0][:, 0].mean())
    cy = float(outers[0][0][:, 1].mean())
    # a grid of tiles spanning inside, hole, and outside of the polygon
    base_x = int(tm.lon2tx(cx, ZOOM))
    base_y = int(tm.lat2ty(cy, ZOOM))
    tiles = [
        (base_x + dx, base_y + dy) for dx in range(-60, 61, 5) for dy in range(-60, 61, 5)
    ]
    df = spark.createDataFrame(tiles, "tile_x long, tile_y long")
    got = {(r.tile_x, r.tile_y) for r in clip_tiles(df, outers, inners, ZOOM).collect()}
    o_rings = [o[0] for o in outers]
    i_rings = [i[0] for i in inners]
    expect = {
        (x, y) for x, y in tiles if oracle.tile_in_polygon(x, y, ZOOM, o_rings, i_rings)
    }
    assert got == expect
    assert 0 < len(got) < len(tiles)  # clip actually includes AND excludes


def test_clip_points_and_assignments(spark, polys, images_dir):
    outers, inners = load_rings(polys, "vaduz")
    imgs = spark.read.parquet(f"{images_dir}/images.parquet").select("image_id", "lon", "lat")
    pairs = assign_and_expand(imgs, "image_id", "lon", "lat", ZOOM, 0.1)
    tiles = pairs.select("tile_x", "tile_y").distinct()
    kept = clip_tiles(tiles, outers, inners, ZOOM)
    clipped = clip_assignments(pairs, kept)
    n_all, n_clip = pairs.count(), clipped.count()
    assert 0 < n_clip < n_all  # polygon covers cluster 0 → nonempty strict subset
    # exact point mode agrees with a numpy recomputation
    pts = clip_points(imgs, outers, inners).collect()
    ring = outers[0][0]
    for r in pts[:50]:
        assert oracle.point_in_ring(r.lon, r.lat, ring)


def test_clip_ring_python_only_on_distinct_tiles(spark, derived_pairs):
    """P8/P9: the numpy PIP runs on DISTINCT tiles only and the kept set
    broadcast-semi-joins back — the big pair relation never reshuffles
    nor enters Python."""
    outers = [make_ring([(-60.0, -50.0), (20.0, -55.3), (35.0, 55.7), (-55.2, 60.3)])]
    kept = clip_tiles(derived_pairs.select("tile_x", "tile_y").distinct(), outers, [], 13)
    plan = clip_assignments(derived_pairs, kept)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # Python consumes ONLY the deduplicated (tile_x, tile_y) side — the
    # raw pair relation (element_id) never enters the Python stage
    mip_line = next(ln for ln in plan.splitlines() if "MapInPandas" in ln)
    assert "element_id" not in mip_line
