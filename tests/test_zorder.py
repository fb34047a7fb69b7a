"""The stored tile layout (Z-order key on the z16 curve, cell
directories): quadtree bbox decomposition correctness, scan equality vs
naive filter, predicate pushdown, the layout property that makes
skipping effective (disjoint tight per-file stats), and the write-time
domain guards."""

from __future__ import annotations

import glob

import pytest

from mapsplit_spark.sinks.zorder import (
    _morton_int,
    bbox_morton_ranges,
    merge_ranges,
    read_tiles_bbox,
    tile_key_range,
    write_tiles,
)


def test_bbox_ranges_cover_exactly(spark):
    """Under the range budget (these boxes need at most 36 ranges, the
    budget is 64, so nothing merges) the decomposition covers EXACTLY
    the bbox cells — random boxes, brute-force morton enumeration."""
    import numpy as np

    rng = np.random.default_rng(3)
    for _ in range(20):
        x0, y0 = rng.integers(0, 60, 2)
        x1, y1 = x0 + rng.integers(0, 20), y0 + rng.integers(0, 20)
        ranges = bbox_morton_ranges(int(x0), int(y0), int(x1), int(y1))
        covered = set()
        for lo, hi in ranges:
            covered.update(range(lo, hi + 1))
        exact = {_morton_int(x, y)
                 for x in range(int(x0), int(x1) + 1)
                 for y in range(int(y0), int(y1) + 1)}
        assert covered == exact


def test_bbox_ranges_cap_is_superset(spark):
    ranges = merge_ranges(bbox_morton_ranges(3, 5, 40, 33), 4)
    assert len(ranges) <= 4
    exact = {_morton_int(x, y) for x in range(3, 41) for y in range(5, 34)}
    covered = set()
    for lo, hi in ranges:
        covered.update(range(lo, hi + 1))
    assert exact <= covered  # superset ok — x/y re-filter restores exact


def test_empty_bbox(spark):
    assert bbox_morton_ranges(5, 5, 4, 9) == []


@pytest.fixture(scope="module")
def zorder_path(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("zo") / "tiles")
    tiles = spark.range(20000).selectExpr(
        "CAST(id % 160 AS INT) AS tile_x",
        "CAST(CAST(id / 160 AS INT) AS INT) AS tile_y",
        "id AS element_id",
    )
    write_tiles(tiles, out, 8)
    return out


def test_bbox_scan_equals_naive(spark, zorder_path):
    got = read_tiles_bbox(spark, zorder_path, 8, 10, 20, 25, 40)
    naive = (
        spark.read.parquet(zorder_path)
        .filter("tile_x BETWEEN 10 AND 25 AND tile_y BETWEEN 20 AND 40")
    )
    assert sorted(r.element_id for r in got.collect()) == \
           sorted(r.element_id for r in naive.collect())
    assert got.count() == 16 * 21


def test_bbox_predicate_reaches_parquet_scan(spark, zorder_path):
    plan = read_tiles_bbox(spark, zorder_path, 8, 10, 20, 25, 40) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "key" in plan.split("PushedFilters")[1][:200]
    assert "cell" in plan.split("PartitionFilters")[1][:200]


def test_layout_skips_most_files_for_small_bbox(zorder_path):
    """The property that matters at 100 TB: per-file key min-max
    intervals are disjoint and tight (range layout), so a small bbox
    intersects few files.  Checked against the actual parquet footers."""
    import pyarrow.parquet as pq

    stats = []
    for f in glob.glob(f"{zorder_path}/cell=*/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["key"]
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx).statistics
            mins.append(s.min)
            maxs.append(s.max)
        stats.append((min(mins), max(maxs)))
    assert len(stats) >= 16
    # files form non-overlapping key intervals
    stats.sort()
    assert all(stats[i][1] <= stats[i + 1][0] for i in range(len(stats) - 1))
    # a 4×4 bbox touches <= 25% of files
    ranges = bbox_morton_ranges(40, 40, 43, 43, zoom=8)
    hit = sum(
        1 for lo_f, hi_f in stats
        if any(not (hi < lo_f or lo > hi_f) for lo, hi in ranges)
    )
    assert hit <= len(stats) // 4


def test_write_raises_outside_morton_domain(spark, tmp_path):
    """ADVICE r3: coords ≥ 2^zoom would alias to wrong keys and be
    silently DROPPED by the bbox range scan — the write must refuse them
    loudly (guard rides the write pass via raise_error, no extra scan)."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("point_id"),
        (F.col("id") + (1 << 16) - 2).alias("tile_x"),  # ids 2,3 overflow
        F.lit(5).alias("tile_y"),
    )
    with pytest.raises(Exception, match="morton domain"):
        write_tiles(df, str(tmp_path / "zo"), 16)


def test_write_raises_on_null_coord_with_literal_message(spark, tmp_path):
    """ADVICE r4: NULL coords fell through to the out-of-domain arm,
    where concat(NULL) made raise_error abort with a NULL message —
    nulls need their own arm with a self-explanatory literal."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        F.col("id").alias("point_id"),
        F.when(F.col("id") == 2, None).otherwise(F.col("id")).alias("tile_x"),
        F.lit(5).alias("tile_y"),
    )
    with pytest.raises(Exception, match="NULL tile coord"):
        write_tiles(df, str(tmp_path / "zo"), 16)


def test_key_interval_holds_descendants_and_zooms_share_one_curve():
    """A tile's key interval is exactly its z16 descendants' keys, the
    bbox decomposition at zoom z is the z16 decomposition of the same
    area, and the cell (key >> 24) is the z4 ancestor."""
    lo, hi = tile_key_range(5, 9, 14)
    assert (lo, hi) == (_morton_int(20, 36), _morton_int(23, 39))
    assert hi - lo + 1 == 16
    assert bbox_morton_ranges(5, 9, 5, 9, zoom=14) == [(lo, hi)]
    assert bbox_morton_ranges(3, 5, 7, 9, zoom=12) == \
        bbox_morton_ranges(48, 80, 127, 159)
    x, y = 40000, 1234
    assert _morton_int(x, y) >> 24 == _morton_int(x >> 12, y >> 12)


def test_write_keys_per_row_zoom(spark, tmp_path):
    """A per-row ``zoom`` column places each tile on the z16 curve at its
    own zoom: a z2 tile and its z4 descendant share the z4 cell, and
    a zoom above 16 is refused."""
    df = spark.createDataFrame([(2, 1, 3), (4, 5, 13)],
                               "zoom int, tile_x int, tile_y int")
    path = str(tmp_path / "multi")
    write_tiles(df, path, 13)
    got = {(r.zoom, r.key, r.cell) for r in spark.read.parquet(path).collect()}
    k2, k4 = tile_key_range(1, 3, 2)[0], tile_key_range(5, 13, 4)[0]
    assert got == {(2, k2, k2 >> 24), (4, k4, k4 >> 24)}
    assert k2 <= k4 <= tile_key_range(1, 3, 2)[1]

    bad = spark.createDataFrame([(17, 0, 0)], "zoom int, tile_x int, tile_y int")
    with pytest.raises(Exception, match="morton domain"):
        write_tiles(bad, str(tmp_path / "bad"), 13)
