"""M1 e2e — Spark assignment operator + manifests vs the numpy oracle.

This is the engine's golden-manifest gate (FIXTURES.md §5): the Spark
pipeline (Column-expression assignment → explode → salted two-phase
manifest aggregation) must reproduce the oracle's (tile → sorted ids)
manifests exactly, plus the reference invariants — completeness (every
element in ≥1 tile, README.md:10-12) and no duplicates within a tile.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest

from mapsplit_spark.operators.assign import assign_and_expand, assign_tiles, with_tile_id
from mapsplit_spark.sinks.manifests import tile_counts, tile_manifests
from tests import oracle

ZOOM, BORDER = 13, 0.1


@pytest.fixture(scope="module")
def points(spark, images_dir):
    df = spark.read.parquet(f"{images_dir}/images.parquet")
    return df.select("image_id", "lon", "lat")


@pytest.fixture(scope="module")
def golden(images_dir):
    t = pq.read_table(f"{images_dir}/images.parquet", columns=["image_id", "lon", "lat"])
    ids = np.array(t["image_id"])
    lon = np.array(t["lon"])
    lat = np.array(t["lat"])
    return ids, lon, lat


def test_spark_assignment_matches_oracle_pairs(points, golden):
    ids, lon, lat = golden
    expect = oracle.assignment_pairs(ids, lon, lat, ZOOM, BORDER)
    got = {
        (r.element_id, r.tile_x, r.tile_y)
        for r in assign_and_expand(points, "image_id", "lon", "lat", ZOOM, BORDER).collect()
    }
    assert got == expect


def test_manifests_match_oracle_exactly(spark, points, golden):
    ids, lon, lat = golden
    expect = oracle.manifests(ids, lon, lat, ZOOM, BORDER)
    pairs = assign_and_expand(points, "image_id", "lon", "lat", ZOOM, BORDER)
    rows = tile_manifests(pairs, ZOOM).collect()
    got = {(r.tile_x, r.tile_y): list(r.element_ids) for r in rows}
    assert got == expect
    for r in rows:
        assert r.zoom == ZOOM and r.n == len(r.element_ids)


def test_completeness_and_no_duplicates(points, golden):
    ids, _, _ = golden
    pairs = assign_and_expand(points, "image_id", "lon", "lat", ZOOM, BORDER)
    pdf = pairs.toPandas()
    # completeness: every input element appears in ≥ 1 tile
    assert set(pdf["element_id"]) == set(ids.tolist())
    # no duplicate (element, tile) pairs
    assert not pdf.duplicated(["element_id", "tile_x", "tile_y"]).any()


def test_tile_counts_match_oracle(points, golden):
    ids, lon, lat = golden
    expect = {k: len(v) for k, v in oracle.manifests(ids, lon, lat, ZOOM, BORDER).items()}
    got = {
        (r.tile_x, r.tile_y): r.n
        for r in tile_counts(
            assign_and_expand(points, "image_id", "lon", "lat", ZOOM, BORDER)
        ).collect()
    }
    assert got == expect


def test_tile_id_packing_column(points):
    df = with_tile_id(
        assign_and_expand(points, "image_id", "lon", "lat", ZOOM, BORDER), ZOOM
    )
    r = df.first()
    z, x, y = oracle.unpack_zxy(np.int64(r.tile_id))
    assert (int(z), int(x), int(y)) == (ZOOM, r.tile_x, r.tile_y)


def test_plan_is_codegen_no_udf(points):
    """The assignment stage must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython in the physical plan, scan prunes to 3 columns."""
    plan = assign_tiles(points, "image_id", "lon", "lat", ZOOM, BORDER)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert plan.lstrip().startswith("*(")  # '*' = whole-stage-codegen stage
    # column pruning reached the scan: only the 3 needed columns are read
    assert "ReadSchema: struct<image_id:string,lat:double,lon:double>" in plan


def test_manifests_salted_two_phase_with_zoom_column(derived_pairs):
    """Salted two-phase manifest aggregation must survive the per-row
    zoom column path (optimized runs): two exchanges, salt in the first
    grouping only."""
    from pyspark.sql import functions as F

    # a genuinely varying zoom column (constant zooms fold away)
    tiled = derived_pairs.select(
        "element_id",
        F.when(F.col("tile_x") % 2 == 0, 12).otherwise(13).alias("zoom"),
        "tile_x", "tile_y",
    )
    plan = tile_manifests(tiled, 12, assume_distinct=True)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 2
    assert "salt" in plan
    # zoom participates in the shuffle partitioning keys
    assert any("hashpartitioning(zoom" in ln for ln in plan.splitlines())
