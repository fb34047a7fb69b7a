"""Physical-plan invariants for the round-2 operators — the properties
that make them 100-TB-shaped, asserted so refactors can't silently
regress them (same approach as test_assign_spark's codegen checks)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pairs(spark):
    from mapsplit_spark import sqlgen
    from mapsplit_spark.operators.assign import assign_and_expand

    pts = spark.range(2000).select(
        F.col("id").alias("event_id"),
        F.expr(sqlgen.derived_lon_sql("id")).alias("lon"),
        F.expr(sqlgen.derived_lat_sql("id")).alias("lat"),
    )
    return assign_and_expand(pts, "event_id", "lon", "lat", 13, 0.1)


def test_clip_ring_python_only_on_distinct_tiles(spark, pairs):
    """P8/P9: the numpy PIP runs on DISTINCT tiles only and the kept set
    broadcast-semi-joins back — the big pair relation never reshuffles
    nor enters Python."""
    from mapsplit_spark.operators.clip import clip_assignments, clip_tiles, make_ring

    outers = [make_ring([(-60.0, -50.0), (20.0, -55.3), (35.0, 55.7), (-55.2, 60.3)])]
    kept = clip_tiles(pairs.select("tile_x", "tile_y").distinct(), outers, [], 13)
    plan = _plan(clip_assignments(pairs, kept))
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # Python consumes ONLY the deduplicated (tile_x, tile_y) side — the
    # raw pair relation (element_id) never enters the Python stage
    mip_line = next(ln for ln in plan.splitlines() if "MapInPandas" in ln)
    assert "element_id" not in mip_line


def test_tile_merge_broadcasts_remap_and_buckets_walk(spark, pairs):
    """§2.5: the histogram walk runs in bounded Python buckets
    (FlatMapGroupsInPandas on the bucket key) and the remap joins back
    as a broadcast — the pair relation is never shuffled for the remap."""
    from mapsplit_spark.operators.optimize import merged_assignments

    plan = _plan(merged_assignments(pairs, 13, node_limit=5))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "bucket" in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan


def test_holefill_python_gated_behind_min_tiles(spark, pairs):
    """§2.6: rows reach Python only after the ≥8-tile group gate (a
    semi-join against the count aggregate)."""
    from mapsplit_spark.operators.holefill import fill_holes

    g = pairs.withColumnRenamed("element_id", "group_id")
    plan = _plan(fill_holes(g))
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("count(") >= 1  # the pre-gate aggregate exists


def test_manifests_salted_two_phase_with_zoom_column(spark, pairs):
    """Salted two-phase manifest aggregation must survive the per-row
    zoom column path (optimized runs): two exchanges, salt in the first
    grouping only."""
    from mapsplit_spark.sinks.manifests import tile_manifests

    # a genuinely varying zoom column (constant zooms fold away)
    tiled = pairs.select(
        "element_id",
        F.when(F.col("tile_x") % 2 == 0, 12).otherwise(13).alias("zoom"),
        "tile_x", "tile_y",
    )
    plan = _plan(tile_manifests(tiled, 12, assume_distinct=True))
    assert plan.count("Exchange") == 2
    assert "salt" in plan
    # zoom participates in the shuffle partitioning keys
    assert any("hashpartitioning(zoom" in ln for ln in plan.splitlines())


def test_lsh_bucket_cap_single_exchange_no_python(spark):
    """Candidate generation (including the hot-bucket cap) is ONE
    grouped exchange + map-side pair expansion — no Python, no join,
    no cartesian (the round-3 single-shuffle formulation; the earlier
    aggregate+semi-join shape cost 5 passes over the banded relation)."""
    from mapsplit_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        with_shingle_hashes,
    )

    docs = spark.createDataFrame(
        [(f"d{i}", f"text body number {i} with several words") for i in range(20)],
        "doc_id string, text string",
    )
    sigs = minhash_signatures(with_shingle_hashes(docs), 32,
                              id_col="doc_id")
    plan = _plan(lsh_candidate_pairs(sigs, bands=8, max_bucket=64))
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # map-side expansion, not a self-join
    # r4 memory-safe shape: window-annotated cold/hot Union — the banded
    # exchange appears once per branch pre-AQE (runtime-reused: pinned in
    # test_dedup.test_hot_bucket_exchange_reused_and_not_collected) plus
    # the final distinct
    assert plan.count("Exchange hashpartitioning(band") == 2
    assert plan.count("Exchange") == 3
