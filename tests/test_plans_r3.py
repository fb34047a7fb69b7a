"""Physical-plan invariants for the round-3 refinements — pins the
semi-naive fixed point joining the DELTA plus the sharded-export shuffle
shape (the kNN bit-shift coarsening pin lives in tests/test_knn.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_semi_naive_step_joins_delta_not_accumulated(spark):
    """J4: each fixed-point iteration's derive join consumes the DELTA
    (small, shrinking) exactly once; the accumulated relation appears
    only in the dedup anti-join.  A naive implementation would scan the
    accumulated relation twice — the join input would grow every
    iteration instead of shrinking."""
    from mapsplit_spark.operators.propagate import _semi_naive_step

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "dst long, src long"
    )
    # distinguishable sources: delta = Range(0,7), resolved = Range(0,9000)
    delta = spark.range(7).selectExpr(
        "id AS element_id", "id AS tile_x", "id AS tile_y"
    )
    resolved = spark.range(9000).selectExpr(
        "id AS element_id", "id AS tile_x", "id AS tile_y"
    )
    plan = _plan(_semi_naive_step(edges, delta, resolved))
    assert plan.count("Range (0, 7,") == 1, "delta must feed the derive join once"
    assert plan.count("Range (0, 9000,") == 1, \
        "accumulated relation may appear ONLY in the anti-join"
    assert "LeftAnti" in plan


def test_sharded_mbtiles_partitions_by_shard_key(spark):
    """The sharded export repartitions by the shard hash (one shard never
    splits across partitions) and nothing else — a single exchange above
    the tile-row projection."""
    from mapsplit_spark.sinks.manifests import tile_manifests
    from mapsplit_spark.sinks.mbtiles import mbtiles_tile_rows

    pairs = spark.range(500).select(
        F.col("id").alias("element_id"),
        (F.col("id") % 50).alias("tile_x"),
        (F.col("id") % 37).alias("tile_y"),
    )
    man = tile_manifests(pairs, 13, assume_distinct=True)
    rows = mbtiles_tile_rows(man, 13).withColumn(
        "shard", F.pmod(F.xxhash64("tile_column", "tile_row"), F.lit(8))
    ).repartition(8, "shard")
    plan = _plan(rows)
    assert plan.count("Exchange hashpartitioning(shard") == 1
