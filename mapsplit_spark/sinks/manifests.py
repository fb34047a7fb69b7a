"""S6 analog — per-tile manifest assembly (the stored tile layout is
``sinks.zorder.write_tiles``).

The reference writes per-tile PBF files by re-scanning the whole input
once per batch of ≤ maxFiles open tiles (MapSplit.java:1156-1409).  In
Spark the entire multi-scan machinery collapses into ONE shuffle: the
exploded (element_id, tile) assignment DataFrame is aggregated by tile.

Skew: dense "urban" tiles are exactly the hot keys the north rule calls
out.  ``tile_manifests`` therefore aggregates in TWO phases — a salted
partial ``collect_list`` (map-side width = ``N_SALTS`` per hot tile) and
a small merge of the per-salt chunks — so no single reducer receives an
entire hot tile's rows in one task.  With AQE on, Spark additionally
splits stragglers at runtime; the salt makes the plan robust even where
AQE's post-shuffle splitting can't help (single-key aggregation).
Salting never changes output values (ids re-sort in phase 2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# salts per tile in the partial phase, measured, not guessed: on an
# 8M-row input with 50% of elements in ONE tile, 1/8/32 salts take
# 19.4/21.7/4.6 s (local[32]) — 8 salts still leaves 500k-element chunks
# per task; on a uniform 20M-row input 32 salts is also ≥20% faster
# than 8 (BASELINE.md round 2)
N_SALTS = 32


def tile_manifests(assignments: DataFrame, zoom: int,
                   assume_distinct: bool = False,
                   chunked: bool = False) -> DataFrame:
    """(element_id, tile_x, tile_y) → (zoom, tile_x, tile_y, element_ids sorted, n).

    Golden-output shape per FIXTURES.md §5.  Duplicate (element, tile)
    pairs are removed first — the engine's defined semantics
    (SURVEY.md §2.7: distinct pairs, unlike the reference's unoptimized
    duplicate-write quirk at AbstractOsmMap.java:102).  A distinct
    input skips that dedupe shuffle (1 of 3 exchanges, ~1/3 of shuffled
    bytes) with ``assume_distinct=True``, as the pipeline passes: both
    assign→expand and ``session_assignments`` (J2/J5/J6, see the
    ``propagate`` module docstring) emit distinct rows.

    ``chunked=True`` stops after the salted partial aggregation and
    emits (zoom, tile_x, tile_y, salt, element_ids, n) CHUNK rows
    (per-chunk sorted; the union of a tile's chunks is its manifest).
    This is the shape that survives a pathological megatile: the flat
    form must assemble one tile's full id array in a SINGLE task — a
    measured salt-invariant bottleneck (BASELINE.md round 3: a 4 M-id
    tile builds its final array single-threaded no matter how the
    partial phase is salted) and an OOM bound at 100 TB — while chunk
    rows are bounded by ids/N_SALTS and skip the second shuffle
    entirely.  Downstream sinks that write id lists (parquet tiles,
    payload joins) can consume chunks directly; only sinks that
    contractually need one row per tile (MBTiles blob) pay the flatten.
    """
    # a per-row ``zoom`` column (multi-zoom optimized runs) joins the
    # grouping keys; otherwise the single configured zoom is attached
    zoom_keys = ["zoom"] if "zoom" in assignments.columns else []
    distinct = assignments if assume_distinct else \
        assignments.dropDuplicates(["element_id", *zoom_keys, "tile_x", "tile_y"])
    salted = distinct.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("element_id")), F.lit(N_SALTS))
    )
    partial = salted.groupBy(*zoom_keys, "tile_x", "tile_y", "salt").agg(
        F.collect_list("element_id").alias("chunk")
    )
    if chunked:
        return partial.select(
            F.col("zoom") if zoom_keys else F.lit(zoom).alias("zoom"),
            "tile_x",
            "tile_y",
            "salt",
            F.array_sort("chunk").alias("element_ids"),
            F.size("chunk").cast("long").alias("n"),
        )
    return (
        partial.groupBy(*zoom_keys, "tile_x", "tile_y")
        .agg(F.array_sort(F.flatten(F.collect_list("chunk"))).alias("element_ids"))
        .select(
            F.col("zoom") if zoom_keys else F.lit(zoom).alias("zoom"),
            "tile_x",
            "tile_y",
            "element_ids",
            F.size("element_ids").cast("long").alias("n"),
        )
    )


def tile_counts(assignments: DataFrame) -> DataFrame:
    """A2 — per-tile element count histogram (MapSplit.java:867-883).
    Pure partial-aggregating groupBy; feeds the optimize pass."""
    return assignments.groupBy("tile_x", "tile_y").agg(F.count("*").alias("n"))

