"""Tile pyramid rollup (engine addition, r4) — per-level aggregates
from the base assignment up to a coarser min zoom.

Slippy-map consumers (raster pyramids, heat maps, zoom-dependent
styling) need the A2 per-tile histogram at EVERY zoom level, not just
the base: an element occupying base tile (x, y) occupies ancestor
(x >> d, y >> d) at zoom − d (quadtree nesting — ``ancestor_tiles``,
the one shift that knn's ``_coarsen_tiles`` and the §2.5 merge use
too).

Spark-first shape — ONE pass, TWO shuffles, independent of pyramid
depth: the exploded (element, tile) relation fans out its D ancestor
rows MAP-SIDE (a generate, no shuffle), one dropDuplicates collapses
the multi-child convergence (an element in several level-z children of
one parent counts ONCE at the parent — the semantics that make the
rollup a DISTINCT count, matching the engine's distinct (element,
tile) pair model, SURVEY.md §2.7), and one partially-aggregated
groupBy produces every level's histogram.  The alternative — D
successive parent-distinct passes — shuffles D times and serializes
levels; at 100 TB the fan-out factor D (≤ ~8 useful levels) is cheap
against D extra exchanges.

``pyramid_counts`` → (zoom, tile_x, tile_y, n) for zoom in
[min_zoom, base_zoom]; level base_zoom equals ``tile_counts`` over the
distinct pair relation by construction (pinned in tests).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ancestor_tiles(shift: int | str) -> list[Column]:
    """(tile_x, tile_y) of the ancestor ``shift`` levels up: quadtree
    nesting makes it the exact right shift (floor(v·2^(z−d)) ==
    floor(v·2^z) >> d).  ``shift`` is an int or a per-row SQL
    expression (``F.shiftright`` takes only an int)."""
    return [F.expr(f"shiftright({c}, {shift})").alias(c) for c in ("tile_x", "tile_y")]


def pyramid_counts(assignments: DataFrame, base_zoom: int, min_zoom: int) -> DataFrame:
    """(element_id, tile_x, tile_y) at ``base_zoom`` →
    (zoom, tile_x, tile_y, n) for every level in [min_zoom, base_zoom];
    ``n`` counts DISTINCT elements per tile at that level.

    The input may repeat pairs: the one all-levels dedupe below covers
    the base level too (d = 0), next to collapsing multi-child
    convergence at the ancestors.
    """
    if min_zoom > base_zoom or min_zoom < 0:
        raise ValueError(f"need 0 ≤ min_zoom ≤ base_zoom, got {min_zoom}/{base_zoom}")
    depth = base_zoom - min_zoom
    levels = F.explode(F.array(*[
        F.struct(F.lit(base_zoom - d).alias("zoom"), *ancestor_tiles(d))
        for d in range(depth + 1)
    ])).alias("lv")
    return (
        assignments.select(F.col("element_id"), levels)
        .select("element_id", "lv.zoom", "lv.tile_x", "lv.tile_y")
        .dropDuplicates(["element_id", "zoom", "tile_x", "tile_y"])
        .groupBy("zoom", "tile_x", "tile_y")
        .agg(F.count("*").alias("n"))
    )
