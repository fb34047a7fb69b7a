"""§2.5 — hierarchical tile merge ("optimize" pass, -O nodeLimit).

Reference: optimize()/getCounts/mapToNewTile (MapSplit.java:858-989) —
base-zoom tiles with fewer than nodeLimit elements are merged into
coarser-zoom parents: walking zoom-out levels d = 1..4
(MAX_ZOOM_OUT_DIFF = 5), accept the first 2^d×2^d sibling block whose
total lands in (nodeLimit, 4·nodeLimit) — or the deepest level tried —
backing off to the PREVIOUS level's zoom when the total reaches
≥ 4·nodeLimit (zoomMap.put(prevResult.keys[i], newZoom + 1) with
newZoom = zoom − z, i.e. zoom − (z−1) — MapSplit.java:908-912).
Iteration is over tiles in ascending packed-key order and
already-merged tiles are skipped.

Scale design: the walk looks order-dependent/sequential, but it
decomposes exactly by level-4 superblock — a tile's walk reads only
block sums at levels d ≤ 4 (all inside its own (x>>4, y>>4) block,
getCounts :952-976) and marks only tiles inside that block, so tiles in
different superblocks never interact and within-block ascending order
equals global ascending order restricted to the block.  ``zoom_map_df``
therefore groups each superblock's tiles into arrays in the JVM and runs
the walk (``compute_zoom_map``, also the tests' driver mirror) once per
superblock in one ``mapInPandas`` stage — no full-histogram driver
collect; only the (small) merged-tile remap is joined back.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pyramid import ancestor_tiles

MAX_ZOOM_OUT_DIFF = 5  # MapSplit.java:80
_SUPER_SHIFT = MAX_ZOOM_OUT_DIFF - 1  # deepest walk level ⇒ superblock side 2^4


def compute_zoom_map(counts: dict[tuple[int, int], int], zoom: int,
                     node_limit: int) -> dict[tuple[int, int], int]:
    """counts: {(x, y): n} at base zoom → {(x, y): new_zoom} for merged
    tiles.  Pure-Python mirror of MapSplit.java:858-936; also the
    pytest driver-walk reference (the tile_merge gate's oracle runs the
    independent ``_oracle_zoom_walk``)."""
    if node_limit <= 0:
        return {}
    # r6: precompute per-level block membership + totals in O(n·levels)
    # — the previous per-tile sibling enumeration probed up to
    # 4+16+64+256 = 340 candidate coords per visited tile (z13 inputs
    # are sparse, so nearly every probe missed; measured as the dominant
    # cost of the distributed walk).  Build order follows the ascending
    # packed-key visit order, so each block's member list is already
    # sorted the way the walk reads it.  Semantics unchanged.
    keys_sorted = sorted(counts, key=lambda t: (t[0] << 16) | t[1])
    members: list[dict] = [None] * MAX_ZOOM_OUT_DIFF  # type: ignore[list-item]
    totals: list[dict] = [None] * MAX_ZOOM_OUT_DIFF  # type: ignore[list-item]
    for d in range(1, MAX_ZOOM_OUT_DIFF):
        mem: dict[tuple[int, int], list] = {}
        tot: dict[tuple[int, int], int] = {}
        for key in keys_sorted:
            bk = (key[0] >> d, key[1] >> d)
            if bk in mem:
                mem[bk].append(key)
                tot[bk] += counts[key]
            else:
                mem[bk] = [key]
                tot[bk] = counts[key]
        members[d] = mem
        totals[d] = tot
    zoom_map: dict[tuple[int, int], int] = {}
    for key in keys_sorted:
        if key in zoom_map or counts[key] >= node_limit:
            continue
        prev_block = None
        prev_zoom = None
        for d in range(1, MAX_ZOOM_OUT_DIFF):
            new_zoom = zoom - d
            bk = (key[0] >> d, key[1] >> d)
            block = members[d][bk]
            total = totals[d][bk]
            if total < 4 * node_limit:
                if total > node_limit or d == MAX_ZOOM_OUT_DIFF - 1:
                    for t in block:
                        zoom_map[t] = new_zoom
                    break
                prev_block, prev_zoom = block, new_zoom
            else:
                # back off to the PREVIOUS level's zoom: the reference
                # stores newZoom + 1 = zoom − (d−1) = prev_zoom
                # (MapSplit.java:908-912)
                if prev_block is not None:
                    for t in prev_block:
                        zoom_map[t] = prev_zoom
                break
    return zoom_map


def zoom_map_df(counts: DataFrame, zoom: int, node_limit: int) -> DataFrame:
    """Distributed merge walk: counts(tile_x, tile_y, n) →
    (mx, my, new_zoom) for merged tiles only.

    Each superblock ((x>>4, y>>4) block) arrives as one grouped row of
    parallel arrays and runs the identical pure-Python walk.  The walk
    is Python-CPU-heavy but byte-light, so AQE's byte-sized coalescing
    squeezed it into 1-3 tasks at sf0.1 (r6); the explicit
    ``repartition`` is exempt from coalescing, and the ``groupBy``
    reuses its partitioning.  Bit-equal to the global driver walk; no
    driver collect.
    """

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_x: list = []
            out_y: list = []
            out_z: list = []
            for xs, ys, ns in zip(pdf["xs"], pdf["ys"], pdf["ns"]):
                stats = dict(zip(zip(xs.tolist(), ys.tolist()), ns.tolist()))
                for (x, y), z in compute_zoom_map(stats, zoom, node_limit).items():
                    out_x.append(x)
                    out_y.append(y)
                    out_z.append(z)
            yield pd.DataFrame({
                "mx": pd.Series(out_x, dtype="int64"),
                "my": pd.Series(out_y, dtype="int64"),
                "new_zoom": pd.Series(out_z, dtype="int32"),
            })

    superblocks = counts.withColumns({
        "sbx": F.shiftright("tile_x", _SUPER_SHIFT),
        "sby": F.shiftright("tile_y", _SUPER_SHIFT),
    })
    n_part = counts.sparkSession.sparkContext.defaultParallelism
    return (
        superblocks.repartition(n_part, "sbx", "sby")
        .groupBy("sbx", "sby")
        .agg(F.collect_list("tile_x").alias("xs"),
             F.collect_list("tile_y").alias("ys"),
             F.collect_list("n").alias("ns"))
        .mapInPandas(walk, "mx long, my long, new_zoom int")
    )


def merged_assignments(assignments: DataFrame, zoom: int,
                       node_limit: int) -> DataFrame:
    """Re-key exploded (element_id, tile_x, tile_y) through the merge map.

    → (element_id, zoom, tile_x, tile_y) — merged tiles carry their
    coarser zoom and right-shifted coordinates (mapToNewTile,
    MapSplit.java:985-989), deduped since several tiles merge into one;
    ``node_limit <= 0`` merges nothing, keeps the base zoom and adds no
    dedupe: a distinct input (the assign → sessions → clip chain is)
    stays distinct.
    """
    if node_limit <= 0:
        return assignments.select(
            "element_id", F.lit(zoom).alias("zoom"), "tile_x", "tile_y")
    counts = assignments.groupBy("tile_x", "tile_y").agg(F.count("*").alias("n"))
    # merged subset ≪ histogram; broadcast keeps the remap join
    # shuffle-free (falls back to shuffle join above the 8 GB broadcast
    # cap — then partitioned on the same tile key).  An empty map
    # degenerates to a no-op left join — no pre-check (isEmpty would
    # execute the walk twice)
    zmap_df = F.broadcast(zoom_map_df(counts, zoom, node_limit))
    joined = assignments.join(
        zmap_df,
        (assignments.tile_x == zmap_df.mx) & (assignments.tile_y == zmap_df.my),
        "left",
    )
    # mapToNewTile: an exact right shift by the zoom difference (0 for
    # unmerged tiles)
    return (
        joined.select(
            "element_id",
            F.coalesce(F.col("new_zoom"), F.lit(zoom)).alias("zoom"),
            *ancestor_tiles(f"{zoom} - coalesce(new_zoom, {zoom})"),
        )
        .dropDuplicates(["element_id", "zoom", "tile_x", "tile_y"])
    )
