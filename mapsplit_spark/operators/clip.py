"""P7-P9 — polygon clip (point-in-polygon joins).

Reference: clipPoly (MapSplit.java:1073-1145) parses an Osmosis .poly
file into outer/inner rings and drops every modified tile whose 4
corners all fail the even-odd ray-casting test (isInside,
MapSplit.java:999-1065 — corner test only, approximate by design).

Spark-first: the polygon set is tiny (a country outline) → broadcast;
the tile set is the small side too (distinct tiles ≪ points).  The
ray-casting runs as a vectorized numpy kernel inside mapInPandas —
Arrow-batched, one O(corners × vertices) matrix op per batch — with a
bbox prefilter per ring.  Point-level exact clip (``clip_points``) is
the engine's extra precise mode.

Every ring operator runs ONE kernel, ``_pairs_fn`` → (point, ring)
inside-pairs (membership is its OR-collapse).  The ring count alone
picks its candidate source (``_ring_index``): per-ring bbox passes, or
from ``STRTREE_MIN_RINGS`` rings (the measured crossover) a vectorized
descent of the packed STR R-tree (``strtree.py``); the same even-odd
formula refines both — bit-identical results, differential-tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlgen
from .. import tilemath as tm
from ..strtree import build_strtree, query_strtree

# measured crossover (tools/bench_strtree.py at commit 0233616, read it
# back with `git show 0233616:tools/bench_strtree.py`; ~1x-coverage
# rings, 100 k-pt batches): the linear scan's streaming passes beat the
# tree's gather-heavy descent below ~1000 rings; the tree wins 3x at
# 2000, ~10x at 5000, ~80x at 50 000.  The tree is picked from this
# many rings on, just under the crossover.
STRTREE_MIN_RINGS = 768

# a raster grid row is a few bytes, while every task of the PIP kernel
# pays a fixed Python worker + ring index setup (~0.6 s measured on
# the z7 gate grid at sf0.1): one task per this many tile centers
RASTER_CELLS_PER_TASK = 1 << 16


def make_ring(vertices) -> tuple[np.ndarray, tuple]:
    """(lon, lat) vertex sequence → (ring, bbox): the (n,2) float64 ring
    and its (x0, x1, y0, y1) bounding box — the ring form every polygon
    operator here takes."""
    ring = np.array(vertices, dtype=np.float64)
    return ring, (ring[:, 0].min(), ring[:, 0].max(), ring[:, 1].min(), ring[:, 1].max())


def load_rings(polys_df: DataFrame, poly_id: str | None = None):
    """clip_polygons table → (outers, inners): lists of ``make_ring``
    rings.  Driver-side — the table is tiny (S4).  Raises ``ValueError``
    when ``poly_id`` selects no outer ring: every clip would keep
    nothing."""
    rows = polys_df.filter(F.col("poly_id") == poly_id).collect() if poly_id \
        else polys_df.collect()
    outers, inners = [], []
    for r in rows:
        ring = make_ring([(c["lon"], c["lat"]) for c in r.coords])
        (inners if r.is_hole else outers).append(ring)
    if not outers:
        raise ValueError(f"load_rings: poly_id {poly_id!r} selects no outer ring")
    return outers, inners


def _pip(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting (re-derivation of isInside,
    MapSplit.java:999-1010).  px/py (N,), ring (M,2) → bool (N,)."""
    xi, yi = ring[:, 0], ring[:, 1]
    xj, yj = np.roll(xi, 1), np.roll(yi, 1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cond = (yi[None, :] > py[:, None]) != (yj[None, :] > py[:, None])
        xints = (xj - xi)[None, :] * (py[:, None] - yi[None, :]) / (yj - yi)[None, :] + xi[None, :]
        crossings = cond & (px[:, None] < xints)
    return (crossings.sum(axis=1) % 2).astype(bool)


def _flatten_rings(rings):
    """Concatenate ring vertices into flat arrays (vx, vy, off, lens)
    so the pair-batched PIP can gather edges with pure index math."""
    vx = np.ascontiguousarray(np.concatenate([r[:, 0] for r, _ in rings]))
    vy = np.ascontiguousarray(np.concatenate([r[:, 1] for r, _ in rings]))
    lens = np.array([r.shape[0] for r, _ in rings], dtype=np.int64)
    off = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    return vx, vy, off, lens


def _pairs_indexed(px, py, flat, tree):
    """(point_idx, ring_idx) pairs with the point INSIDE the ring, the
    candidates from one vectorized STR-tree descent (O(hits) pairs)
    instead of R bbox passes, and the even-odd refine ONE batched pass
    over all (pair, edge) tuples — no per-ring Python loop.  The
    crossing formula is ``_pip``'s verbatim, so parities (and therefore
    the pairs) are bit-equal to ``_pairs_linear``."""
    empty = np.zeros(0, dtype=np.int64)
    p_idx, r_idx = query_strtree(tree, px, py)
    if p_idx.size == 0:
        return empty, empty
    vx, vy, off, lens = flat
    counts = lens[r_idx]
    total = int(counts.sum())
    starts = np.cumsum(counts) - counts
    j = np.arange(total, dtype=np.int64) - np.repeat(starts, counts)
    lens_e = np.repeat(lens[r_idx], counts)
    base = np.repeat(off[r_idx], counts)
    vi = base + j
    vprev = base + (j - 1) % lens_e       # np.roll(·, 1) pairing
    ep = np.repeat(p_idx, counts)
    X, Y = px[ep], py[ep]
    xi, yi = vx[vi], vy[vi]
    xj, yj = vx[vprev], vy[vprev]
    with np.errstate(divide="ignore", invalid="ignore"):
        cond = (yi > Y) != (yj > Y)
        xints = (xj - xi) * (Y - yi) / (yj - yi) + xi
        cross = cond & (X < xints)
    per_pair = np.add.reduceat(cross.astype(np.int64), starts) \
        if starts.size else np.zeros(0, dtype=np.int64)
    inside = (per_pair % 2).astype(bool)
    return p_idx[inside], r_idx[inside]


def _pairs_linear(px, py, rings):
    """(point_idx, ring_idx) inside-pairs by per-ring scan (no
    first-match short-circuit — every containing ring reports)."""
    ps, rs = [], []
    for ri, (ring, (x0, x1, y0, y1)) in enumerate(rings):
        cand = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
        if cand.any():
            idx = np.nonzero(cand)[0]
            ok = _pip(px[idx], py[idx], ring)
            ps.append(idx[ok])
            rs.append(np.full(int(ok.sum()), ri, dtype=np.int64))
    if not ps:
        e = np.zeros(0, dtype=np.int64)
        return e, e
    return np.concatenate(ps), np.concatenate(rs)


def _ring_index(rings):
    """The one linear-scan vs STR-tree choice, from the ring count
    alone: → (flat, tree) from ``STRTREE_MIN_RINGS`` rings on, else
    None for the linear scan.  Made on the driver when an operator is
    called, so the kernel it returns is what the executors run."""
    if rings and len(rings) >= STRTREE_MIN_RINGS:
        return _flatten_rings(rings), build_strtree(np.array([b for _, b in rings]))
    return None


def _pairs_fn(rings):
    """(px, py) → (point_idx, ring_idx) inside-pairs over ``rings`` —
    identical on the linear and the tree path; the only kernel entry
    point of the ring operators."""
    index = _ring_index(rings)
    if index is not None:
        return lambda px, py: _pairs_indexed(px, py, *index)
    return lambda px, py: _pairs_linear(px, py, rings)


def _membership_of(rings):
    """(px, py) → bool "inside ≥1 of ``rings``": the OR-collapse of the
    ``_pairs_fn`` kernel's point indices."""
    pairs_fn = _pairs_fn(rings)

    def inside(px, py):
        hit = np.zeros(px.shape[0], dtype=bool)
        hit[pairs_fn(px, py)[0]] = True
        return hit
    return inside


def clip_tiles(tiles_df: DataFrame, outers, inners, zoom: int) -> DataFrame:
    """Corner-parity mode (P8): keep tiles where ≥1 of the 4 corners is
    inside an outer ring and not inside any inner ring
    (MapSplit.java:1020-1065 — corner-only, approximate by design)."""
    in_outer = _membership_of(outers)
    in_inner = _membership_of(inners)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf
                continue
            tx = pdf["tile_x"].to_numpy(np.float64)
            ty = pdf["tile_y"].to_numpy(np.float64)
            keep_in = np.zeros(len(pdf), dtype=bool)
            hole_hit = np.zeros(len(pdf), dtype=bool)
            for u in (0.0, 1.0):
                for v in (0.0, 1.0):
                    cx = tm.tile2lon(tx + u, zoom)
                    cy = tm.tile2lat(ty + v, zoom)
                    keep_in |= in_outer(cx, cy)
                    if inners:
                        hole_hit |= in_inner(cx, cy)
            yield pdf[keep_in & ~hole_hit]

    return tiles_df.mapInPandas(run, tiles_df.schema)


def clip_points(points_df: DataFrame, outers, inners) -> DataFrame:
    """Exact point-level clip (engine precise mode): keep rows whose
    point (``lon``, ``lat``) is inside ≥1 outer ring and no inner ring."""
    in_outer = _membership_of(outers)
    in_inner = _membership_of(inners)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                yield pdf
                continue
            px = pdf["lon"].to_numpy(np.float64)
            py = pdf["lat"].to_numpy(np.float64)
            keep = in_outer(px, py)
            if inners:
                keep &= ~in_inner(px, py)
            yield pdf[keep]

    return points_df.mapInPandas(run, points_df.schema)


def zone_assign(points_df: DataFrame, outers, inners,
                id_col: str = "element_id",
                lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Zonal assignment — the per-zone refinement of ``clip_points``:
    → (id_col, zone) with ``zone`` = 0-based index of each OUTER ring
    containing the point (one row per containing ring, so overlapping
    zones each count the point); points inside any inner (hole) ring
    are dropped entirely, matching the clip semantics.

    Zonal statistics (the raster-algebra zonal sum/count over vector
    zones) are then one plain groupBy("zone") away — partial-aggregated
    JVM-side, so the Python stage only emits (id, zone) pairs.  Same
    index story as clip_points: from ``STRTREE_MIN_RINGS`` rings the
    candidates per point are bounded by ring overlap, not ring count."""
    pairs_fn = _pairs_fn(outers)
    in_inner = _membership_of(inners)
    id_type = dict(points_df.dtypes)[id_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            px = pdf[lon_col].to_numpy(np.float64)
            py = pdf[lat_col].to_numpy(np.float64)
            p_idx, r_idx = pairs_fn(px, py)
            if inners and p_idx.size:
                keep = ~in_inner(px, py)[p_idx]
                p_idx, r_idx = p_idx[keep], r_idx[keep]
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[p_idx],
                "zone": r_idx.astype(np.int32),
            })

    return points_df.select(id_col, lon_col, lat_col).mapInPandas(
        run, f"{id_col} {id_type}, zone int")


def rasterize(spark, outers, inners, zoom: int) -> DataFrame:
    """Vector→raster: → (zone int, tile_x long, tile_y long) for every
    ``zoom`` tile whose CENTER lies in outer ring ``zone`` and in no
    inner ring — ``zone_assign`` over generated tile centers.  The grid
    spans only the outer rings' bounding box: a center outside every
    box is in no ring."""
    n = 1 << zoom
    bb = np.array([b for _, b in outers])
    x0, x1 = (int(tm.lon2tx(v, zoom)) for v in (bb[:, 0].min(), bb[:, 1].max()))
    y0, y1 = (int(tm.lat2ty(v, zoom)) for v in (bb[:, 3].max(), bb[:, 2].min()))
    cells = (x1 - x0 + 1) * (y1 - y0 + 1)
    parts = max(1, min(spark.sparkContext.defaultParallelism,
                       cells // RASTER_CELLS_PER_TASK))
    grid = spark.range(x0, x1 + 1, numPartitions=parts).select(
        F.col("id").cast("int").alias("x")
    ).withColumn("y", F.explode(F.sequence(F.lit(y0), F.lit(y1))))
    centers = grid.select(
        (F.col("x").cast("long") * n + F.col("y")).alias("cell_id"),
        F.expr(sqlgen.tile2lon_sql("x + 0.5", zoom)).alias("lon"),
        F.expr(sqlgen.tile2lat_sql("y + 0.5", zoom)).alias("lat"),
    )
    return zone_assign(centers, outers, inners, id_col="cell_id").select(
        "zone",
        (F.col("cell_id") / n).cast("long").alias("tile_x"),
        F.pmod(F.col("cell_id"), F.lit(n)).alias("tile_y"),
    )


def clip_assignments(assignments: DataFrame, kept_tiles: DataFrame) -> DataFrame:
    """P9 — restrict the exploded assignment relation to surviving tiles
    (left-semi join ≡ the reference's bitset clear loop,
    MapSplit.java:1128-1145)."""
    return assignments.join(
        kept_tiles.select("tile_x", "tile_y"), ["tile_x", "tile_y"], "left_semi"
    )


def min_zone_fn(outers, inners):
    """(px, py) → int32 min-containing-zone array (−1 outside all
    outers or inside a hole) — the vectorized kernel shared by the
    batch geofence (operators/geofence.py) and its streaming twin
    (streaming/geofence_stream.py)."""
    pairs_fn = _pairs_fn(outers)
    in_inner = _membership_of(inners)

    def zones(px: np.ndarray, py: np.ndarray) -> np.ndarray:
        out = np.full(len(px), -1, dtype=np.int32)
        p_idx, r_idx = pairs_fn(px, py)
        if p_idx.size:
            # min zone per point: reverse-sorted fill leaves the minimum
            order = np.argsort(r_idx, kind="stable")[::-1]
            out[p_idx[order]] = r_idx[order].astype(np.int32)
        if inners:
            out[in_inner(px, py)] = -1
        return out

    return zones
