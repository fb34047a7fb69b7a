"""Packed STR R-tree over polygon-ring bboxes, as flat numpy arrays.

The reference clips against ONE country outline (clipPoly,
MapSplit.java:1073-1145), so its point-in-polygon loop scans every
ring.  At web scale the polygon side is thousands of tile-boundary /
admin rings: a linear scan costs O(R) vectorized bbox passes per point
batch.  This index packs the ring bboxes Sort-Tile-Recursive
(Leutenegger, Lopez, Edgington 1997 — the same packing JTS/shapely
STRtree uses) into flat numpy arrays that (a) pickle compactly into a
Spark broadcast, and (b) answer WHOLE-BATCH queries vectorized: the
descent keeps an explicit (point, node) candidate-pair frontier,
expanded level by level with np.repeat arithmetic — no Python
recursion per point, no per-point tree walk.

Because packing is contiguous, child ranges are implicit: node ``i``
of level ``k`` covers slots ``[i·F, (i+1)·F)`` of level ``k−1``
(F = ``FANOUT``) — the whole tree is just a list of bbox arrays plus
the leaf→ring permutation.

Everything here is driver-side build (rings are small) + executor-side
batch query inside the existing Arrow ``mapInPandas`` kernels
(operators/clip.py); results are bit-identical to the linear scan
(same ``_pip`` even-odd kernel on the surviving candidates —
differential-tested; gate ``clip_strtree`` checks the indexed path
end-to-end against the DuckDB oracle).
"""

from __future__ import annotations

import numpy as np

FANOUT = 16


def build_strtree(bboxes: np.ndarray):
    """Pack ring bboxes (R, 4: x0, x1, y0, y1) into an STR tree.

    Returns ``(leaf_order, level_boxes)``: ``leaf_order[s]`` is the ring
    index at leaf slot ``s``; ``level_boxes[0]`` the ring bboxes in slot
    order, ``level_boxes[-1]`` the ≤ ``FANOUT`` roots.
    """
    bboxes = np.asarray(bboxes, dtype=np.float64).reshape(-1, 4)
    n = bboxes.shape[0]
    if n == 0:
        raise ValueError("build_strtree: no rings")
    cx = (bboxes[:, 0] + bboxes[:, 1]) * 0.5
    cy = (bboxes[:, 2] + bboxes[:, 3]) * 0.5
    # STR: slice by x into ~sqrt(n/FANOUT) vertical strips, each strip
    # sorted by y — neighbours in slot order are spatial neighbours
    n_slices = max(1, int(np.ceil(np.sqrt(np.ceil(n / FANOUT)))))
    by_x = np.argsort(cx, kind="stable")
    slice_size = int(np.ceil(n / n_slices))
    leaf_order = np.empty(n, dtype=np.int64)
    for s in range(n_slices):
        strip = by_x[s * slice_size:(s + 1) * slice_size]
        leaf_order[s * slice_size:s * slice_size + strip.size] = \
            strip[np.argsort(cy[strip], kind="stable")]

    # levels stored as 4 contiguous 1-D arrays (x0, x1, y0, y1): the
    # query's random gathers then read packed memory, not (m, 4) strides
    slot = bboxes[leaf_order]
    level_boxes = [tuple(np.ascontiguousarray(slot[:, c]) for c in range(4))]
    while level_boxes[-1][0].shape[0] > FANOUT:
        x0, x1, y0, y1 = level_boxes[-1]
        m = x0.shape[0]
        lo = np.arange(0, m, FANOUT, dtype=np.int64)
        level_boxes.append((
            np.minimum.reduceat(x0, lo), np.maximum.reduceat(x1, lo),
            np.minimum.reduceat(y0, lo), np.maximum.reduceat(y1, lo),
        ))
    return leaf_order, level_boxes


QUERY_CHUNK = 65536


def query_strtree(tree, px: np.ndarray, py: np.ndarray):
    """All (point_idx, ring_idx) pairs whose ring bbox contains the
    point — vectorized level-by-level descent, chunked so every
    temporary stays heap-sized (a few MB): large fresh numpy buffers
    are mmap-backed and pay first-touch page faults on every call,
    which on ballooned VMs costs orders of magnitude more than the
    arithmetic (measured: 13 M-pair _contains 79 s cold vs <0.2 s
    warm).  Real callers (Arrow batches in clip.py) are ≤ ~64 k rows
    anyway; this keeps huge ad-hoc batches on the same fast path."""
    n_pts = px.shape[0]
    if n_pts <= QUERY_CHUNK:
        return _query_chunk(tree, px, py)
    parts = []
    for s in range(0, n_pts, QUERY_CHUNK):
        p, r = _query_chunk(tree, px[s:s + QUERY_CHUNK], py[s:s + QUERY_CHUNK])
        parts.append((p + s, r))
    return (np.concatenate([p for p, _ in parts]),
            np.concatenate([r for _, r in parts]))


def _query_chunk(tree, px: np.ndarray, py: np.ndarray):
    leaf_order, level_boxes = tree
    roots = level_boxes[-1]
    n_pts = px.shape[0]
    n_roots = roots[0].shape[0]
    pts = np.repeat(np.arange(n_pts, dtype=np.int64), n_roots)
    nodes = np.tile(np.arange(n_roots, dtype=np.int64), n_pts)
    keep = _contains(roots, nodes, px, py, pts)
    pts, nodes = pts[keep], nodes[keep]
    for li in range(len(level_boxes) - 2, -1, -1):
        child_boxes = level_boxes[li]
        m_child = child_boxes[0].shape[0]
        lo = nodes * FANOUT
        counts = np.minimum(lo + FANOUT, m_child) - lo
        pts = np.repeat(pts, counts)
        total = int(counts.sum())
        starts = np.repeat(np.cumsum(counts) - counts, counts)
        child = np.repeat(lo, counts) + (np.arange(total, dtype=np.int64) - starts)
        keep = _contains(child_boxes, child, px, py, pts)
        pts, nodes = pts[keep], child[keep]
    return pts, leaf_order[nodes]


def _contains(level, idx, px, py, pidx):
    """Point-in-bbox over (point, node) pair arrays.  x-interval first:
    it rejects ~90+% of pairs, so the y gathers/compares run on the
    narrowed survivors only."""
    x0, x1, y0, y1 = level
    x = px[pidx]
    kx = (x >= x0[idx]) & (x <= x1[idx])
    sub = np.flatnonzero(kx)
    i2 = idx[sub]
    y = py[pidx[sub]]
    ky = (y >= y0[i2]) & (y <= y1[i2])
    kx[sub] = ky
    return kx
