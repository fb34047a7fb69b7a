"""STR-tree polygon index: packing invariants, batch-query vs brute
force, and the indexed clip path vs the linear scan (bit-equality).

The north-star PIP-join shape: thousands of boundary rings broadcast
as a packed index, points tested inside Arrow batches.  Reference
analog: clipPoly / isInside (MapSplit.java:999-1145) — one outline,
linear scan; the tree must reproduce that semantics exactly at any
ring count.
"""

from __future__ import annotations

import numpy as np
import pytest

from mapsplit_spark.operators import clip
from mapsplit_spark.operators.clip import (
    _flatten_rings,
    _membership_of,
    _pairs_fn,
    _pairs_indexed,
    _pairs_linear,
    _ring_index,
    clip_points,
    make_ring,
    STRTREE_MIN_RINGS,
)
from mapsplit_spark.strtree import build_strtree, query_strtree, QUERY_CHUNK


def _rand_ring(rng, cx, cy, r, k=8):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = rng.uniform(0.3 * r, r, k)
    return make_ring(np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)]))


def _ring_set(rng, n, rmin=0.5, rmax=15.0, kmax=24):
    return [
        _rand_ring(rng, rng.uniform(-170, 170), rng.uniform(-80, 80),
                   rng.uniform(rmin, rmax), k=int(rng.integers(3, kmax)))
        for _ in range(n)
    ]


def _collapse(n, pairs):
    """OR-collapse of (point_idx, ring_idx) pairs → bool membership over
    ``n`` points — what ``_membership_of`` does to its kernel's pairs."""
    hit = np.zeros(n, dtype=bool)
    hit[pairs[0]] = True
    return hit


def _assert_paths_bitequal(px, py, rings):
    """The linear and the tree candidate source give the same inside
    pairs, and so the same OR-collapsed membership."""
    lin = _pairs_linear(px, py, rings)
    idx = _pairs_indexed(px, py, _flatten_rings(rings),
                         build_strtree(np.array([b for _, b in rings])))
    assert sorted(zip(lin[0].tolist(), lin[1].tolist())) == \
        sorted(zip(idx[0].tolist(), idx[1].tolist()))
    assert np.array_equal(_collapse(px.shape[0], lin), _collapse(px.shape[0], idx))


def test_query_matches_bruteforce_bbox_candidates():
    rng = np.random.default_rng(11)
    rings = _ring_set(rng, 137)
    boxes = np.array([b for _, b in rings])
    tree = build_strtree(boxes)
    px = rng.uniform(-180, 180, 3000)
    py = rng.uniform(-85, 85, 3000)
    p_idx, r_idx = query_strtree(tree, px, py)
    got = set(zip(p_idx.tolist(), r_idx.tolist()))
    # brute force: every (point, ring) bbox containment
    inx = (px[:, None] >= boxes[None, :, 0]) & (px[:, None] <= boxes[None, :, 1])
    iny = (py[:, None] >= boxes[None, :, 2]) & (py[:, None] <= boxes[None, :, 3])
    want = set(zip(*np.nonzero(inx & iny)))
    want = {(int(p), int(r)) for p, r in want}
    assert got == want


def test_query_chunking_is_transparent():
    rng = np.random.default_rng(12)
    rings = _ring_set(rng, 64)
    tree = build_strtree(np.array([b for _, b in rings]))
    n = QUERY_CHUNK + 1234           # forces the chunked path
    px = rng.uniform(-180, 180, n)
    py = rng.uniform(-85, 85, n)
    p_all, r_all = query_strtree(tree, px, py)
    # same result as two manual halves
    h = n // 2
    p1, r1 = query_strtree(tree, px[:h], py[:h])
    p2, r2 = query_strtree(tree, px[h:], py[h:])
    got = sorted(zip(p_all.tolist(), r_all.tolist()))
    want = sorted(zip(p1.tolist() + (p2 + h).tolist(), r1.tolist() + r2.tolist()))
    assert got == want


@pytest.mark.parametrize("n_rings", [1, 2, 15, 16, 17, 57, 300, 1000])
def test_indexed_membership_bitequal_linear(n_rings):
    rng = np.random.default_rng(n_rings)
    rings = _ring_set(rng, n_rings)
    px = rng.uniform(-180, 180, 5000)
    py = rng.uniform(-85, 85, 5000)
    _assert_paths_bitequal(px, py, rings)


def test_membership_fn_auto_threshold():
    """The ring count alone picks the tree (from STRTREE_MIN_RINGS on),
    and the picked kernel's pairs and membership equal the linear
    scan's."""
    rng = np.random.default_rng(3)
    small = _ring_set(rng, STRTREE_MIN_RINGS - 1)
    large = _ring_set(rng, STRTREE_MIN_RINGS)
    assert _ring_index([]) is None and _ring_index(small) is None
    assert _ring_index(large) is not None
    px = rng.uniform(-180, 180, 200)
    py = rng.uniform(-85, 85, 200)
    for rings in (small, large):
        lin = _pairs_linear(px, py, rings)
        picked = _pairs_fn(rings)(px, py)
        assert sorted(zip(*map(np.ndarray.tolist, picked))) == \
            sorted(zip(*map(np.ndarray.tolist, lin)))
        assert np.array_equal(_membership_of(rings)(px, py),
                              _collapse(px.shape[0], lin))


def test_degenerate_and_edge_rings():
    # collinear "ring", tiny ring, ring crossing the dateline bbox-wise
    rng = np.random.default_rng(5)
    rings = [
        (np.array([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]]), (0.0, 2.0, 0.0, 0.0)),
        (np.array([[10.0, 10.0], [10.0001, 10.0], [10.0, 10.0001]]),
         (10.0, 10.0001, 10.0, 10.0001)),
        _rand_ring(rng, 179.5, 0.0, 3.0),
    ] + _ring_set(rng, 40)
    px = rng.uniform(-180, 180, 4000)
    py = rng.uniform(-85, 85, 4000)
    _assert_paths_bitequal(px, py, rings)


def _run_on_path(monkeypatch, tree: bool, rings, op):
    """Run ``op()`` with the operator's kernel forced onto one candidate
    source.  The choice is made on the driver when the operator is
    called, so the patched threshold reaches the pickled kernel."""
    with monkeypatch.context() as m:
        m.setattr(clip, "STRTREE_MIN_RINGS", 1 if tree else len(rings) + 1)
        assert (_ring_index(rings) is not None) == tree
        df = op()
    return df.collect()


def test_clip_points_indexed_and_bc_match_linear(spark, monkeypatch):
    rng = np.random.default_rng(17)
    outers = _ring_set(rng, 48, rmin=2, rmax=20)
    inners = _ring_set(rng, 20, rmin=0.5, rmax=4)
    pts = [(int(i), float(rng.uniform(-180, 180)), float(rng.uniform(-85, 85)))
           for i in range(4000)]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    base, idx = (sorted(r.id for r in _run_on_path(
        monkeypatch, tree, outers, lambda: clip_points(df, outers, inners)))
        for tree in (False, True))
    assert base == idx


# --------------------------------------------------------- zonal assignment

def _zone_rings():
    sq = lambda cx, cy, h: [  # noqa: E731
        (cx - h, cy - h), (cx + h, cy - h), (cx + h, cy + h), (cx - h, cy + h)]
    outers = [make_ring(sq(0.0, 0.0, 2.0)),     # zone 0
              make_ring(sq(1.0, 0.0, 2.0)),     # zone 1 — overlaps zone 0
              make_ring(sq(50.0, 50.0, 1.0))]   # zone 2 — disjoint
    holes = [make_ring(sq(0.5, 0.0, 0.25))]     # hole inside zones 0 and 1
    return outers, holes


def _zone_points(spark):
    pts = [
        (1, -1.5, 0.0),   # zone 0 only
        (2, 0.2, 0.0),    # zones 0 and 1 (overlap)
        (3, 2.5, 0.0),    # zone 1 only
        (4, 50.0, 50.0),  # zone 2
        (5, 0.5, 0.0),    # inside the hole → dropped
        (6, 20.0, 20.0),  # nowhere
    ]
    return spark.createDataFrame(pts, "pid long, lon double, lat double")


def test_zone_assign_matches_expected_membership(spark):
    from mapsplit_spark.operators.clip import zone_assign

    outers, holes = _zone_rings()
    got = sorted(
        (r.pid, r.zone) for r in
        zone_assign(_zone_points(spark), outers, holes,
                    id_col="pid").collect()
    )
    assert got == [(1, 0), (2, 0), (2, 1), (3, 1), (4, 2)]


def test_zone_assign_indexed_equals_linear(spark, monkeypatch):
    from mapsplit_spark.operators.clip import zone_assign

    outers, holes = _zone_rings()
    pts = _zone_points(spark)
    lin, idx = (sorted((r.pid, r.zone) for r in _run_on_path(
        monkeypatch, tree, outers,
        lambda: zone_assign(pts, outers, holes, id_col="pid")))
        for tree in (False, True))
    assert lin == idx


def test_zone_assign_no_holes(spark, monkeypatch):
    from mapsplit_spark.operators.clip import zone_assign

    outers, _ = _zone_rings()
    got = sorted(
        (r.pid, r.zone) for r in _run_on_path(
            monkeypatch, True, outers,
            lambda: zone_assign(_zone_points(spark), outers, [], id_col="pid"))
    )
    # the hole point (5) now lands in both overlapping zones
    assert got == [(1, 0), (2, 0), (2, 1), (3, 1), (4, 2), (5, 0), (5, 1)]
