"""M3/M5 operator tests — propagation, hole-fill, optimize merge.

Scenario coverage ports the reference suite (SURVEY.md §5): way union +
drop-if-missing (addWayToMap), back-propagation, relation fixed point
with forward/cyclic refs (postProcessRelations), ring hole-fill
(checkAndFill), sparse-tile merge (splitOptimizeSparseTiles).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapsplit_spark import tilemath as tm
from mapsplit_spark.operators.holefill import fill_holes
from mapsplit_spark.operators.optimize import compute_zoom_map, merged_assignments
from mapsplit_spark.operators.propagate import (
    backfill_member_tiles,
    complete_relation_propagation,
    relation_tiles_fixed_point,
    way_tiles,
)
from tests import oracle

ZOOM = 13


@pytest.fixture(scope="module")
def node_tiles(spark):
    # 12 points in a 4x3 tile grid around (100, 10) + border-crossing ones
    pts = []
    for i in range(12):
        lon = float(tm.tile2lon(4000 + i % 4, ZOOM)) + 0.01
        lat = float(tm.tile2lat(3000 + i // 4, ZOOM)) - 0.001
        pts.append((f"n{i}", lon, lat))
    df = spark.createDataFrame(pts, "element_id string, lon double, lat double")
    from mapsplit_spark.operators.assign import assign_and_expand

    return assign_and_expand(df, "element_id", "lon", "lat", ZOOM, 0.1), pts


def test_way_union_and_drop(spark, node_tiles):
    tiles_df, pts = node_tiles
    members = spark.createDataFrame(
        [("w0", "n0"), ("w0", "n1"), ("w0", "n5"),
         ("w1", "n2"), ("w1", "MISSING"),  # w1 must be dropped entirely
         ("w2", "n10"), ("w2", "n11")],
        "group_id string, member_id string",
    )
    got = way_tiles(members, tiles_df).collect()
    ways = {r.element_id for r in got}
    assert ways == {"w0", "w2"}
    # oracle comparison
    pairs = {(r.element_id, r.tile_x, r.tile_y) for r in tiles_df.collect()}
    expect_tiles, _ = oracle.session_tiles(
        pairs, [("w0", ["n0", "n1", "n5"]), ("w1", ["n2", "MISSING"]), ("w2", ["n10", "n11"])]
    )
    got_map = {}
    for r in got:
        got_map.setdefault(r.element_id, set()).add((r.tile_x, r.tile_y))
    assert {w: sorted(t) for w, t in got_map.items()} == expect_tiles


@pytest.mark.parametrize("ways", [
    [("w0", ["n0", "n1", "n5"])],
    # w1 is dropped (one member missing): its present members n2 and
    # n7 must not inherit each other's tiles, with the unfiltered
    # membership passed in
    [("w0", ["n0", "n1", "n5"]), ("w1", ["n2", "n7", "MISSING"])],
], ids=["complete", "dropped_way"])
def test_backfill_matches_oracle(spark, node_tiles, ways):
    tiles_df, _ = node_tiles
    members = spark.createDataFrame(
        [(w, m) for w, ms in ways for m in ms], "group_id string, member_id string"
    )
    wt = way_tiles(members, tiles_df)
    got = {
        (r.element_id, r.tile_x, r.tile_y)
        for r in backfill_member_tiles(members, wt, tiles_df).collect()
    }
    pairs = {(r.element_id, r.tile_x, r.tile_y) for r in tiles_df.collect()}
    _, extra = oracle.session_tiles(pairs, ways)
    assert got == pairs | extra


def test_relation_fixed_point_with_cycle(spark, node_tiles):
    tiles_df, _ = node_tiles
    # r0 → n0; r1 → r0; r2 → r1 and r1 → r2 (cycle); r3 → missing only
    rel = spark.createDataFrame(
        [("r0", "n0"), ("r1", "r0"), ("r2", "r1"), ("r1", "r2"), ("r3", "nope")],
        "group_id string, member_id string",
    )
    got = relation_tiles_fixed_point(rel, tiles_df)
    rows = got.filter(F.col("element_id").startswith("r")).collect()
    by_rel = {}
    for r in rows:
        by_rel.setdefault(r.element_id, set()).add((r.tile_x, r.tile_y))
    n0_tiles = {
        (r.tile_x, r.tile_y) for r in tiles_df.filter("element_id = 'n0'").collect()
    }
    assert by_rel.get("r0") == n0_tiles
    assert by_rel.get("r1") == n0_tiles  # inherited through r0
    assert by_rel.get("r2") == n0_tiles  # through the cycle, converged
    assert "r3" not in by_rel  # empty tile set → dropped (MapSplit.java:625-628)


def test_complete_relations_down_propagation(spark, node_tiles):
    tiles_df, _ = node_tiles
    # relation rel0 spans tiles of n0 and n11; members: node n0 and way w0
    rel_members = spark.createDataFrame(
        [("rel0", "n0"), ("rel0", "w0")], "group_id string, member_id string"
    )
    way_members = spark.createDataFrame(
        [("w0", "n5"), ("w0", "n6")], "group_id string, member_id string"
    )
    rel_tiles = (
        tiles_df.filter(F.col("element_id").isin("n0", "n11"))
        .select(F.lit("rel0").alias("element_id"), "tile_x", "tile_y").distinct()
    )
    got = complete_relation_propagation(rel_members, rel_tiles, way_members, tiles_df)
    by_id = {}
    for r in got.collect():
        by_id.setdefault(r.element_id, set()).add((r.tile_x, r.tile_y))
    rel = {(r.tile_x, r.tile_y) for r in rel_tiles.collect()}
    # every member (n0, w0) and every node of member-way w0 (n5, n6)
    # carries the relation's full tile set on top of its own
    for eid in ("n0", "w0", "n5", "n6"):
        assert rel <= by_id[eid], eid
    # untouched nodes keep only their own tiles
    own = {(r.tile_x, r.tile_y) for r in tiles_df.filter("element_id='n3'").collect()}
    assert by_id["n3"] == own


def _ring_tiles():
    """Square ring of tiles (perimeter of a 5x5 block) — 16 tiles ≥ 8,
    enclosing a 3x3 hole."""
    ring = []
    for dx in range(5):
        for dy in range(5):
            if dx in (0, 4) or dy in (0, 4):
                ring.append((1000 + dx, 2000 + dy))
    return ring


def test_holefill_matches_oracle(spark):
    ring = _ring_tiles()
    df = spark.createDataFrame(
        [("g1", x, y) for x, y in ring], "element_id string, tile_x long, tile_y long"
    )
    got = {(r.tile_x, r.tile_y) for r in fill_holes(df).collect()}
    holes = oracle.hole_fill(set(ring))
    assert holes == {(1000 + dx, 2000 + dy) for dx in range(1, 4) for dy in range(1, 4)}
    assert got == set(ring) | holes


def test_holefill_skips_small_groups(spark):
    df = spark.createDataFrame(
        [("g2", 10, 10), ("g2", 12, 12)], "element_id string, tile_x long, tile_y long"
    )
    got = {(r.tile_x, r.tile_y) for r in fill_holes(df).collect()}
    assert got == {(10, 10), (12, 12)}  # < 8 tiles → untouched


def test_holefill_python_gated_behind_min_tiles(derived_pairs):
    """§2.6: one grouped Python stage (groupBy → arrays → mapInPandas),
    and groups reach it only through the ≥ 8-tile ``size`` filter on the
    grouped row — no grouped-map call, no count-aggregate gate."""
    lines = fill_holes(derived_pairs)._jdf.queryExecution().executedPlan().toString().splitlines()
    mip = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    assert len(mip) == 1
    assert not any("FlatMapGroupsInPandas" in ln for ln in lines)
    assert any("Filter" in ln and "size(" in ln for ln in lines[mip[0] + 1:])


def test_compute_zoom_map_hand_cases():
    limit = 100
    # case 1: 2x2 block total 110 ∈ (limit, 4·limit) → all merge to z-1
    counts = {(10, 10): 50, (10, 11): 20, (11, 10): 20, (11, 11): 20}
    zm = compute_zoom_map(counts, ZOOM, limit)
    assert zm == {t: ZOOM - 1 for t in counts}
    # case 2: block total ≥ 4·limit at d=1, no prior level → unmerged
    counts = {(10, 10): 50, (10, 11): 400}
    assert compute_zoom_map(counts, ZOOM, limit) == {}
    # case 3: isolated sparse tile → merges at the deepest level z-4
    counts = {(160, 160): 1}
    assert compute_zoom_map(counts, ZOOM, limit) == {(160, 160): ZOOM - 4}
    # case 4: tile at/above limit is left alone
    counts = {(5, 5): 100}
    assert compute_zoom_map(counts, ZOOM, limit) == {}
    # case 5: backoff with a stored prev block (MapSplit.java:908-912 —
    # zoomMap.put(prevResult.keys[i], newZoom + 1), i.e. the PREVIOUS
    # level's zoom): the 2x2 block at d=1 totals 50 (≤ limit → stored),
    # at d=2 the 4x4 block picks up (8,8)=400 → total ≥ 4·limit → back
    # off and merge the stored 2x2 block at zoom−1, NOT zoom
    counts = {(10, 10): 20, (10, 11): 10, (11, 10): 10, (11, 11): 10, (8, 8): 400}
    zm = compute_zoom_map(counts, ZOOM, limit)
    assert zm == {(10, 10): ZOOM - 1, (10, 11): ZOOM - 1,
                  (11, 10): ZOOM - 1, (11, 11): ZOOM - 1}


def test_zoom_map_distributed_matches_driver_walk(spark):
    """The superblock-decomposed distributed walk must be bit-equal to
    the global driver-side walk on adversarial inputs (blocks straddling
    superblock boundaries, backoff cases, dense/sparse mix)."""
    import random

    rng = random.Random(7)
    cases = []
    # random dense patches around superblock boundaries (x,y near k·16)
    for base in ((14, 14), (30, 2), (0, 0), (15, 16), (100, 100)):
        pts = {}
        for _ in range(40):
            x = base[0] + rng.randrange(0, 6)
            y = base[1] + rng.randrange(0, 6)
            pts[(x, y)] = rng.choice([1, 5, 20, 99, 150, 400])
        cases.append(pts)
    # plus the hand cases
    cases.append({(10, 10): 20, (10, 11): 10, (11, 10): 10, (11, 11): 10, (8, 8): 400})
    for counts in cases:
        expected = compute_zoom_map(counts, ZOOM, 100)
        df = spark.createDataFrame(
            [(x, y, n) for (x, y), n in counts.items()],
            "tile_x long, tile_y long, n long",
        )
        from mapsplit_spark.operators.optimize import zoom_map_df
        got = {(r.mx, r.my): r.new_zoom for r in zoom_map_df(df, ZOOM, 100).collect()}
        assert got == expected, f"distributed walk diverged on {counts}"


def test_merged_assignments_rekey_and_dedupe(spark):
    # two tiles in the same block, one element in both: totals stay below
    # the limit at every level, so the walk accepts the DEEPEST level
    # z−4 (MapSplit.java:896-899 "z == MAX_ZOOM_OUT_DIFF − 1"); both
    # re-key to the same parent (x>>4, y>>4) and dedupe to one row each
    rows = [("e1", 10, 10), ("e1", 11, 10), ("e2", 10, 10)]
    df = spark.createDataFrame(rows, "element_id string, tile_x long, tile_y long")
    out = merged_assignments(df, ZOOM, node_limit=100)
    got = {(r.element_id, r.zoom, r.tile_x, r.tile_y) for r in out.collect()}
    assert got == {("e1", ZOOM - 4, 0, 0), ("e2", ZOOM - 4, 0, 0)}
    # with counts meeting the limit, nothing merges and duplicates stay distinct rows
    big = merged_assignments(df, ZOOM, node_limit=1)
    got2 = {(r.element_id, r.zoom, r.tile_x, r.tile_y) for r in big.collect()}
    assert got2 == {("e1", ZOOM, 10, 10), ("e1", ZOOM, 11, 10), ("e2", ZOOM, 10, 10)}


def test_tile_merge_broadcasts_remap_and_groups_walk(derived_pairs):
    """§2.5: the walk runs once per superblock in one grouped Python
    stage (mapInPandas over grouped arrays, no grouped-map call) and the
    remap joins back as a broadcast — the pair relation is never
    shuffled for the remap."""
    plan = merged_assignments(derived_pairs, 13, node_limit=5)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan


def test_holefill_handles_scattered_groups_exactly(spark):
    """Planet-scale scattered groups run through the SAME compressed-grid
    fill (no bbox cap, no skip): sparse scatter encloses nothing, and a
    local ring in the same call still fills — per-group cost is bounded
    by tile count, not bbox (coordinate compression)."""
    ring = [(1000 + dx, 2000) for dx in range(5)] + \
           [(1000 + dx, 2004) for dx in range(5)] + \
           [(1000, 2000 + dy) for dy in range(5)] + \
           [(1004, 2000 + dy) for dy in range(5)]
    scattered = [("far", 0, 0), ("far", 60000, 60000)] + \
                [("far", i * 7919 % 60000, i * 104729 % 60000) for i in range(10)]
    rows = [("ring", x, y) for x, y in ring] + scattered
    df = spark.createDataFrame(rows, "element_id string, tile_x long, tile_y long")
    got = fill_holes(df).collect()
    far = {(r.tile_x, r.tile_y) for r in got if r.element_id == "far"}
    assert far == {(x, y) for _, x, y in scattered}  # nothing enclosed
    ring_got = {(r.tile_x, r.tile_y) for r in got if r.element_id == "ring"}
    assert ring_got == set(ring) | oracle.hole_fill(set(ring))


def _chain_edges(spark, depth: int):
    """r1 → n0, r2 → r1, ..., r{depth} → r{depth-1}: nesting depth = depth."""
    rows = [("r1", "n0")] + [
        (f"r{i}", f"r{i - 1}") for i in range(2, depth + 1)
    ]
    return spark.createDataFrame(rows, "group_id string, member_id string")


def test_relation_fixed_point_deep_chain_converges(spark, node_tiles):
    """Nesting deeper than the OLD default cap (10) converges under the
    new default — the round-2 silent-truncation bug would have returned
    an incomplete set here."""
    tiles_df, _ = node_tiles
    got = relation_tiles_fixed_point(_chain_edges(spark, 12), tiles_df)
    n0_tiles = {
        (r.tile_x, r.tile_y) for r in tiles_df.filter("element_id = 'n0'").collect()
    }
    by_rel = {}
    for r in got.filter(F.col("element_id").startswith("r")).collect():
        by_rel.setdefault(r.element_id, set()).add((r.tile_x, r.tile_y))
    assert set(by_rel) == {f"r{i}" for i in range(1, 13)}
    assert by_rel["r12"] == n0_tiles  # the top of the chain fully resolved


@pytest.mark.parametrize("loop", ["relation", "newer", "components"])
def test_fixed_point_cap_is_loud(spark, node_tiles, loop, monkeypatch):
    """Hitting the loop's round cap with work left RAISES, naming the
    loop and each round's delta size, instead of silently returning a
    truncated result (the reference iterates to no-progress uncapped,
    MapSplit.java:772-790)."""
    from mapsplit_spark.operators import components, propagate
    from mapsplit_spark.operators.components import connected_components
    from mapsplit_spark.operators.propagate import propagate_newer

    tiles_df, _ = node_tiles
    if loop == "relation":
        # every round resolves one more chain level: a copy of n0's tiles
        n0 = tiles_df.filter("element_id = 'n0'").count()
        name, deltas = "relation fixed point", [n0] * 4
        monkeypatch.setattr(propagate, "MAX_ROUNDS", 4)
        run = lambda: relation_tiles_fixed_point(  # noqa: E731
            _chain_edges(spark, 8), tiles_df)
    elif loop == "newer":
        edges = spark.createDataFrame(
            [(f"c{i}", f"c{i - 1}") for i in range(1, 9)],
            "group_id string, member_id string")
        newer = spark.createDataFrame([("c0",)], "element_id string")
        name, deltas = "newer-propagation", [1] * 4
        monkeypatch.setattr(propagate, "MAX_ROUNDS", 4)
        run = lambda: propagate_newer(edges, newer)  # noqa: E731
    else:
        # path 0-1-…-30, distributed fixpoint forced (driver cap 0):
        # round one moves every label v-1 to max(v-4, 0), so v = 2..30 change
        pairs = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                      "id_a long, id_b long")
        name, deltas = "connected_components", [29]
        monkeypatch.setattr(components, "CC_MAX_ROUNDS", 1)
        monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
        run = lambda: connected_components(pairs)  # noqa: E731
    with pytest.raises(RuntimeError, match="did not converge") as err:
        run()
    assert str(err.value).startswith(name)
    assert f"per-round deltas: {deltas}" in str(err.value)


def test_relation_fixed_point_round_runs_no_probe_job(spark, node_tiles,
                                                     job_count):
    """One more nesting level costs one more round of exactly two Spark
    jobs, the delta and the accumulated checkpoints: the delta's row
    count rides its checkpoint, so no isEmpty probe job runs (three jobs
    with it).  AQE is off here because it submits every shuffle stage as
    a job of its own, which makes a round's job count depend on plans."""
    tiles_df, _ = node_tiles
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs = [job_count(lambda d=d: relation_tiles_fixed_point(
            _chain_edges(spark, d), tiles_df)) for d in (4, 5)]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs[1] - jobs[0] == 2


def test_propagate_newer_closes_over_membership(spark):
    """S5 incremental: a group containing a newer member (transitively,
    collection → session → image) is itself 'newer', so ALL its tiles —
    including inherited/hole-filled ones — get rewritten."""
    from mapsplit_spark.operators.propagate import propagate_newer

    edges = spark.createDataFrame(
        [("s1", "img1"), ("s1", "img2"), ("s2", "img3"),
         ("c1", "s1"), ("c2", "s2"), ("c3", "c1")],
        "group_id string, member_id string",
    )
    newer = spark.createDataFrame([("img2",)], "element_id string")
    got = {r.element_id for r in propagate_newer(edges, newer).collect()}
    # img2 newer ⇒ s1 (contains it) ⇒ c1 (contains s1) ⇒ c3 (contains c1)
    assert got == {"img2", "s1", "c1", "c3"}


def test_winnow_fast_differential_and_guarantee(spark):
    """winnow_fingerprints_fast (xxhash64 production variant) — (a)
    differential: the selected fingerprint set equals an independent
    Python sliding-window-min recomputation over the SAME xxhash64 gram
    values; (b) the winnowing guarantee: two docs sharing a substring of
    length ≥ w + k − 1 share at least one fingerprint; (c) the md5 gate
    variant still returns identical n_fp row counts (same construction,
    different hash order)."""
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.textstats import (
        winnow_fingerprints,
        winnow_fingerprints_fast,
        winnow_fps,
    )

    shared = "the identical shared clause appears verbatim in both documents"
    rows = [
        ("a", f"first document prefix {shared} and a unique tail here"),
        ("b", f"totally different opening text {shared} closing differently"),
        ("c", "no overlap with anything else at all in this one honestly"),
        ("d", "xy"),  # shorter than k: single-gram degenerate path
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    k, w = 5, 4
    fps = winnow_fps(docs, k, w)
    got = {r.doc_id: r for r in fps.join(winnow_fingerprints_fast(fps), "doc_id")
           .collect()}

    # (a) independent recomputation: xxhash64 of each k-gram via a
    # separate exploded query (different plan shape), window-min in
    # plain Python
    norm = {d: " ".join(t.strip().lower().split()) for d, t in rows}
    gram_rows = [(d, i, norm[d][i:i + k])
                 for d in norm for i in range(max(1, len(norm[d]) - k + 1))]
    gh = spark.createDataFrame(gram_rows, "doc_id string, i int, gram string") \
        .select("doc_id", "i", F.xxhash64("gram").alias("h")).collect()
    by_doc = {}
    for r in gh:
        by_doc.setdefault(r.doc_id, {})[r.i] = r.h
    for d, hs in by_doc.items():
        seq = [hs[i] for i in range(len(hs))]
        mins = {min(seq[j:j + w]) for j in range(max(1, len(seq) - w + 1))}
        assert sorted(mins) == list(got[d].fps), f"doc {d} selection mismatch"

    # (b) guarantee: a and b share a ≥ w+k−1 substring → common fp
    assert set(got["a"].fps) & set(got["b"].fps)
    assert not set(got["c"].fps) & set(got["a"].fps)

    # (c) same construction shape as the md5 gate variant
    md5_nfp = {r.doc_id: r.n_fp for r in winnow_fingerprints(docs, k, w).collect()}
    assert set(md5_nfp) == set(got)


def test_pyramid_counts_properties_and_plan(spark):
    """Pyramid rollup (r4): level base_zoom ≡ tile_counts on distinct
    pairs; parent n bounded by [max child n, Σ child n] (distinct
    elements collapse across children); multi-child convergence counts
    an element once; TWO exchanges at any depth (map-side fan-out)."""
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.pyramid import pyramid_counts
    from mapsplit_spark.sinks.manifests import tile_counts

    # element 1 occupies two SIBLING children of parent (1, 1) at z2 —
    # must count once there; element 2 overlaps one of them
    rows = [(1, 2, 2), (1, 3, 2), (2, 3, 2), (3, 0, 0), (1, 2, 2)]  # + dup pair
    df = spark.createDataFrame(rows, "element_id long, tile_x long, tile_y long")
    out = pyramid_counts(df, base_zoom=3, min_zoom=0)
    by = {(r.zoom, r.tile_x, r.tile_y): r.n for r in out.collect()}

    base = {(r.tile_x, r.tile_y): r.n
            for r in tile_counts(df.dropDuplicates()).collect()}
    assert {(x, y): n for (z, x, y), n in by.items() if z == 3} == base
    assert by[(2, 1, 1)] == 2          # elements 1 (once!) and 2
    assert by[(1, 0, 0)] == 3          # {1, 2} converged + 3 from (0,0)
    assert by[(0, 0, 0)] == 3          # whole world: {1, 2, 3}
    for (z, x, y), n in by.items():
        if z == 3:
            continue
        child_ns = [m for (cz, cx, cy), m in by.items()
                    if cz == z + 1 and cx >> 1 == x and cy >> 1 == y]
        assert max(child_ns) <= n <= sum(child_ns)

    plan = pyramid_counts(df, base_zoom=13, min_zoom=5) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2  # ancestor dedupe + final agg, depth-free
    assert "EvalPython" not in plan and "Join" not in plan


def test_semi_naive_step_joins_delta_not_accumulated(spark):
    """J4: each fixed-point iteration's derive join consumes the DELTA
    (small, shrinking) exactly once; the accumulated relation appears
    only in the dedup anti-join.  A naive implementation would scan the
    accumulated relation twice — the join input would grow every
    iteration instead of shrinking."""
    from mapsplit_spark.operators.propagate import _semi_naive_step

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "group_id long, member_id long"
    )
    # distinguishable sources: delta = Range(0,7), resolved = Range(0,9000)
    delta = spark.range(7).selectExpr(
        "id AS element_id", "id AS tile_x", "id AS tile_y"
    )
    resolved = spark.range(9000).selectExpr(
        "id AS element_id", "id AS tile_x", "id AS tile_y"
    )
    plan = _semi_naive_step(edges, delta, resolved) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Range (0, 7,") == 1, "delta must feed the derive join once"
    assert plan.count("Range (0, 9000,") == 1, \
        "accumulated relation may appear ONLY in the anti-join"
    assert "LeftAnti" in plan
