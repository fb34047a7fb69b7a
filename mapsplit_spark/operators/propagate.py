"""J1-J6 — tile-set propagation along reference edges.

The reference resolves way→node and relation→member references by
hash-map lookups against the in-memory OsmMaps (MapSplit.java:452-511,
:534-662, :772-831).  Spark-first re-expression: membership is a
DataFrame of ``(group_id, member_id)`` edges — the one edge shape every
operator here takes, as ``sessions.session_edges`` produces it — and
tile sets are ``(element_id, tile_x, tile_y)`` rows, the one tile-row
shape every operator takes and returns.  Set-union is ``distinct`` on
normalized rows (no packed bitmaps — Tungsten columnar rows replace
AbstractOsmMap's 64-bit codec).

Every lookup is one step, ``hop``: rows move one edge either up
(member → group) or down (group → member).  J1's drop-if-missing union
is the only propagation that is not a plain hop.

Distinctness, stated once:

- ``way_tiles`` is distinct by construction (one ``collect_set`` per
  group), and ``holefill.fill_holes`` keeps a distinct input distinct
  (it adds only tiles outside the group's set, each once);
- ``backfill_member_tiles`` and ``complete_relation_propagation`` end
  in a ``distinct``: their down-hops re-emit tiles members already have;
- ``relation_tiles_fixed_point`` and ``propagate_newer`` are distinct:
  the first level is deduped and every round's delta is deduped and
  anti-joined against the accumulated rows;
- ``hop`` itself is not distinct: a group reached from several members
  (or a member of several groups) receives a tile once per edge;
- relations over disjoint id namespaces union without a dedupe: point
  ids, session ids and collection ids never collide (FIXTURES.md), so
  ``session_assignments`` unions its distinct per-kind relations as is.

Scale notes: node_tiles is the big side (≈ input cardinality × small
fan-out); membership edges shuffle-join on the hop's source key.  Both
sides are key-partitioned by the join key only — no driver collection;
the fixed-point loop (relations) iterates a bounded number of small
joins on the relation subset only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import checkpoint_count, fixed_point

# hop target → (edge column matched to element_id, edge column emitted)
_HOP = {"group": ("member_id", "group_id"), "member": ("group_id", "member_id")}
MAX_ROUNDS = 25  # runaway cap of both closures (rounds ≈ nesting depth)


def hop(edges: DataFrame, rows: DataFrame, to: str) -> DataFrame:
    """Move ``rows`` (element_id, *payload) one hop along ``edges``
    (group_id, member_id): ``to="group"`` carries each member's rows up
    to its groups, ``to="member"`` carries each group's rows down to its
    members.  Inner join, so rows of elements without edges go nowhere.
    → (element_id, *payload), not distinct.

    The join is on a column name, so ``rows`` may derive from ``edges``
    (a relation's tiles pushed back down its own edges) without an
    ambiguous self-join."""
    key, out = _HOP[to]
    payload = [c for c in rows.columns if c != "element_id"]
    return (
        edges.join(rows.select(F.col("element_id").alias(key), *payload), key)
        .select(F.col(out).alias("element_id"), *payload)
    )


def way_tiles(members: DataFrame, node_tiles: DataFrame) -> DataFrame:
    """J1 — way tile set = union of member node tile sets, dropping the
    whole way if ANY member is missing (MapSplit.java:462-502).
    → distinct (element_id ≡ group_id, tile_x, tile_y).

    Single-pass plan: one left join + one groupBy(way) carrying both the
    missing-member flag and the tile set (collect_set skips the nulls
    left by missing members).  3 exchanges total vs 6 for the naive
    anti-join-then-rejoin formulation — at 100 TB the node_tiles subtree
    is the expensive side and is scanned/shuffled exactly once.
    """
    nt = node_tiles.select("element_id", "tile_x", "tile_y")
    j = members.join(nt, members["member_id"] == nt["element_id"], "left")
    agg = j.groupBy("group_id").agg(
        F.max(F.when(F.col("tile_x").isNull(), 1).otherwise(0)).alias("n_missing"),
        F.collect_set(
            F.when(F.col("tile_x").isNotNull(), F.struct("tile_x", "tile_y"))
        ).alias("tiles"),
    ).filter("n_missing = 0")
    return agg.select(
        F.col("group_id").alias("element_id"), F.explode("tiles").alias("t")
    ).select("element_id", F.col("t.tile_x").alias("tile_x"),
             F.col("t.tile_y").alias("tile_y"))


def backfill_member_tiles(members: DataFrame, group_tiles: DataFrame,
                          node_tiles: DataFrame) -> DataFrame:
    """J2 — every member inherits its group's full tile set
    (MapSplit.java:506-510); result unioned with the nodes' own tiles.
    → distinct (element_id, tile_x, tile_y) superset of node_tiles.
    The hop's inner join on ``group_tiles`` gives members of groups it
    lacks (ways dropped by ``way_tiles``) nothing, so ``members`` needs
    no pre-filter."""
    inherited = hop(members, group_tiles, to="member")
    return node_tiles.select("element_id", "tile_x", "tile_y").union(inherited).distinct()


def complete_relation_propagation(rel_members: DataFrame, rel_tiles: DataFrame,
                                  way_members: DataFrame,
                                  node_tiles: DataFrame) -> DataFrame:
    """J5/J6 — complete-relations mode (-c / -C with type=multipolygon):
    every relation member inherits the relation's full tile set
    (MapSplit.java:641-661), and nodes of relation-member WAYS inherit
    those ways' augmented tile sets via the second pass
    (addExtraWayToMap, MapSplit.java:519-527, driver :793-831).

    rel_members: relation → member edges; rel_tiles: the relations'
    tile rows; way_members: way → node edges; node_tiles: the exploded
    base assignment.  → augmented distinct (element_id, tile_x, tile_y).
    """
    inherit = hop(rel_members, rel_tiles, to="member")
    # pass 2: member ways push their inherited tiles down to their nodes
    way_aug = hop(way_members, inherit, to="member")
    return (
        node_tiles.select("element_id", "tile_x", "tile_y")
        .union(inherit).union(way_aug).distinct()
    )


def _semi_naive_step(edges: DataFrame, delta: DataFrame,
                     resolved: DataFrame) -> DataFrame:
    """One semi-naive iteration: derive the next frontier from the DELTA
    only (classic datalog TC optimization — joining the accumulated
    relation instead would grow the join input every iteration), then
    anti-join away rows already resolved.  ``delta``/``resolved``:
    (element_id, *payload)."""
    derived = hop(edges, delta, to="group").distinct()
    return derived.join(resolved, delta.columns, "left_anti")


def _closure(name: str, edges: DataFrame, base: DataFrame) -> DataFrame:
    """Semi-naive closure of ``base`` (element_id, *payload) up ``edges``:
    every group inherits its members' payload rows, transitively.  A
    round's delta count rides the delta checkpoint."""
    def step(_, state):
        resolved, delta = state
        delta, n = checkpoint_count(_semi_naive_step(edges, delta, resolved))
        if n:
            resolved = resolved.union(delta).localCheckpoint(eager=True)
        return (resolved, delta), n

    resolved = base.localCheckpoint(eager=True)
    return fixed_point(name, step, (resolved, resolved), MAX_ROUNDS,
                       "propagate.MAX_ROUNDS")[0]


def relation_tiles_fixed_point(rel_members: DataFrame,
                               base_tiles: DataFrame) -> DataFrame:
    """J3/J4 — relations may reference relations (forward/cyclic refs);
    the reference retries unresolved ones until no progress
    (postProcessRelations, MapSplit.java:772-790).

    ``rel_members``: relation → member edges, where a member may be a
    relation itself.  ``base_tiles``: tile rows of the non-relation
    members already resolved.  Missing members are skipped (the hop's
    inner join, MapSplit.java:552-581); a relation whose tile set stays
    empty is dropped (:625-628).

    Driver-side loop, bounded by nesting depth — each iteration is one
    shuffle join on the (small) relation edge set, evaluated semi-naively
    (delta only, see ``_semi_naive_step``).  Converges monotonically
    (tile sets only grow) like the reference's ``while postSize <
    preSize`` loop.  The reference iterates uncapped; ``MAX_ROUNDS`` is a
    runaway guard for genuinely cyclic-and-growing inputs, and hitting
    it with work remaining raises instead of silently returning an
    incomplete tile set.
    """
    # r6 A/B note: materializing the edge relation once (repartition on
    # member_id + eager localCheckpoint, so iterations skip the per-round
    # re-scan/re-shuffle) measured SLOWER at sf0.1 for both gate callers
    # (+0.3-0.5 s — the checkpoint round-trip exceeds the cheap re-scan
    # of small fixture edges); callers with a genuinely expensive edge
    # subtree should checkpoint rel_members themselves before calling.
    base = hop(rel_members, base_tiles.select("element_id", "tile_x", "tile_y"),
               to="group").distinct()
    # r6 note: ``_closure`` re-checkpoints the accumulated relation every
    # round.  A checkpoint-deltas-only variant (anti-join against the
    # lazy union of materialized parts) was A/B'd same-session and
    # measured SLOWER (6.1 vs 5.5 s warm, 11.3 vs 6.5 s cold at sf0.1):
    # the accumulated checkpoint is what keeps the per-round anti-join
    # and every downstream consumer reading one compact materialized
    # relation.
    return _closure("relation fixed point", rel_members, base)


def propagate_newer(edges: DataFrame, newer_ids: DataFrame) -> DataFrame:
    """Incremental S5 support: close the 'newer than the appointment
    date' set over group membership — a session/collection is modified
    iff ANY member (transitively) is newer, so its WHOLE tile set
    (including hole-filled / J5-J6-inherited tiles that contain no newer
    member row themselves) gets rewritten, matching the reference's
    entity-level modified marking (MapSplit.java:435-437).

    ``edges``: membership edges across all kinds; ``newer_ids``:
    single-column ``element_id``.  → distinct element_id superset.
    Raises RuntimeError past ``MAX_ROUNDS`` rounds.
    """
    return _closure("newer-propagation", edges,
                    newer_ids.select("element_id").distinct())
