"""Grouped-geometry stage: the full setup() propagation for ways and
relations (MapSplit.java:452-511 ways, :534-662 relations, :772-831
fixed point + complete-relations pass 2) composed from the J1-J6 / §2.6
operators, over the engine's session/collection tables.

Table shape (datagen.make_sessions, FIXTURES.md): ``sessions(session_id,
kind ∈ {'session','collection'}, member_ids: array<string>, tags:
map<string,string>)`` — sessions ≡ ways (members are image/point ids),
collections ≡ relations (members are sessions, collections, or points).

Ordering parity with the reference:
1. way tile set = union of member node tile sets, DROPPED whole if any
   member is missing (J1/P5, :462-475);
2. hole fill runs on the way tile set BEFORE node back-propagation, so
   nodes inherit hole tiles too (:491-510);
3. J2 back-propagation always runs (not only in complete mode);
4. collections resolve against the post-way state (nodes augmented,
   ways present) with relation→relation forward refs retried to fixed
   point (J3/J4); missing members skipped, empty relations dropped (P5);
5. ``complete`` (-c) adds J5/J6: members inherit the relation's full
   tile set and nodes of member SESSIONS inherit those sessions'
   augmented sets (pass 2); ``multipolygon_only`` (-C) restricts the
   down-propagation to relations tagged type=multipolygon (P6, :641).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .holefill import fill_holes
from .propagate import (
    backfill_member_tiles,
    complete_relation_propagation,
    relation_tiles_fixed_point,
    way_tiles,
)


def session_edges(sessions: DataFrame, kind: str) -> DataFrame:
    """sessions table → (group_id, member_id) edges for one kind."""
    return (
        sessions.filter(F.col("kind") == kind)
        .select(
            F.col("session_id").alias("group_id"),
            F.explode("member_ids").alias("member_id"),
        )
    )


def session_assignments(node_tiles: DataFrame, sessions: DataFrame,
                        complete: bool = False,
                        multipolygon_only: bool = False,
                        holefill_min: int | None = 8) -> DataFrame:
    """node_tiles: exploded (element_id, tile_x, tile_y) point assignment.
    → augmented distinct (element_id, tile_x, tile_y) covering points,
    sessions, and collections — the relation the store stage (J7)
    materializes.

    ``holefill_min=None`` disables hole patching ENTIRELY (skips the
    grouped Python stage, not just raises the trigger) — for callers that run the fill as a separate stage or
    want raw reference-free propagation.
    """
    way_edges = session_edges(sessions, "session")
    col_edges = session_edges(sessions, "collection")

    # J1 + §2.6: way tile sets, holes patched before any propagation.
    # wt and the post-way base feed several downstream branches each —
    # materialized once (Spark reuses no identical subtrees across
    # branches; the checkpointed pipeline materializes stages instead)
    wt = way_tiles(way_edges, node_tiles, "group_id", "member_id")
    if holefill_min is not None:
        # way_tiles output is distinct by construction, and the fill
        # only adds tiles NOT in the member set → still distinct (r6)
        wt = fill_holes(wt, "group_id", min_tiles=holefill_min)
    wt = wt.localCheckpoint(eager=True)
    way_rel = wt.select(F.col("group_id").alias("element_id"), "tile_x", "tile_y")

    # J2: member nodes inherit the (hole-patched) way tile set; the
    # backfill's inner join with wt leaves members of dropped ways out
    nodes_aug = backfill_member_tiles(way_edges, wt, node_tiles,
                                      "group_id", "member_id")

    # J3/J4: collections against the post-way state, to fixed point.
    # nodes_aug is distinct (backfill output) and way_rel is distinct
    # (way_tiles/fill output); their element-id NAMESPACES are disjoint
    # by the sessions-table contract (session/collection ids never
    # collide with point ids — FIXTURES.md), so the union is already
    # duplicate-free: no distinct shuffle here (r6, guide §2.4
    # "a distinct on data that is already unique").
    base = nodes_aug.union(way_rel).localCheckpoint(eager=True)
    col_rel = relation_tiles_fixed_point(
        col_edges.withColumnRenamed("group_id", "relation_id"),
        base, "relation_id", "member_id",
    )

    # col_rel is internally distinct (fixpoint deltas are anti-joined
    # against the accumulated set) and collection ids are disjoint from
    # base's node/way ids — base ∪ col_rel needs no dedupe.  Only the
    # complete-mode down-propagation (its inherited rows re-emit tiles
    # already present in base) ends in a distinct.
    out = base.union(col_rel)
    if not complete:
        return out

    # J5/J6: members inherit the relation's full tile set, and nodes of
    # member SESSIONS inherit those sessions' augmented sets (pass 2)
    targets = (sessions.filter(F.col("tags")["type"] == "multipolygon")
               if multipolygon_only else sessions)
    return complete_relation_propagation(
        session_edges(targets, "collection")
        .withColumnRenamed("group_id", "relation_id"),
        col_rel, way_edges.withColumnRenamed("group_id", "way_id"), out,
    )
