"""Grouped-geometry stage: the full setup() propagation for ways and
relations (MapSplit.java:452-511 ways, :534-662 relations, :772-831
fixed point + complete-relations pass 2) composed from the J1-J6 / §2.6
operators, over the engine's session/collection tables.

Table shape (datagen.make_sessions, FIXTURES.md): ``sessions(session_id,
kind ∈ {'session','collection'}, member_ids: array<string>, tags:
map<string,string>)`` — sessions ≡ ways (members are image/point ids),
collections ≡ relations (members are sessions, collections, or points).
``session_edges`` turns one kind into the ``(group_id, member_id)``
edges every propagate operator takes, and every stage below passes
``(element_id, tile_x, tile_y)`` tile rows straight from one operator
to the next: no renames between them.  Which unions need a dedupe is
stated once, in the propagate module docstring.

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
    grouped Python stage, not just raises the trigger) — for callers
    that run the fill as a separate stage or want raw reference-free
    propagation.
    """
    way_edges = session_edges(sessions, "session")
    col_edges = session_edges(sessions, "collection")

    # J1 + §2.6: way tile sets, holes patched before any propagation.
    # wt and the post-way base feed several downstream branches each —
    # materialized once (Spark reuses no identical subtrees across
    # branches; the checkpointed pipeline materializes stages instead)
    wt = way_tiles(way_edges, node_tiles)
    if holefill_min is not None:
        wt = fill_holes(wt, min_tiles=holefill_min)
    wt = wt.localCheckpoint(eager=True)

    # J2: member nodes inherit the (hole-patched) way tile set; the
    # backfill's inner join with wt leaves members of dropped ways out
    nodes_aug = backfill_member_tiles(way_edges, wt, node_tiles)

    # J3/J4: collections against the post-way state, to fixed point.
    # base and out union distinct relations over disjoint id
    # namespaces, so neither dedupes (propagate module docstring).
    base = nodes_aug.union(wt).localCheckpoint(eager=True)
    col_rel = relation_tiles_fixed_point(col_edges, base)
    out = base.union(col_rel)
    if not complete:
        return out

    # J5/J6: members inherit the relation's full tile set, and nodes of
    # member SESSIONS inherit those sessions' augmented sets (pass 2)
    targets = (sessions.filter(F.col("tags")["type"] == "multipolygon")
               if multipolygon_only else sessions)
    return complete_relation_propagation(
        session_edges(targets, "collection"), col_rel, way_edges, out,
    )
