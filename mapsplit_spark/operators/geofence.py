"""Geofence transitions — spatio-temporal event detection: per user,
the moments the trace ENTERS or LEAVES a zone (enter/exit events of a
geofencing system, alerting/attribution surface of a tracking
pipeline).  Combines the engine's two join families: point-in-polygon
zone membership (the ring-count-selected Arrow kernel of clip.py) and
ordered window analytics (lag over the per-user timeline).

Shape: ONE shuffle.  Zone membership including the min-zone fold is
fully map-side (clip.min_zone_fn — rings, plus the STR tree from
``STRTREE_MIN_RINGS`` rings on, ship once per executor, the per-point
minimum is resolved inside the Arrow batch, so there is no
groupBy-on-id/join-back round trip); the only exchange is the per-user
transition window.  No Python outside the PIP kernel.

Zone convention: ``zone`` = the smallest index of a containing outer
ring, −1 when outside all rings (overlaps resolve to the lowest index
deterministically — same rule in the oracle's LEAST() restatement).
A transition row is emitted for every consecutive pair (by event time,
ties by id) whose zones differ; the first event of a user emits
nothing (no previous state).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .clip import min_zone_fn


def with_min_zone(events: DataFrame, lon_col: str, lat_col: str,
                  outers, inners=()) -> DataFrame:
    """events → events + ``zone`` int column (min containing outer,
    −1 outside/hole) — one mapInPandas pass over the Arrow batches,
    no shuffle.  Streaming-safe (used by streaming/geofence_stream)."""
    from pyspark.sql import types as T

    zones = min_zone_fn(outers, list(inners))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            z = zones(pdf[lon_col].to_numpy(np.float64),
                      pdf[lat_col].to_numpy(np.float64))
            yield pdf.assign(zone=z)

    out_schema = T.StructType(events.schema.fields
                              + [T.StructField("zone", T.IntegerType())])
    return events.mapInPandas(run, out_schema)


def zone_transitions(events: DataFrame, user_col: str, ts_col: str,
                     id_col: str, lon_col: str, lat_col: str,
                     outers, inners=()) -> DataFrame:
    """events(user, ts, id, lon, lat) × zones →
    (user_col, event_id, prev_zone, zone) — one row per enter/exit."""
    ev = with_min_zone(
        events.select(user_col, ts_col, id_col, lon_col, lat_col),
        lon_col, lat_col, outers, inners,
    )
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    return (
        ev.withColumn("prev_zone", F.lag("zone").over(w))
        .filter(F.col("prev_zone").isNotNull()
                & (F.col("prev_zone") != F.col("zone")))
        .select(user_col, F.col(id_col).alias("event_id"),
                F.col("prev_zone").cast("int").alias("prev_zone"), "zone")
    )
