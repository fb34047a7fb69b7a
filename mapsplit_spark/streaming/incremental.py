"""Structured-Streaming incremental tile maintenance.

The reference's incremental story is the batch "appointment date"
mechanism — re-split everything, mark tiles touched by entities newer
than a watermark date (MapSplit.java:435-437, 1506-1531; README.md:43-44
admits it "likely doesn't really work").  The Spark-native replacement:
a streaming job that tails the input table, assigns tiles with the SAME
column expressions as the batch path (sqlgen — no drift), and maintains
per-tile counts / modified-tile sets with event-time watermarks.

At scale this runs as readStream on the Iceberg/parquet table with
checkpointLocation on durable storage; per-tile counts feed the optimize
pass and the modified-tile set drives selective re-materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.assign import assign_tiles, expand_tiles
from .drain import Sink


def stream_assign(stream_df: DataFrame, id_col: str, lon_col: str, lat_col: str,
                  zoom: int, border: float = 0.1) -> DataFrame:
    """Streaming point→tile assignment — identical expressions to the
    batch operator (stateless projections work unchanged on streams)."""
    keep = ["ts"] if "ts" in stream_df.columns else []
    assigned = assign_tiles(stream_df, id_col, lon_col, lat_col, zoom, border,
                            keep_cols=keep)
    return expand_tiles(assigned, keep_cols=keep)


def modified_tile_counts(pairs: DataFrame) -> DataFrame:
    """Per-tile modification counts over 1-hour event-time windows with
    10 minutes of late-data tolerance — the streaming modifiedTiles set
    (A4) with counts (A2)."""
    return (
        pairs.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "tile_x", "tile_y")
        .agg(F.count("*").alias("n_modified"))
        .select(
            F.col("win.start").alias("win_start"),
            "tile_x", "tile_y", "n_modified",
        )
    )


def tile_count_stream(spark, src_dir: str, out_dir: str, id_col: str,
                      lon_col: str, lat_col: str, zoom: int,
                      border: float = 0.1, schema=None) -> tuple[DataFrame, Sink]:
    """File-source streaming pipeline: tail ``src_dir`` for new parquet
    and maintain per-tile windowed counts.  Returns the count stream and
    the ``foreachBatch`` sink that upserts each micro-batch into
    ``out_dir`` (on a real cluster the sink is an Iceberg MERGE).  Start
    both with ``drain.run_stream`` (or ``drain.start_stream``) and a
    checkpoint: kill and restart resumes from the last committed
    offsets."""
    reader = spark.readStream.schema(schema) if schema is not None else spark.readStream
    stream = reader.parquet(src_dir)
    pairs = stream_assign(stream, id_col, lon_col, lat_col, zoom, border)

    def sink(batch_df, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(out_dir)
        )

    return modified_tile_counts(pairs), sink
