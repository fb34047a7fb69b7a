"""spark-submit streaming entry point — continuous tile maintenance.

The reference's incremental story is the batch appointment-date
mechanism (MapSplit.java:1506-1547; `split_job.py --date-file` is its
faithful CLI).  This job is the Spark-NATIVE upgrade: tail a directory
(an Iceberg/parquet landing zone) for new image rows and maintain
per-tile modification counts with event-time watermarks — checkpointed,
kill/restart-safe, exactly the `readStream → assign → window →
foreachBatch upsert` shape SURVEY.md §2.7 maps the date mechanism onto.

    spark-submit --py-files mapsplit_spark.zip jobs/stream_job.py \
        --input /landing/images --checkpoint /state/ckpt \
        --output /out/tile_counts --zoom 13 --border 0.1 \
        [--once]   # availableNow trigger: drain what exists, then stop

Each output row: (win_start, tile_x, tile_y, n_modified, batch_id) —
the streaming modifiedTiles set (A4) with counts (A2), consumable by a
downstream selective re-materialization of hot tiles.

``--mode dedup`` (r5) switches the job to the ONLINE near-dup stream:
tail a landing zone of (id, phash) rows and emit (id_a, id_b, hamming)
pairs the moment the later member arrives
(streaming.dedup_stream.streaming_hamming_dedup, RocksDB-backed state,
exact pigeonhole recall for radius ≤ bands−1).  Pairs append to
``--output`` parquet via foreachBatch (a pair colliding in several
band buckets appears once per bucket — read with dropDuplicates).
``--bands`` must be explicit in this mode (a stream has no countable
size for auto_bands).

Every mode starts through ``streaming.drain.run_stream``: a new
checkpoint gets one task wave of state partitions
(``defaultParallelism``), a resumed one keeps the count it was created
with, and ``--once`` returns once the input present at start is
committed, state TTL or not.  The JSON summary line adds
``state_partitions``, ``state_rows`` and ``state_bytes`` from the last
StreamingQueryProgress (no extra Spark job).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapsplit_spark.tilemath import MAX_ZOOM  # noqa: E402


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="streaming tile maintenance")
    p.add_argument("--input", required=True, help="directory tailed for new parquet")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--zoom", type=int, default=13, choices=range(MAX_ZOOM + 1),
                   metavar="0..16")
    p.add_argument("--border", type=float, default=0.1)
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--lon-col", default="lon")
    p.add_argument("--lat-col", default="lat")
    p.add_argument("--once", action="store_true",
                   help="drain available input then stop (availableNow)")
    p.add_argument("--interval", default="2 seconds",
                   help="micro-batch trigger interval in continuous mode "
                        "(ignored with --once)")
    p.add_argument("--timeout-sec", type=float, default=None,
                   help="continuous mode: stop after N seconds (omit to run "
                        "until killed); --once: fail if the drain is still "
                        "running after N seconds (omit to wait)")
    p.add_argument("--mode", choices=["counts", "dedup", "geofence"],
                   default="counts",
                   help="counts: watermarked per-tile modification counts "
                        "(default); dedup: online pHash near-dup pair stream")
    p.add_argument("--hash-col", default="phash")
    p.add_argument("--radius", type=int, default=3)
    p.add_argument("--bands", type=int, default=4,
                   help="pigeonhole band count (dedup mode; explicit — "
                        "streams cannot auto-size)")
    p.add_argument("--bits", type=int, default=64)
    p.add_argument("--max-bucket", type=int, default=1024)
    p.add_argument("--state-ttl-ms", type=int, default=None,
                   help="evict dedup buckets idle this long (processing-"
                        "time timeout) — bounds state to the active "
                        "working set for unbounded ingest; pairs older "
                        "than the TTL fall to batch reconciliation")
    p.add_argument("--poly", help="--mode geofence: zone rings parquet")
    p.add_argument("--poly-id", default=None)
    p.add_argument("--user-col", default="user_id",
                   help="--mode geofence: trace key column")
    p.add_argument("--ts-col", default="ts",
                   help="--mode geofence: event-time column")
    return p


def geofence_mode(spark, args):
    """--mode geofence: landing (user, ts, id, lon, lat) parquet →
    zone enter/exit transition stream → append-only parquet rows."""
    from mapsplit_spark.operators.clip import load_rings
    from mapsplit_spark.streaming.geofence_stream import (
        streaming_zone_transitions,
    )

    outers, inners = load_rings(spark.read.parquet(args.poly), args.poly_id)
    schema = spark.read.parquet(args.input).schema
    stream = spark.readStream.schema(schema).parquet(args.input)
    trans = streaming_zone_transitions(
        stream, args.user_col, args.ts_col, args.id_col,
        args.lon_col, args.lat_col, outers, inners,
    )

    def sink(df, batch_id):
        df.write.mode("append").parquet(args.output)

    def summary():
        try:
            n = spark.read.parquet(args.output).count()
        except Exception:  # noqa: BLE001 — no transitions → path absent
            n = 0
        return {"mode": "geofence", "transitions": n}

    return trans, sink, summary


def dedup_mode(spark, args):
    """--mode dedup: landing (id, phash) parquet → near-dup pair stream
    → append-only parquet pairs."""
    from mapsplit_spark.streaming.dedup_stream import streaming_hamming_dedup

    schema = spark.read.parquet(args.input).schema
    stream = spark.readStream.schema(schema).parquet(args.input)
    pairs = streaming_hamming_dedup(
        stream, id_col=args.id_col, hash_col=args.hash_col,
        radius=args.radius, n_bands=args.bands, bits=args.bits,
        max_bucket=args.max_bucket, state_ttl_ms=args.state_ttl_ms,
    )

    def sink(df, batch_id):  # file sinks can't take update mode directly
        # a drain's pairs are few: one file per drain, not one per task
        df.dropDuplicates(["id_a", "id_b"]).coalesce(1).write.mode("append") \
            .parquet(args.output)

    def summary():
        try:  # zero emitted pairs → the sink dir may never have been created
            n_pairs = spark.read.parquet(args.output) \
                .dropDuplicates(["id_a", "id_b"]).count()
        except Exception:  # noqa: BLE001 — AnalysisException: path not found
            n_pairs = 0
        return {"mode": "dedup", "pairs": n_pairs}

    return pairs, sink, summary


def counts_mode(spark, args):
    """--mode counts: landing image parquet → watermarked per-tile
    modification counts, upserted per micro-batch."""
    from mapsplit_spark.streaming.incremental import tile_count_stream

    # file streams need an explicit schema: take it from the existing data
    counts, sink = tile_count_stream(
        spark, args.input, args.output, args.id_col, args.lon_col,
        args.lat_col, args.zoom, args.border,
        schema=spark.read.parquet(args.input).schema,
    )

    def summary():
        out = spark.read.parquet(args.output)
        return {"rows": out.count(),
                "tiles": out.select("tile_x", "tile_y").distinct().count()}

    return counts, sink, summary


# each mode returns (stateful stream, foreachBatch sink, summary dict maker)
MODES = {"counts": counts_mode, "dedup": dedup_mode, "geofence": geofence_mode}


def parse_args(argv=None) -> argparse.Namespace:
    p = build_parser()
    args = p.parse_args(argv)
    if args.mode == "geofence" and not args.poly:
        p.error("--mode geofence requires --poly RINGS")
    if not 0 <= args.border < 0.5:
        p.error("--border must be in [0, 0.5)")
    return args


def main(argv=None) -> None:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from mapsplit_spark.session import get_spark
    from mapsplit_spark.streaming.dedup_stream import rocksdb_state_conf
    from mapsplit_spark.streaming.drain import run_stream, state_metrics

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("stream-job")
    try:
        frame, sink, summary = MODES[args.mode](spark, args)
        # --once: availableNow drains the files present, then stops;
        # otherwise a processingTime trigger keeps tailing — files
        # arriving after start ARE processed until the timeout (or
        # forever without one)
        q = run_stream(
            spark, frame, sink, args.checkpoint,
            interval=None if args.once else args.interval,
            timeout_sec=args.timeout_sec,
            conf=None if args.mode == "counts" else rocksdb_state_conf(),
        )
        print(json.dumps({**summary(), **state_metrics(q)}))
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    main()
