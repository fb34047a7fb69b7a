"""spark-submit entry point — the engine's CLI, mirroring mapsplit's
surface (CommandLineParams.java:116-273) on Spark.

    spark-submit --py-files mapsplit_spark.zip jobs/split_job.py \
        --input /data/images.parquet --output /out/tiles \
        --zoom 13 --border 0.1 --optimize 2000 \
        [--sessions /data/sessions.parquet --complete-sessions \
         --multipolygon-only] \
        [--poly /data/clip_polygons.parquet --poly-id vaduz] \
        [--date-file /out/latest.date --ts-col ts_ms] \
        [--mbtiles /out/tiles.mbtiles] [--payload]

Flag mapping: -z/--zoom, -b/--border, -O/--optimize, polygon clip ≡ -p,
--metadata ≡ -m (payload columns carried into tile outputs, with the
P4 fail-fast null check), MBTiles ≡ -M, --sessions + --complete-sessions
≡ -c (complete relations), --multipolygon-only ≡ -C, --date-file ≡ the
appointment-date file (read prior date, write back latestDate —
MapSplit.java:1506-1547).

Both modes run the same stage chain (``mapsplit_spark.pipeline.
TilingPipeline``): assign + border → [sessions] → [clip] → [optimize]
→ manifests.  ``--workdir`` only persists each stage for kill/resume;
every other output (zones, pyramid, payload, MBTiles, ``--date-file``
filtering, ...) runs the same way with or without it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mapsplit_spark.operators.assign import with_tile_id  # noqa: E402
from mapsplit_spark.operators.clip import zone_assign  # noqa: E402
from mapsplit_spark.pipeline import TilingPipeline  # noqa: E402
from mapsplit_spark.sinks import read_back, write_parquet  # noqa: E402
from mapsplit_spark.sinks.manifests import tile_manifests  # noqa: E402
from mapsplit_spark.sinks.zorder import write_tiles  # noqa: E402
from mapsplit_spark.tilemath import MAX_ZOOM  # noqa: E402


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="PySpark tile splitter (mapsplit semantics)")
    p.add_argument("--input", required=True, help="images parquet (image_id, lon, lat, ...)")
    p.add_argument("--output", required=True, help="output dir for tiles + manifests")
    p.add_argument("--zoom", type=int, default=13, choices=range(MAX_ZOOM + 1),
                   metavar="0..16")
    p.add_argument("--border", type=float, default=0.0)
    p.add_argument("--optimize", type=int, default=0, metavar="NODE_LIMIT")
    p.add_argument("--sessions", help="sessions parquet (session_id, kind, member_ids, tags)")
    p.add_argument("--complete-sessions", action="store_true",
                   help="-c: relation members inherit the relation's full tile set "
                        "(J5/J6 down-propagation)")
    p.add_argument("--multipolygon-only", action="store_true",
                   help="-C: restrict down-propagation to tags.type=multipolygon (P6)")
    p.add_argument("--poly", help="clip_polygons parquet")
    p.add_argument("--poly-id", default=None)
    p.add_argument("--date-file",
                   help="appointment-date file (epoch ms): if present, only tiles "
                        "touched by newer elements are written; latestDate is "
                        "written back after the run (MapSplit.java:1506-1547)")
    p.add_argument("--ts-col", default="ts_ms",
                   help="epoch-ms timestamp column driving --date-file")
    p.add_argument("--tile-files", metavar="DIR",
                   help="also write one JSON manifest file per tile under DIR")
    p.add_argument("--tile-template", default="%z/%x_%y.json",
                   help="per-tile path template with %%x %%y %%z "
                        "(MapSplit.java:1211-1219)")
    p.add_argument("--mbtiles", help="also export an MBTiles file (manifest blobs)")
    p.add_argument("--raster-mbtiles",
                   help="also export raster MBTiles (per-tile mosaics from bytes)")
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--lon-col", default="lon")
    p.add_argument("--lat-col", default="lat")
    p.add_argument("--chunked-manifests", action="store_true",
                   help="write manifests as per-salt CHUNK rows (zoom, tile_x, "
                        "tile_y, salt, element_ids, n) instead of one row per "
                        "tile — the megatile-safe shape: no single task ever "
                        "assembles a hot tile's full id array (manifests.py "
                        "chunked docs; a tile's manifest is the flattened "
                        "sorted union of its chunks).  Incompatible with "
                        "--mbtiles/--tile-files, which contractually need one "
                        "row per tile")
    p.add_argument("--pyramid", type=int, default=None, metavar="MIN_ZOOM",
                   choices=range(MAX_ZOOM + 1),
                   help="also write the tile-pyramid rollup (zoom, tile_x, "
                        "tile_y, n) for every level in [MIN_ZOOM, --zoom] "
                        "under <output>/pyramid (distinct-element counts "
                        "per ancestor tile; operators/pyramid). Rolls up "
                        "the full base-zoom assignment — orthogonal to "
                        "--optimize merging and the --date-file filter")
    p.add_argument("--focal-radius", type=int, default=None, metavar="R",
                   help="also write <output>/focal: box-kernel neighborhood "
                        "sum of the base-zoom per-tile counts at Chebyshev "
                        "radius R (raster focal statistics / heat-map "
                        "smoothing)")
    p.add_argument("--geohash", type=int, default=0, metavar="0..12",
                   choices=range(13),
                   help="also write <output>/geohash: per input element the "
                        "base-32 geohash cell id at this precision (an "
                        "alternative spatial bucketing key; 0 = skip)")
    p.add_argument("--hexgrid", type=float, default=0.0, metavar="SIZE_DEG",
                   help="also write <output>/hexcells: per input element the "
                        "axial hex cell (hq, hr) of the H3-analog lattice "
                        "with this circumradius in degrees (0 = skip)")
    p.add_argument("--raster", type=int, default=None, metavar="ZOOM",
                   choices=range(MAX_ZOOM + 1),
                   help="with --poly: also write <output>/raster — the "
                        "polygon rasterized onto this zoom's tile grid by "
                        "tile-center containment (vector→raster)")
    p.add_argument("--snap", metavar="SEGMENTS_PARQUET", default=None,
                   help="also write <output>/snapped: each input element "
                        "snapped to its nearest segment (way_id, seq, x1, "
                        "y1, x2, y2) within --snap-km (map matching)")
    p.add_argument("--snap-km", type=float, default=2.0,
                   help="snap radius in km for --snap (default 2)")
    p.add_argument("--idw", type=int, default=None, metavar="ZOOM",
                   choices=range(MAX_ZOOM + 1),
                   help="also write <output>/idw: IDW-interpolated "
                        "--idw-value surface at this zoom's tile centers "
                        "(3x3 neighborhood)")
    p.add_argument("--idw-value", default="w",
                   help="numeric column to interpolate for --idw")
    p.add_argument("--transitions", metavar="BY_COL", default=None,
                   help="with --poly: also write <output>/transitions — "
                        "geofence enter/exit rows per BY_COL trace ordered "
                        "by --ts-col")
    p.add_argument("--dwithin", type=float, default=0.0, metavar="KM",
                   help="also write <output>/dwithin_pairs: all input "
                        "element pairs within this ground distance "
                        "(0 = skip)")
    p.add_argument("--zonal", action="store_true",
                   help="with --poly: also write <output>/zones — per "
                        "outer-ring point counts (zonal statistics over "
                        "the clip polygons; operators/clip.zone_assign)")
    p.add_argument("--clusters", type=int, default=0, metavar="MIN_PTS",
                   help="also write <output>/clusters: grid-density "
                        "clustering (DBSCAN over the tile grid) — dense "
                        "cells (≥ MIN_PTS points at --clusters-zoom) "
                        "labelled by 8-connected component (operators/"
                        "clustering); 0 = skip")
    p.add_argument("--clusters-zoom", type=int, default=None, metavar="ZOOM",
                   choices=range(MAX_ZOOM + 1),
                   help="grid zoom for --clusters (default: min(--zoom, 8))")
    p.add_argument("--payload", action="store_true",
                   help="materialize payload columns per tile (join bytes last; "
                        "P4 metadata null check aborts bad inputs)")
    p.add_argument("--workdir", default=None,
                   help="stage-checkpoint dir: persists each stage of the same "
                        "chain for kill/resume (pipeline.py); outputs are "
                        "identical with or without it")
    p.add_argument("--timing", action="store_true",
                   help="-v/-t parity (CommandLineParams.java:121-122): print "
                        "per-stage wall seconds and row counts from the "
                        "pipeline metrics tables (stage detail needs --workdir)")
    return p


def _read_date_file(path: str) -> int | None:
    if not path or not os.path.exists(path):
        return None
    with open(path) as fh:
        txt = fh.read().strip()
    return int(txt) if txt else None


def main(argv=None) -> None:
    p = build_parser()
    args = p.parse_args(argv)
    for flag, given in (("--zonal", args.zonal), ("--raster", args.raster is not None),
                        ("--transitions", args.transitions)):
        if given and not args.poly:
            p.error(f"{flag} requires --poly")
    if args.pyramid is not None and args.pyramid > args.zoom:
        p.error(f"--pyramid {args.pyramid} is above --zoom {args.zoom}")
    for flag, ok, domain in (
            ("--border", 0 <= args.border < 0.5, "in [0, 0.5)"),
            ("--focal-radius", (args.focal_radius or 0) >= 0, "≥ 0"),
            ("--hexgrid", args.hexgrid >= 0, "≥ 0"), ("--dwithin", args.dwithin >= 0, "≥ 0"),
            ("--clusters", args.clusters >= 0, "≥ 0"), ("--snap-km", args.snap_km > 0, "> 0")):
        if not ok:
            p.error(f"{flag} must be {domain}")
    if args.chunked_manifests and (args.mbtiles or args.tile_files or args.workdir):
        raise SystemExit(
            "--chunked-manifests is incompatible with --mbtiles/--tile-files "
            "(one-row-per-tile sinks) and --workdir (stage manifests are flat)"
        )
    from pyspark.sql import SparkSession

    from mapsplit_spark.session import get_spark

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("split-job")
    t0 = time.time()
    pipe = TilingPipeline(
        spark, args.workdir, zoom=args.zoom, border=args.border,
        id_col=args.id_col, lon_col=args.lon_col, lat_col=args.lat_col,
        poly_path=args.poly, poly_id=args.poly_id, node_limit=args.optimize,
        sessions_path=args.sessions, complete_sessions=args.complete_sessions,
        multipolygon_only=args.multipolygon_only,
    )
    if args.poly:
        pipe.rings  # an unknown --poly-id raises here, before any output
    src = pipe.read(args.input)
    if args.date_file and args.ts_col not in src.columns:
        raise SystemExit(
            f"--date-file requires timestamp column '{args.ts_col}' "
            f"(input has: {src.columns}); set --ts-col"
        )
    appointment_ms = _read_date_file(args.date_file)

    pipe.run(args.input)

    # S5/P3/A4 — appointment-date incremental: a tile is written iff it
    # contains an element newer than the appointment date.  Element-level
    # timestamps live on the images table; 'newer' is closed over group
    # membership (a session/collection with ANY transitively-newer member
    # is modified as a whole, so inherited/hole-filled tiles that hold no
    # newer image row themselves are still rewritten — the reference
    # marks modified tiles from each entity's own timestamp)
    if appointment_ms is not None:
        newer = src.filter(F.col(args.ts_col) > F.lit(appointment_ms)) \
            .select(F.col(args.id_col).alias("element_id"))
        if args.sessions:
            from mapsplit_spark.operators.propagate import propagate_newer
            from mapsplit_spark.operators.sessions import session_edges

            sess = pipe.read(args.sessions)
            edges = session_edges(sess, "session").unionByName(
                session_edges(sess, "collection"))
            newer = propagate_newer(edges, newer)
        pipe.restrict(
            pipe.tiled.join(newer, "element_id", "left_semi")
            .select("zoom", "tile_x", "tile_y").distinct()
        )

    # base-zoom pairs (--pyramid/--focal need them even when --optimize
    # replaced the output-zoom relation) and the output-zoom relation
    # that manifests, payload and raster keys all derive from
    pairs, tiled, manifests = pipe.pairs, pipe.tiled, pipe.manifests
    if args.chunked_manifests:
        manifests = tile_manifests(tiled, args.zoom, assume_distinct=True,
                                   chunked=True)
    out = args.output
    # the summary's tile and element counts ride the manifests write
    written = write_parquet(manifests, f"{out}/manifests", elements=F.sum("n"))
    # the one-row-per-tile exports read the written manifests: the lazy
    # frame would run the manifest aggregation again
    stored = read_back(manifests, f"{out}/manifests")

    if args.pyramid is not None:
        from mapsplit_spark.operators.pyramid import pyramid_counts

        write_parquet(pyramid_counts(
            pairs.select("element_id", "tile_x", "tile_y"),
            args.zoom, args.pyramid,
        ), f"{out}/pyramid")

    if args.focal_radius is not None:
        from mapsplit_spark.operators.focal import focal_sum
        from mapsplit_spark.sinks.manifests import tile_counts

        write_parquet(focal_sum(
            tile_counts(pairs.select("element_id", "tile_x", "tile_y")),
            args.zoom, radius=args.focal_radius,
        ), f"{out}/focal")

    if args.geohash:
        from mapsplit_spark.cellid import geohash_col

        write_parquet(src.select(
            F.col(args.id_col).alias("element_id"),
            geohash_col(F.col(args.lon_col), F.col(args.lat_col),
                        args.geohash).alias("geohash"),
        ), f"{out}/geohash")

    if args.hexgrid:
        from mapsplit_spark.hexgrid import hex_cell_cols

        hq, hr = hex_cell_cols(F.col(args.lon_col), F.col(args.lat_col),
                               args.hexgrid)
        write_parquet(src.select(
            F.col(args.id_col).alias("element_id"),
            hq.alias("hq"), hr.alias("hr"),
        ), f"{out}/hexcells")

    if args.zonal:
        write_parquet(zone_assign(
            src.select(args.id_col, args.lon_col, args.lat_col),
            *pipe.rings, id_col=args.id_col,
            lon_col=args.lon_col, lat_col=args.lat_col,
        ).groupBy("zone").agg(
            F.count("*").cast("long").alias("n_points")
        ), f"{out}/zones")

    if args.raster is not None:
        from mapsplit_spark.operators.clip import rasterize

        write_parquet(rasterize(spark, *pipe.rings, args.raster), f"{out}/raster")

    if args.snap:
        from mapsplit_spark.operators.snap import snap_to_segments

        write_parquet(snap_to_segments(
            src.select(F.col(args.id_col).alias("pid"),
                       F.col(args.lon_col).alias("lon"),
                       F.col(args.lat_col).alias("lat")),
            spark.read.parquet(args.snap), args.snap_km,
        ), f"{out}/snapped")

    if args.idw is not None:
        from mapsplit_spark.operators.interpolate import idw_grid

        write_parquet(idw_grid(
            src.select(args.id_col, args.lon_col, args.lat_col,
                       args.idw_value),
            args.id_col, args.lon_col, args.lat_col, args.idw_value,
            args.idw, radius=1,
        ), f"{out}/idw")

    if args.transitions:
        from mapsplit_spark.operators.geofence import zone_transitions

        write_parquet(zone_transitions(
            src.select(args.transitions, args.ts_col, args.id_col,
                       args.lon_col, args.lat_col),
            args.transitions, args.ts_col, args.id_col,
            args.lon_col, args.lat_col, *pipe.rings,
        ), f"{out}/transitions")

    if args.dwithin:
        from mapsplit_spark.operators.dwithin import dwithin_pairs

        write_parquet(dwithin_pairs(
            src.select(args.id_col, args.lon_col, args.lat_col),
            args.id_col, args.lon_col, args.lat_col, args.dwithin,
        ), f"{out}/dwithin_pairs")

    if args.clusters:
        from mapsplit_spark.operators.clustering import grid_clusters

        cz = args.clusters_zoom if args.clusters_zoom is not None \
            else min(args.zoom, 8)
        write_parquet(grid_clusters(
            src.select(args.id_col, args.lon_col, args.lat_col),
            args.id_col, args.lon_col, args.lat_col, cz, args.clusters,
        ), f"{out}/clusters")

    # A3 latestDate — deterministic metadata + --date-file write-back
    latest_ms = 0
    if args.ts_col in src.columns:
        latest_ms = src.agg(F.max(args.ts_col)).collect()[0][0] or 0

    if args.payload:
        from mapsplit_spark.operators.multimodal import validate_payload_metadata

        validate_payload_metadata(src)  # P4 fail-fast
        payload = with_tile_id(tiled, args.zoom).join(
            src, tiled["element_id"] == src[args.id_col]
        ).drop(args.id_col)
        write_tiles(payload, f"{out}/tiles", args.zoom)

    if args.tile_files:
        from mapsplit_spark.sinks.tilefiles import export_tile_files

        export_tile_files(stored, args.tile_files, args.tile_template)

    if args.mbtiles:
        from mapsplit_spark.sinks.mbtiles import export_mbtiles

        export_mbtiles(spark, stored, args.mbtiles, args.zoom,
                       latest_date_ms=latest_ms)

    if args.raster_mbtiles:
        from mapsplit_spark.operators.multimodal import tile_mosaics
        from mapsplit_spark.sinks.mbtiles import export_raster_mbtiles

        tile_imgs = tiled.join(
            src.select(args.id_col, "bytes"), tiled["element_id"] == src[args.id_col]
        ).select("zoom", "tile_x", "tile_y", F.col("element_id").alias("image_id"), "bytes")
        export_raster_mbtiles(spark, tile_mosaics(tile_imgs), args.raster_mbtiles,
                              args.zoom, latest_date_ms=latest_ms)

    if args.date_file:
        with open(args.date_file, "w") as fh:  # MapSplit.java:1543-1547
            fh.write(str(int(latest_ms)))

    if args.timing:
        if args.workdir:
            stage_stats = (
                pipe.metrics()
                .groupBy("stage")
                .agg(F.sum("n_rows").alias("rows"),
                     F.max("wall_sec").alias("wall_sec"),
                     F.count("*").alias("partitions"))
                .collect()
            )
            order = {s: i for i, s in enumerate(pipe.STAGES)}
            for r in sorted(stage_stats, key=lambda r: order.get(r.stage, 99)):
                print(f"[timing] stage={r.stage} rows={r.rows} "
                      f"partitions={r.partitions} wall_sec={r.wall_sec}")
        else:
            print("[timing] per-stage detail requires --workdir "
                  "(stage metrics tables); total wall_sec is in the summary")

    n_tiles = written["rows"]
    if args.chunked_manifests:  # an observed metric cannot count distinct tiles
        n_tiles = stored.select("zoom", "tile_x", "tile_y").distinct().count()
    print(json.dumps({
        "tiles": n_tiles,
        "elements": written["elements"],
        "incremental": appointment_ms is not None,
        "chunked": bool(args.chunked_manifests),
        "pyramid_levels": (args.zoom - args.pyramid + 1
                           if args.pyramid is not None else None),
        "latest_date_ms": int(latest_ms),
        "wall_sec": round(time.time() - t0, 2),
    }))
    if owns_session:  # don't tear down a caller-owned session (tests)
        spark.stop()


if __name__ == "__main__":
    main()
