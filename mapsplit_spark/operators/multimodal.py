"""Multimodal (image) column operators — decode, feature-extract, resize,
mosaic-ready normalization.

Images travel as opaque ``binary`` columns with typed metadata (w, h,
fmt) per BASELINE.json input_hint.  All operators are Arrow-batched
``mapInPandas`` — the Spark-side plumbing (schemas, batch shapes,
partition behavior) is real and tested; the pixel codec itself is the
deterministic MSIM stub from ``mapsplit_spark.imaging`` because this
container ships no libpng/libjpeg (swap ``imaging.encode/decode`` for
PIL on a real cluster; every signature stays identical).

Mosaics too: each tile's capped members arrive as one array, not as
one Python call per tile.

Scale: decode stages select ONLY the columns they need (bytes stays out
of every earlier stage per SURVEY.md §7.4-5), and batch size is
controlled by spark.sql.execution.arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import imaging

_FEAT_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, brightness double, phash_check long"
)


def decode_features(images: DataFrame) -> DataFrame:
    """Decode each payload and extract per-image pixel features.
    → (image_id, w, h, fmt, mean_r, mean_g, mean_b, brightness,
    phash_check).  phash_check re-derives the stored phash so pipelines
    can assert payload integrity end-to-end."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                px = imaging.decode_image(bytes(r.bytes))
                means = px.astype(np.float64).mean(axis=(0, 1))
                out.append((
                    r.image_id, int(r.w), int(r.h), r.fmt,
                    round(float(means[0]), 4), round(float(means[1]), 4),
                    round(float(means[2]), 4), round(float(means.mean()), 4),
                    imaging.phash64(px),
                ))
            yield pd.DataFrame(out, columns=[
                "image_id", "w", "h", "fmt", "mean_r", "mean_g", "mean_b",
                "brightness", "phash_check",
            ])

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, _FEAT_SCHEMA)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbour resize of every payload (numpy index sampling —
    codec-independent).  → (image_id, bytes, w, h, fmt) with new dims,
    re-encoded lossless."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imaging.decode_image(bytes(r.bytes))
                resized = imaging.resize_nearest(px, out_w, out_h)
                rows.append((r.image_id, imaging.encode_image(resized, "png"),
                             out_w, out_h, "png"))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])

    return images.select("image_id", "bytes").mapInPandas(
        run, "image_id string, bytes binary, w int, h int, fmt string"
    )


def tile_mosaics(tile_images: DataFrame, cell: int = 16, grid: int = 8) -> DataFrame:
    """Raster tile rendering: per-tile mosaic assembled from the member
    images (north-star raster↔vector surface).  Input needs (tile_x,
    tile_y, image_id, bytes); members are placed row-major in image_id
    order (deterministic manifests → deterministic mosaics), each
    nearest-neighbour-resized to ``cell``², at most ``grid``² members.
    → (tile_x, tile_y, n_members, mosaic: binary png-stub).

    The ``grid``² cap applies in the JVM (``row_number`` over the tile
    in image_id order) before each tile's payloads are collected into
    one array, so a hot tile never ships its surplus members to Python;
    one ``mapInPandas`` call per Arrow batch assembles every tile of it.
    """

    with_zoom = "zoom" in tile_images.columns  # multi-zoom (optimized) runs
    keys = (["zoom"] if with_zoom else []) + ["tile_x", "tile_y"]

    def mosaic(members) -> bytes:
        canvas = np.zeros((cell * grid, cell * grid, 3), dtype=np.uint8)
        for i, payload in enumerate(members):
            px = imaging.decode_image(bytes(payload))
            ry, rx = divmod(i, grid)
            canvas[ry * cell:(ry + 1) * cell, rx * cell:(rx + 1) * cell] = \
                imaging.resize_nearest(px, cell, cell)
        return imaging.encode_image(canvas, "png")

    def assemble(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                **{k: pdf[k] for k in keys},
                "n_members": pdf["members"].map(len),
                "mosaic": pdf["members"].map(mosaic),
            })

    rank = F.row_number().over(Window.partitionBy(*keys).orderBy("image_id"))
    members = (
        tile_images.withColumn("rank", rank)
        .filter(F.col("rank") <= grid * grid)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(F.struct("rank", "bytes")))
             .getField("bytes").alias("members"))
    )
    schema = ("zoom int, " if with_zoom else "") + \
        "tile_x long, tile_y long, n_members long, mosaic binary"
    return members.mapInPandas(assemble, schema)


def validate_payload_metadata(images: DataFrame) -> None:
    """P4 fail-fast metadata validation (checkMetadata,
    MapSplit.java:700-704: abort the -m run when an entity carries no
    version/timestamp).  Our analog: a --payload run aborts when any
    payload column (bytes, w, h, fmt, caption) is NULL — one cheap
    aggregate, evaluated before the expensive materialization stage."""
    counts = images.agg(*[
        F.count(F.when(F.col(c).isNull(), 1)).alias(c)
        for c in ("bytes", "w", "h", "fmt", "caption")
    ]).collect()[0].asDict()
    bad = {c: n for c, n in counts.items() if n > 0}
    if bad:
        raise ValueError(
            f"payload metadata validation failed — NULLs in {bad}; "
            "refusing to materialize (reference parity: checkMetadata abort)"
        )


def sample_frames(videos: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling (the training-data 'frame-sample' op): each
    opaque video payload → every ``every_n``-th frame as an image row
    (re-encoded lossless), ready for the image operators above
    (decode_features / resize / phash dedup).  Arrow-batched
    ``mapInPandas`` — one video in, ~n_frames/every_n image rows out
    (the schema/batch plumbing is real; the demuxer is the MVID stub,
    mapsplit_spark.imaging.decode_video — swap for ffmpeg on a real
    cluster).  → (video_id, frame_idx, bytes, w, h, fmt)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                frames = imaging.decode_video(bytes(r.bytes))
                for i in range(0, len(frames), every_n):
                    px = frames[i]
                    rows.append((r.video_id, i,
                                 imaging.encode_image(px, "png"),
                                 px.shape[1], px.shape[0], "png"))
            yield pd.DataFrame(rows, columns=[
                "video_id", "frame_idx", "bytes", "w", "h", "fmt"])

    return videos.select("video_id", "bytes").mapInPandas(
        run, "video_id string, frame_idx int, bytes binary, w int, h int, fmt string"
    )


def frame_phashes(frames: DataFrame) -> DataFrame:
    """Per-frame perceptual hash over ``sample_frames`` output — the
    glue of the frame-sample → pHash-dedup chain (r5, VERDICT r4 #5):
    decode each sampled frame, 64-bit pHash it, and append a
    deterministic ``frame_id`` (xxhash64 of video_id + frame_idx,
    JVM-side) so the pair relation downstream
    (``dedup.hamming_near_dups``) gets the int64 id it keys on while
    the (video_id, frame_idx) provenance stays on the row.
    → (video_id, frame_idx, frame_id, phash)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imaging.decode_image(bytes(r.bytes))
                rows.append((r.video_id, int(r.frame_idx),
                             imaging.phash64(px)))
            yield pd.DataFrame(rows, columns=["video_id", "frame_idx", "phash"])

    return frames.select("video_id", "frame_idx", "bytes").mapInPandas(
        run, "video_id string, frame_idx int, phash long"
    ).withColumn("frame_id", F.xxhash64(F.col("video_id"), F.col("frame_idx")))


def audio_features(audio: DataFrame) -> DataFrame:
    """Audio feature extraction over opaque PCM payloads — REAL math, no
    stub needed: the bytes column is interpreted as little-endian int16
    mono PCM at 16 kHz (the input_hint opaque-binary convention) and
    reduced with vectorized numpy per batch.  → (audio_id, n_samples,
    duration_sec, rms, peak, zero_cross_rate)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                buf = bytes(r.bytes)
                # odd-length payload: truncate the trailing byte instead
                # of letting frombuffer fail the whole task on one
                # malformed blob (degrade per row, like the n==0 path)
                x = np.frombuffer(buf[: len(buf) // 2 * 2],
                                  dtype="<i2").astype(np.float64)
                n = len(x)
                if n == 0:
                    rows.append((r.audio_id, 0, 0.0, 0.0, 0.0, 0.0))
                    continue
                zc = float(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
                rows.append((
                    r.audio_id, n, round(n / 16_000, 6),
                    round(float(np.sqrt(np.mean(x ** 2))), 4),
                    round(float(np.abs(x).max()), 1),
                    round(zc / max(n - 1, 1), 6),
                ))
            yield pd.DataFrame(rows, columns=[
                "audio_id", "n_samples", "duration_sec", "rms", "peak",
                "zero_cross_rate"])

    return audio.select("audio_id", "bytes").mapInPandas(
        run, "audio_id string, n_samples long, duration_sec double, "
             "rms double, peak double, zero_cross_rate double"
    )
