"""M2 — materialization, payload invariants, checkpoint/resume, metrics.

Ports FIXTURES.md §5: per-row decoded-pixel PSNR ≥ 40 dB (lossy) /
bit-exact (lossless), caption equality, kill-and-resume identical
manifests, per-partition metrics rows.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapsplit_spark import imaging
from mapsplit_spark.operators.multimodal import decode_features, resize_images, tile_mosaics
from mapsplit_spark.operators.assign import assign_and_expand
from mapsplit_spark.pipeline import TilingPipeline
from tests import oracle

WORK = "/tmp/pipe_test"


def test_payload_invariants(spark, images_dir):
    """PSNR ≥ 40 dB for jpeg-stub, bit-exact for png-stub, caption + phash intact."""
    imgs = spark.read.parquet(f"{images_dir}/images.parquet").limit(40).collect()
    for r in imgs:
        px = imaging.decode_image(bytes(r.bytes))
        ref = imaging.synth_pixels(int(r.image_id[3:]), r.w, r.h)
        if r.fmt == "png":
            assert np.array_equal(px, ref)
        else:
            p = oracle.psnr(ref, px)
            assert p >= 40.0, f"{r.image_id}: PSNR {p}"
        assert imaging.phash64(ref) == r.phash
        assert r.caption.startswith(f"caption for {r.image_id}:")


def test_decode_features_phash_roundtrip(spark, images_dir):
    imgs = spark.read.parquet(f"{images_dir}/images.parquet").limit(64)
    feats = decode_features(imgs)
    joined = feats.join(imgs.select("image_id", "phash"), "image_id")
    # phash recomputed from decoded pixels matches the stored one for
    # lossless rows (lossy rows may flip borderline bits)
    png_rows = joined.filter("fmt = 'png'").collect()
    assert png_rows and all(r.phash_check == r.phash for r in png_rows)
    assert all(0.0 <= r.brightness <= 255.0 for r in joined.collect())


def test_resize_shapes(spark, images_dir):
    imgs = spark.read.parquet(f"{images_dir}/images.parquet").limit(8)
    out = resize_images(imgs, 24, 24).collect()
    for r in out:
        px = imaging.decode_image(bytes(r.bytes))
        assert px.shape == (24, 24, 3)


def test_tile_mosaics_deterministic(spark, images_dir):
    imgs = spark.read.parquet(f"{images_dir}/images.parquet")
    pairs = assign_and_expand(
        imgs.select("image_id", "lon", "lat"), "image_id", "lon", "lat", 5, 0.0
    )
    tile_imgs = pairs.join(imgs.select("image_id", "bytes"),
                           pairs.element_id == imgs.image_id).select(
        "tile_x", "tile_y", "image_id", "bytes"
    )
    m1 = {(r.tile_x, r.tile_y): (r.n_members, bytes(r.mosaic))
          for r in tile_mosaics(tile_imgs).collect()}
    m2 = {(r.tile_x, r.tile_y): (r.n_members, bytes(r.mosaic))
          for r in tile_mosaics(tile_imgs.repartition(7)).collect()}
    assert m1 == m2  # partition-order independent
    assert sum(n for n, _ in m1.values()) > 0


def test_tile_mosaics_cap_keeps_smallest_image_ids(spark):
    """A tile with more than grid² members keeps exactly the grid²
    smallest image_ids: its mosaic equals the one built from those
    members alone (which the cap leaves untouched)."""
    grid = 2
    rng = np.random.default_rng(5)
    rows = [(3, 4, f"img{i:02d}",
             imaging.encode_image(rng.integers(0, 256, (6, 6, 3), dtype=np.uint8), "png"))
            for i in (7, 2, 9, 4, 0, 5, 8)]
    df = spark.createDataFrame(rows, "tile_x long, tile_y long, image_id string, bytes binary")
    got = tile_mosaics(df.repartition(3), cell=4, grid=grid).collect()
    smallest = df.orderBy("image_id").limit(grid * grid)
    want = tile_mosaics(smallest, cell=4, grid=grid).collect()
    assert len(got) == len(want) == 1
    assert got[0].n_members == want[0].n_members == grid * grid
    assert bytes(got[0].mosaic) == bytes(want[0].mosaic)


def test_pipeline_resume_identical(spark, images_dir):
    shutil.rmtree(WORK, ignore_errors=True)
    pipe = TilingPipeline(spark, WORK, zoom=13, border=0.1)
    src = f"{images_dir}/images.parquet"
    m1 = {(r.tile_x, r.tile_y): list(r.element_ids) for r in pipe.run(src).collect()}

    # simulate a crash after stage 1: wipe the manifests stage only
    shutil.rmtree(os.path.join(WORK, "manifests"))
    pipe2 = TilingPipeline(spark, WORK, zoom=13, border=0.1)
    m2 = {(r.tile_x, r.tile_y): list(r.element_ids) for r in pipe2.run(src).collect()}
    assert m1 == m2

    # metrics table has per-partition rows for both stages
    met = pipe2.metrics()
    stages = {r.stage for r in met.select("stage").distinct().collect()}
    assert stages == {"assign", "manifests"}
    assert met.filter(F.col("n_rows") <= 0).count() == 0

    # config change invalidates the checkpoint (no stale reuse)
    pipe3 = TilingPipeline(spark, WORK, zoom=12, border=0.1)
    m3 = pipe3.run(src)
    assert {r.zoom for r in m3.select("zoom").distinct().collect()} == {12}


@pytest.mark.parametrize("node_limit", [0, 5])
@pytest.mark.parametrize("sessions", [False, True], ids=["points", "sessions"])
def test_pipeline_relations_have_no_duplicate_rows(spark, images_dir,
                                                   sessions, node_limit):
    """The chain is duplicate-free by construction (assign → expand,
    the sessions stage, clip's semi-join; a real merge dedupes), which
    is what lets ``merged_assignments`` skip a dedupe at node_limit 0
    and the manifests run with ``assume_distinct=True``."""
    kw = ({"sessions_path": f"{images_dir}/sessions.parquet",
           "complete_sessions": True} if sessions else {})
    pipe = TilingPipeline(spark, zoom=13, border=0.1, node_limit=node_limit, **kw)
    pipe.run(f"{images_dir}/images.parquet")
    for rel in (pipe.pairs, pipe.tiled):
        assert rel.count() == rel.distinct().count() > 0


def test_resumed_pipeline_runs_no_job(spark, images_dir, tmp_path, job_count):
    """A fully persisted chain resumes from its markers alone: each
    stage is read with the schema its marker stores, so building the
    resumed chain infers no schema and runs no Spark job."""
    src = f"{images_dir}/images.parquet"
    work = str(tmp_path / "work")
    want = TilingPipeline(spark, work, zoom=13, border=0.1).run(src)
    want = sorted(want.collect())
    pipe = TilingPipeline(spark, work, zoom=13, border=0.1)
    assert job_count(lambda: pipe.run(src)) == 0
    assert sorted(pipe.manifests.collect()) == want


def test_write_stage_marker_rows_ride_metrics_job(spark, tmp_path, job_count):
    """A persisted stage runs two jobs: the data write and the
    per-partition metrics write.  The data is read back with the
    writer's schema, so no schema-inference job runs.  The marker's row
    count is the sum of those metrics rows, observed on the metrics
    write (a separate count() would be a third job).  AQE is off here
    because it submits every shuffle stage as a job of its own."""
    import json

    from mapsplit_spark.pipeline import _write_stage

    stage_dir = str(tmp_path / "stage")
    df = spark.range(0, 1000, 1, 3)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs = job_count(lambda: _write_stage(df, "s", stage_dir, "h", {}))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs == 2
    with open(os.path.join(stage_dir, "_STAGE_OK")) as fh:
        marker = json.load(fh)
    assert marker["rows"] == 1000
    assert marker["schema"] == df.schema.jsonValue()
    met = spark.read.parquet(os.path.join(stage_dir, "metrics"))
    assert met.agg(F.sum("n_rows")).collect()[0][0] == 1000


def test_video_frame_sampling_roundtrip(spark):
    """sample_frames (r4): MVID stub container → every-n-th frame as an
    MSIM image row; decoded frames bit-equal the originals and compose
    with the image feature operator."""
    from mapsplit_spark import imaging
    from mapsplit_spark.operators.multimodal import decode_features, sample_frames

    vids = []
    for v in range(3):
        frames = [imaging.synth_pixels(v * 100 + i, 12, 8) for i in range(7)]
        vids.append((f"v{v}", oracle.encode_video(frames), len(frames)))
    df = spark.createDataFrame(vids, "video_id string, bytes binary, n_frames int")
    out = sample_frames(df, every_n=3).collect()
    # 7 frames, every 3rd → indices 0, 3, 6 per video
    assert sorted((r.video_id, r.frame_idx) for r in out) == sorted(
        (f"v{v}", i) for v in range(3) for i in (0, 3, 6))
    for r in out:
        v = int(r.video_id[1:])
        expect = imaging.synth_pixels(v * 100 + r.frame_idx, 12, 8)
        assert (imaging.decode_image(bytes(r.bytes)) == expect).all()
        assert (r.w, r.h) == (12, 8)
    # composes with the image pipeline: frame rows are image rows
    feats = decode_features(
        sample_frames(df, every_n=3)
        .withColumnRenamed("video_id", "image_id")
    )
    assert feats.count() == 9


def test_audio_features_match_numpy(spark):
    """audio_features (r4): int16-PCM interpretation — features equal an
    independent per-row numpy recomputation."""
    import numpy as np

    from mapsplit_spark.operators.multimodal import audio_features

    rng = np.random.default_rng(5)
    rows = []
    for a in range(4):
        x = (rng.standard_normal(1600) * (1000 * (a + 1))).astype("<i2")
        rows.append((f"a{a}", x.tobytes()))
    rows.append(("empty", b""))
    # ADVICE r4: odd-length payload must degrade per row (truncate the
    # trailing byte), not ValueError the whole task on one bad blob
    rows.append(("odd", b"\x01\x02\x03"))
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    got = {r.audio_id: r for r in audio_features(df).collect()}
    assert got["empty"].n_samples == 0 and got["empty"].rms == 0.0
    assert got["odd"].n_samples == 1  # 3 bytes → one int16 sample
    rows = rows[:-1]  # drop "odd" so the recompute loop below still
    #                   iterates exactly the 4 real audio rows
    for aid, blob in rows[:-1]:
        x = np.frombuffer(blob, dtype="<i2").astype(np.float64)
        r = got[aid]
        assert r.n_samples == 1600
        assert abs(r.rms - float(np.sqrt(np.mean(x ** 2)))) < 1e-3
        assert r.peak == round(float(np.abs(x).max()), 1)
        zc = float(np.count_nonzero(np.signbit(x[1:]) != np.signbit(x[:-1])))
        assert abs(r.zero_cross_rate - zc / 1599) < 1e-6
        assert abs(r.duration_sec - 0.1) < 1e-9
