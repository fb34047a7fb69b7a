"""CLI e2e for jobs/dedup_job.py — the pHash near-dup pipeline over the
images fixture: pairs/components/kept outputs self-consistent and the
kept corpus contains exactly one representative per dup group."""

from __future__ import annotations

import json
import os

import pytest

from jobs.dedup_job import main as dedup_main


def test_dedup_job_contamination_without_winnow_fails_in_parsing(capsys):
    """--contamination needs --winnow: rejected while parsing arguments,
    before any Spark work."""
    from jobs.dedup_job import parse_args

    with pytest.raises(SystemExit) as exc:
        parse_args(["--input", "in", "--output", "out",
                    "--contamination", "tids"])
    assert exc.value.code == 2
    assert "--winnow" in capsys.readouterr().err


@pytest.fixture(scope="module")
def dup_images(spark, images_dir, tmp_path_factory):
    """Images fixture plus planted exact-phash duplicates (same bytes →
    same phash) so the pipeline has real groups to resolve."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{images_dir}/images.parquet").limit(60)
    clones = (
        base.limit(10)
        .withColumn("image_id", F.concat(F.lit("dup_"), "image_id"))
    )
    out = str(tmp_path_factory.mktemp("dj") / "images.parquet")
    base.unionByName(clones).write.parquet(out)
    return out


def test_dedup_job_e2e(spark, dup_images, tmp_path_factory, capsys):
    out = str(tmp_path_factory.mktemp("dj_out"))
    dedup_main([
        "--input", dup_images, "--output", out,
        "--radius", "3", "--bands", "4", "--bits", "64", "--keep",
    ])
    summary = json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines()
         if ln.startswith("{")][-1]
    )
    assert summary["pairs"] >= 10          # each clone pairs with its source
    assert summary["dup_groups"] >= 10
    assert summary["kept"] == 70 - summary["dup_members"] + summary["dup_groups"]

    comp = spark.read.parquet(os.path.join(out, "components"))
    kept = spark.read.parquet(os.path.join(out, "kept"))
    kept_ids = {r.image_id for r in kept.select("image_id").collect()}
    # exactly the component representatives survive from dup groups
    for r in comp.collect():
        assert (r.v in kept_ids) == (r.v == r.component)
    # every planted clone is in a pair with its source (hamming 0)
    pairs = spark.read.parquet(os.path.join(out, "pairs"))
    zero = pairs.filter("hamming = 0").count()
    assert zero >= 10


def test_dedup_job_auto_bands_and_ann_recall(spark, images_dir, tmp_path, capsys):
    """Default --bands 0 self-sizes (reported in the summary) and
    --embeddings adds pruned-IVF recall telemetry (a number in [0, 1])."""
    import json
    import os

    from jobs.dedup_job import main as dedup_main

    out = str(tmp_path / "auto")
    dedup_main([
        "--input", f"{images_dir}/images.parquet",
        "--output", out,
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--ann-queries", "10", "--ann-probe", "16", "--ann-clusters", "16",
    ])
    summary = json.loads([ln for ln in capsys.readouterr().out.splitlines()
                          if ln.startswith("{")][-1])
    assert summary["bands"] == 4  # 200-row fixture → radius+1
    assert summary["ann_recall"] is not None
    assert 0.0 <= summary["ann_recall"] <= 1.0
    # full-probe recall on this fixture is exact
    assert summary["ann_recall"] == 1.0
    assert os.path.exists(os.path.join(out, "pairs"))


def test_dedup_job_video_frame_chain(spark, tmp_path, capsys):
    """r5 (VERDICT r4 #5): --videos runs frame-sample → per-frame pHash
    → hamming near-dup e2e.  Two videos share identical frames (same
    synth seeds) → cross-video frame pairs at hamming 0."""
    from mapsplit_spark import imaging
    from tests import oracle

    vids = []
    for v in range(3):
        # v0 and v1 share frame seeds (planted dups); v2 distinct
        seed0 = 0 if v < 2 else 900
        frames = [imaging.synth_pixels(seed0 + i, 16, 16) for i in range(6)]
        vids.append((f"v{v}", oracle.encode_video(frames)))
    vp = str(tmp_path / "videos.parquet")
    spark.createDataFrame(vids, "video_id string, bytes binary") \
        .write.parquet(vp)
    # still needs a (tiny) --input corpus: reuse the video table shape
    ip = str(tmp_path / "imgs.parquet")
    spark.createDataFrame([(f"i{k}", k * 7919) for k in range(8)],
                          "image_id string, phash long").write.parquet(ip)

    out = str(tmp_path / "out")
    dedup_main([
        "--input", ip, "--output", out, "--bands", "4",
        "--videos", vp, "--frame-every", "2",
    ])
    summary = json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines()
         if ln.startswith("{")][-1]
    )
    # 6 frames, every 2nd → 3 per video × 3 videos
    assert summary["n_frames"] == 9
    fh = spark.read.parquet(os.path.join(out, "frame_hashes"))
    assert set(fh.columns) == {"video_id", "frame_idx", "frame_id", "phash"}
    pairs = spark.read.parquet(os.path.join(out, "frame_pairs"))
    ids = {r.frame_id: (r.video_id, r.frame_idx) for r in fh.collect()}
    got = {tuple(sorted([ids[r.id_a], ids[r.id_b]])): r.hamming
           for r in pairs.collect()}
    # every sampled frame of v0 pairs with its v1 twin at distance 0
    for i in (0, 2, 4):
        assert got.get((("v0", i), ("v1", i))) == 0
    # v2 shares no frames
    assert not any("v2" in (a[0], b[0]) for a, b in got)


def test_dedup_job_winnow_fast(spark, tmp_path, capsys):
    """r5 (VERDICT r4 #5): --winnow writes production xxhash64 winnowing
    fingerprints + identical-fingerprint-set dup groups."""
    texts = [
        ("d0", "the quick brown fox jumps over the lazy dog again and again"),
        ("d1", "the quick brown fox jumps over the lazy dog again and again"),
        ("d2", "a completely different document about spark partitioning"),
        ("d3", "yet another text talking about adaptive query execution"),
    ]
    dp = str(tmp_path / "docs.parquet")
    spark.createDataFrame(texts, "doc_id string, text string").write.parquet(dp)
    ip = str(tmp_path / "imgs.parquet")
    spark.createDataFrame([(f"i{k}", k * 7919) for k in range(8)],
                          "image_id string, phash long").write.parquet(ip)

    out = str(tmp_path / "out")
    dedup_main([
        "--input", ip, "--output", out, "--bands", "4",
        "--winnow", dp,
    ])
    summary = json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines()
         if ln.startswith("{")][-1]
    )
    assert summary["winnow_docs"] == 4
    assert summary["winnow_dup_groups"] == 1  # d0 ≡ d1
    wd = spark.read.parquet(os.path.join(out, "winnow_dups")).collect()
    assert len(wd) == 1 and wd[0].n_docs == 2 and wd[0].keep_doc == "d0"
    # fingerprints match the operator run directly
    from mapsplit_spark.operators.textstats import (
        winnow_fingerprints_fast,
        winnow_fps,
    )

    direct = {r.doc_id: (r.n_fp, r.fp_hash)
              for r in winnow_fingerprints_fast(
                  winnow_fps(spark.read.parquet(dp))).collect()}
    stored = {r.doc_id: (r.n_fp, r.fp_hash)
              for r in spark.read.parquet(os.path.join(out, "winnow")).collect()}
    assert direct == stored


def test_dedup_job_audio_features(spark, tmp_path, capsys):
    """r5: --audio writes the per-row PCM feature table (CLI
    reachability for audio_features)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(f"a{k}", (rng.standard_normal(800) * 500).astype("<i2").tobytes())
            for k in range(5)]
    ap = str(tmp_path / "audio.parquet")
    spark.createDataFrame(rows, "audio_id string, bytes binary") \
        .write.parquet(ap)
    ip = str(tmp_path / "imgs.parquet")
    spark.createDataFrame([(f"i{k}", k * 7919) for k in range(8)],
                          "image_id string, phash long").write.parquet(ip)

    out = str(tmp_path / "out")
    dedup_main(["--input", ip, "--output", out, "--bands", "4",
                "--audio", ap])
    summary = json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines()
         if ln.startswith("{")][-1]
    )
    assert summary["audio_rows"] == 5
    af = spark.read.parquet(os.path.join(out, "audio_features"))
    assert set(af.columns) == {"audio_id", "n_samples", "duration_sec",
                               "rms", "peak", "zero_cross_rate"}
    assert af.filter("n_samples = 800").count() == 5


def test_dedup_job_contamination_chain(spark, tmp_path, capsys, monkeypatch):
    """--winnow + --contamination: the planted leaked doc is flagged
    against its test twin and dropped from <out>/decontaminated.  The
    run fingerprints the docs in ONE winnow pass: the winnow summary and
    the contamination pairs share it (each fingerprinted doc ticks an
    accumulator once per evaluation)."""
    from pyspark.sql import functions as F

    from mapsplit_spark.operators import textstats

    ticks = spark.sparkContext.accumulator(0)

    def tick(_):
        ticks.add(1)
        return True

    counted = F.udf(tick, "boolean").asNondeterministic()
    real = textstats.winnow_fps
    monkeypatch.setattr(textstats, "winnow_fps",
                        lambda *a, **kw: real(*a, **kw).filter(counted("fps")))
    leak = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        [(0, f"benchmark item {leak} held out"),
         (1, "clean training doc about pyramids and manifests"),
         (2, f"scraped page with {leak} embedded in noise"),
         (3, "another clean doc mentioning geohash interleaves")],
        "doc_id long, text string")
    docs_p = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_p)
    tids_p = str(tmp_path / "test_ids.parquet")
    docs.filter("doc_id = 0").select("doc_id").write.parquet(tids_p)
    # --input still needs a hash corpus; reuse the docs ids as fake hashes
    imgs_p = str(tmp_path / "imgs.parquet")
    docs.selectExpr("cast(doc_id as string) AS image_id",
                    "doc_id * 1024 AS phash").write.parquet(imgs_p)
    out = str(tmp_path / "out")
    dedup_main([
        "--input", imgs_p, "--output", out, "--bands", "4",
        "--winnow", docs_p,
        "--contamination", tids_p, "--contamination-min-shared", "1",
        "--contamination-max-df", "3",
    ])
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["contamination_pairs"] >= 1
    pairs = spark.read.parquet(f"{out}/contamination_pairs").collect()
    assert {(r.test_id, r.train_id) for r in pairs} == {(0, 2)}
    kept = {r.doc_id for r in
            spark.read.parquet(f"{out}/decontaminated").collect()}
    assert kept == {0, 1, 3}
    assert summary["decontaminated_rows"] == 3
    assert summary["winnow_docs"] == 4
    assert ticks.value == 4  # one winnow pass over the 4 docs
