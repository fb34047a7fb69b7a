"""spark-submit entry point — image-corpus dedup pipeline.

    spark-submit --py-files mapsplit_spark.zip jobs/dedup_job.py \
        --input /data/images.parquet --output /out/dedup \
        [--id-col image_id] [--hash-col phash] [--radius 3] [--bands 4] \
        [--bits 64] [--max-bucket 1024] [--keep]

Runs the pHash near-dup scale path over the input_hint table shape
(image_id, ..., phash:int64): pigeonhole band join (exact recall for
radius ≤ bands−1) → XOR/popcount verify → connected components →
canonical dup groups.  Writes:

    <output>/pairs/       (id_a, id_b, hamming)
    <output>/components/  (id, component)  — component = group min id
    <output>/kept/        the input rows minus non-representatives
                          (only with --keep)

Prints one JSON summary line.  Hot buckets are capped with the
star-edge fallback; the run reports n_hot_buckets so degraded recall is
visible, not silent (dedup.lsh_candidate_pairs docstring).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="pHash near-dup pipeline (band join + CC)")
    p.add_argument("--input", required=True, help="images parquet with an int64 hash column")
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--hash-col", default="phash")
    p.add_argument("--radius", type=int, default=3)
    p.add_argument("--bands", type=int, default=0,
                   help="pigeonhole band count; 0 (default) self-sizes from "
                        "the corpus row count (dedup.auto_bands — the old "
                        "fixed default of 4 collapses past ~10^6 rows)")
    p.add_argument("--bits", type=int, default=64)
    p.add_argument("--max-bucket", type=int, default=1024,
                   help="hot-bucket star-edge cap; 0 disables (exact all-pairs)")
    p.add_argument("--keep", action="store_true",
                   help="also write the deduplicated corpus (input minus non-representatives)")
    p.add_argument("--embeddings", default=None,
                   help="optional embeddings parquet (vec_id, embedding) — adds "
                        "pruned-IVF ANN recall@k telemetry to the summary "
                        "(similarity.ivf_recall on a query sample)")
    p.add_argument("--ann-dim", type=int, default=64)
    p.add_argument("--ann-k", type=int, default=3)
    p.add_argument("--ann-probe", type=int, default=4)
    p.add_argument("--ann-clusters", type=int, default=16)
    p.add_argument("--ann-queries", type=int, default=20,
                   help="query-sample size for the recall probe")
    p.add_argument("--videos", default=None, metavar="VIDEOS_PARQUET",
                   help="videos parquet (video_id, bytes) — runs the "
                        "frame-sample → per-frame pHash → near-dup chain "
                        "(multimodal.sample_frames → frame_phashes → "
                        "hamming_near_dups); writes <output>/frame_hashes "
                        "and <output>/frame_pairs")
    p.add_argument("--frame-every", type=int, default=10,
                   help="sample every n-th frame for --videos")
    p.add_argument("--winnow", default=None, metavar="DOCS_PARQUET",
                   help="documents parquet (doc_id, text) — production "
                        "winnowing fingerprints (xxhash64 longs, "
                        "textstats.winnow_fps, one pass shared with "
                        "--contamination); writes "
                        "<output>/winnow and <output>/winnow_dups (groups "
                        "of docs with identical fingerprint sets)")
    p.add_argument("--winnow-k", type=int, default=5,
                   help="winnowing k-gram size")
    p.add_argument("--winnow-w", type=int, default=4,
                   help="winnowing window size")
    p.add_argument("--contamination", default=None, metavar="TEST_IDS_PARQUET",
                   help="with --winnow: check the --winnow docs for "
                        "train→test n-gram leakage against this held-out "
                        "id set (operators/contamination); writes "
                        "<output>/contamination_pairs and "
                        "<output>/decontaminated (training corpus with "
                        "flagged docs removed)")
    p.add_argument("--contamination-max-df", type=int, default=20,
                   help="drop fingerprints shared by more than this many "
                        "docs (boilerplate cap)")
    p.add_argument("--contamination-min-shared", type=int, default=2,
                   help="flag a pair at ≥ this many shared fingerprints")
    p.add_argument("--audio", default=None, metavar="AUDIO_PARQUET",
                   help="audio parquet (audio_id, bytes: int16 mono PCM) — "
                        "writes per-row features (n_samples/duration/rms/"
                        "peak/zero_cross_rate) to <output>/audio_features "
                        "(corpus-prep telemetry for filtering before dedup)")
    return p


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = build_parser()
    args = p.parse_args(argv)
    if args.contamination and not args.winnow:
        p.error("--contamination requires --winnow DOCS")
    return args


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.components import connected_components, dedup_keep
    from mapsplit_spark.operators.dedup import auto_bands, hamming_near_dups
    from mapsplit_spark.session import get_spark
    from mapsplit_spark.sinks import read_back, write_parquet

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("dedup-job")
    t0 = time.time()
    out = args.output
    summary = dict.fromkeys([
        "audio_rows", "ann_recall", "bands", "n_frames", "frame_pairs", "winnow_docs",
        "winnow_dup_groups", "contamination_pairs", "decontaminated_rows", "pairs",
        "dup_members", "dup_groups", "kept"])
    try:
        imgs = spark.read.parquet(args.input)
        # self-size the pigeonhole band count unless pinned (VERDICT r3
        # #2: the old fixed --bands 4 is the setting the 5 M-hash ladder
        # shows dying quadratically past ~10^6 rows); computed here (not
        # inside the operator) so the choice lands in the JSON summary
        bands = summary["bands"] = args.bands or auto_bands(
            imgs.select(args.id_col).count(), args.radius, args.bits
        )
        # the Observation rides the cap's bucket-stats aggregate, which
        # only exists when the cap is enabled — attach it conditionally
        # (obs.get on a never-observed Observation blocks forever)
        obs = Observation("phash_hot_buckets") if args.max_bucket else None
        pairs = hamming_near_dups(
            imgs, id_col=args.id_col, hash_col=args.hash_col,
            radius=args.radius, n_bands=bands, bits=args.bits,
            max_bucket=args.max_bucket or None, observation=obs,
        ).localCheckpoint(eager=True)  # pairs feed the sink and the components
        summary["pairs"] = write_parquet(pairs, f"{out}/pairs")["rows"]
        comp = connected_components(pairs)
        # each group's minimum vertex labels itself: one row per group
        dups = write_parquet(comp, f"{out}/components",
                             groups=F.count(F.when(F.col("v") == F.col("component"), 1)))
        summary.update(dup_members=dups["rows"], dup_groups=dups["groups"])
        if args.keep:
            summary["kept"] = write_parquet(dedup_keep(imgs, comp, args.id_col),
                                            f"{out}/kept")["rows"]
        if args.embeddings:
            from mapsplit_spark.operators.similarity import ivf_recall

            emb = spark.read.parquet(args.embeddings)
            corpus = emb.select(F.col("vec_id").alias("cid"),
                                F.col("embedding").alias("c_vec"))
            qs = emb.orderBy("vec_id").limit(args.ann_queries).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("q_vec"))
            summary["ann_recall"] = ivf_recall(
                qs, corpus, args.ann_dim, k=args.ann_k,
                n_clusters=args.ann_clusters, n_probe=args.ann_probe,
            )
        if args.videos:
            from mapsplit_spark.operators.multimodal import (
                frame_phashes,
                sample_frames,
            )

            vids = spark.read.parquet(args.videos)
            fh = frame_phashes(sample_frames(vids, every_n=args.frame_every))
            n_frames = summary["n_frames"] = write_parquet(
                fh, f"{out}/frame_hashes")["rows"]
            fh = read_back(fh, f"{out}/frame_hashes")  # the frames decode once
            fbands = args.bands or auto_bands(n_frames, args.radius, args.bits)
            fpairs = hamming_near_dups(
                fh.select("frame_id", "phash"), id_col="frame_id",
                hash_col="phash", radius=args.radius, n_bands=fbands,
                bits=args.bits, max_bucket=args.max_bucket or None,
            )
            summary["frame_pairs"] = write_parquet(fpairs, f"{out}/frame_pairs")["rows"]

        if args.winnow:
            from mapsplit_spark.operators.textstats import (
                winnow_fingerprints_fast,
                winnow_fps,
            )

            docs = spark.read.parquet(args.winnow)
            fps = winnow_fps(docs, k=args.winnow_k, w=args.winnow_w)
            if args.contamination:  # the one winnow pass feeds both outputs
                fps = fps.localCheckpoint(eager=True)
            wf = winnow_fingerprints_fast(fps)
            summary["winnow_docs"] = write_parquet(wf, f"{out}/winnow")["rows"]
            wf = read_back(wf, f"{out}/winnow")
            # identical fingerprint SET = near-verbatim overlap candidate
            # group; exact_dup_groups shape (no collect_list — a group's
            # row is O(1) regardless of its size)
            wdups = (
                wf.groupBy("fp_hash", "n_fp")
                .agg(F.count("*").alias("n_docs"),
                     F.min("doc_id").alias("keep_doc"))
                .filter(F.col("n_docs") >= 2)
            )
            summary["winnow_dup_groups"] = write_parquet(
                wdups, f"{out}/winnow_dups")["rows"]

        if args.contamination:
            from mapsplit_spark.operators.contamination import (
                contamination_pairs,
                decontaminate,
            )

            cp = contamination_pairs(
                fps, spark.read.parquet(args.contamination),
                max_df=args.contamination_max_df,
                min_shared=args.contamination_min_shared,
            )
            summary["contamination_pairs"] = write_parquet(
                cp, f"{out}/contamination_pairs")["rows"]
            # the scrub drops the train docs of the pairs just written
            summary["decontaminated_rows"] = write_parquet(decontaminate(
                docs, read_back(cp, f"{out}/contamination_pairs")),
                f"{out}/decontaminated")["rows"]

        if args.audio:
            from mapsplit_spark.operators.multimodal import audio_features

            summary["audio_rows"] = write_parquet(
                audio_features(spark.read.parquet(args.audio)),
                f"{out}/audio_features")["rows"]

        m = obs.get if obs is not None else {}
        print(json.dumps({
            **summary,
            "n_hot_buckets": int(m.get("n_hot_buckets") or 0),
            "max_bucket_size": int(m.get("max_bucket_size") or 0),
            "wall_sec": round(time.time() - t0, 2),
        }))
    finally:
        if owns_session:  # don't tear down a caller-owned session (tests)
            spark.stop()


if __name__ == "__main__":
    main()
