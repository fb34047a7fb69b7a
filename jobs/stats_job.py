"""spark-submit entry point — corpus-statistics pipeline.

    spark-submit --py-files mapsplit_spark.zip jobs/stats_job.py \
        --input /data/documents.parquet --output /out/stats \
        [--id-col doc_id] [--group-col lang] [--value-col n_chars] \
        [--hll-elem "concat(cast(doc_id as string),':',lang)"] [--hll-p 12] \
        [--quantiles 0.25,0.5,0.75,0.95] \
        [--sample-n 100] [--sample-weight n_chars] \
        [--split train=0.8,val=0.1,test=0.1] [--salt r5]

Pre-training corpus profiling over one table pass-shape: per-group
distinct-count sketches (HyperLogLog, shuffle bounded by groups × 2^p
at ANY cardinality), exact-or-approx value quantiles, a deterministic
weighted sample, and the reproducible hash split.  Writes:

    <output>/hll/        (group, n_reg, sum_inv, hll_estimate)
    <output>/quantiles/  (group, n, q...)
    <output>/sample/     the weighted-sample rows
    <output>/split/      input + split column (only with --split)
    <output>/tfidf/      top-K TF-IDF terms per doc (only with --tfidf-topk)
    <output>/top_items/  per-group exact top-K items (only with --top-items)

Prints one JSON summary line.  Every output is a pure function of row
content (portable-hash sampling/split, deterministic sketch) — re-runs,
repartitions, and engine upgrades reproduce it bit-for-bit; the same
operators back the `user_distinct_hll` / `event_quantiles` /
`doc_weighted_sample` / `doc_split` driver gates.

Reference analog: mapsplit's stats accumulators + verbose load report
(MapSplit.java stats fields); here they are first-class distributed
operators because a 10^12-row corpus cannot fold stats in one JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="corpus statistics pipeline")
    p.add_argument("--input", required=True, help="input parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--group-col", default="lang",
                   help="grouping column for hll/quantiles/sample strata")
    p.add_argument("--value-col", default="n_chars",
                   help="numeric column for --quantiles")
    p.add_argument("--hll-elem", default=None,
                   help="SQL expression whose per-group distinct count is "
                        "sketched (default: the id column)")
    p.add_argument("--hll-p", type=int, default=12,
                   help="HLL precision (2^p registers; stderr ≈ 1.04/√2^p)")
    p.add_argument("--quantiles", default="0.25,0.5,0.75,0.95")
    p.add_argument("--exact-quantiles", action="store_true",
                   help="exact percentile (one sort per group) instead of "
                        "approx_percentile (mergeable sketch — the 100 TB "
                        "default)")
    p.add_argument("--quantile-accuracy", type=int, default=10000,
                   help="approx_percentile accuracy (rank error ≤ n/accuracy)")
    p.add_argument("--sample-n", type=int, default=0,
                   help="weighted-sample size per group (0 = skip)")
    p.add_argument("--sample-weight", default="1",
                   help="SQL weight expression for the A-ES sample")
    p.add_argument("--split", default=None,
                   help="name=weight[,name=weight...] — write the input with "
                        "a deterministic hash-split column")
    p.add_argument("--top-items", type=int, default=0, metavar="K",
                   help="write per-group exact top-K items by frequency "
                        "(0 = skip); item from --item-expr")
    p.add_argument("--item-expr", default=None,
                   help="SQL expression for --top-items (default: id col)")
    p.add_argument("--cms", type=int, default=0, metavar="K",
                   help="write a Count-Min sketch of --item-expr "
                        "(<output>/cms_sketch, ≤ depth×width rows) plus "
                        "point-query estimates vs exact counts for the "
                        "top-K items (<output>/cms); 0 = skip")
    p.add_argument("--cms-depth", type=int, default=4)
    p.add_argument("--cms-width", type=int, default=4096)
    p.add_argument("--polyline", default=None, metavar="WAY:SEQ:LON:LAT",
                   help="write per-way polyline geometry (haversine "
                        "length_mm, bbox, centroid — operators/geometry) "
                        "grouping the input by WAY ordered by SEQ "
                        "(<output>/polyline)")
    p.add_argument("--tfidf-topk", type=int, default=0, metavar="K",
                   help="write the top-K TF-IDF terms per document "
                        "(0 = skip); tokenizes --text-col")
    p.add_argument("--text-col", default="text",
                   help="text column for --tfidf-topk")
    p.add_argument("--salt", default="")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.sampling import deterministic_split, weighted_sample
    from mapsplit_spark.operators.sketches import hll_distinct
    from mapsplit_spark.session import get_spark
    from mapsplit_spark.sinks import read_back, write_parquet

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark("stats-job")
    t0 = time.time()
    group = [args.group_col]
    out = args.output
    summary: dict = {"groups": None}
    try:
        df = spark.read.parquet(args.input)

        hll = hll_distinct(
            df, group, args.hll_elem or args.id_col,
            p=args.hll_p, salt=args.salt,
        )
        write_parquet(hll, f"{out}/hll")
        # read from the written table, so the sketch runs once
        est = {r[0]: round(r.hll_estimate, 1)
               for r in read_back(hll, f"{out}/hll").collect()}
        summary["groups"] = len(est)
        summary["hll_estimates"] = est

        qs = [float(x) for x in args.quantiles.split(",") if x]
        fn = "percentile" if args.exact_quantiles else "approx_percentile"
        extra = "" if args.exact_quantiles else f", {args.quantile_accuracy}"
        qdf = df.groupBy(*group).agg(
            F.count("*").cast("long").alias("n"),
            *[
                F.expr(f"{fn}({args.value_col}, {q}{extra})").alias(
                    f"q{str(q).replace('.', '_')}"
                )
                for q in qs
            ],
        )
        write_parquet(qdf, f"{out}/quantiles")
        summary["quantile_mode"] = fn

        if args.sample_n:
            samp = weighted_sample(
                df, args.id_col, args.sample_weight, args.sample_n,
                strata_cols=group, salt=args.salt,
            )
            summary["sample_rows"] = write_parquet(samp, f"{out}/sample")["rows"]

        if args.top_items:
            from mapsplit_spark.operators.sketches import exact_top_items

            items = df.select(
                *group, F.expr(args.item_expr or args.id_col).alias("item"))
            ti = exact_top_items(items, group, "item", args.top_items)
            summary["top_items_rows"] = write_parquet(ti, f"{out}/top_items")["rows"]

        if args.cms:
            from mapsplit_spark.operators.sketches import cms_query, cms_sketch

            items = df.select(F.expr(args.item_expr or args.id_col).alias("item"))
            sk = cms_sketch(items, "item", depth=args.cms_depth,
                            width=args.cms_width, salt=args.salt)
            summary["cms_sketch_rows"] = write_parquet(sk, f"{out}/cms_sketch")["rows"]
            # global top-K probes via TakeOrderedAndProject (no single-
            # partition window)
            top = (items.groupBy("item")
                   .agg(F.count("*").cast("long").alias("exact_cnt"))
                   .orderBy(F.desc("exact_cnt"), F.asc("item"))
                   .limit(args.cms))
            est = cms_query(sk, top.select("item"), "item",
                            depth=args.cms_depth, width=args.cms_width,
                            salt=args.salt)
            summary["cms_probe_rows"] = write_parquet(est.join(top, "item"),
                                                      f"{out}/cms")["rows"]

        if args.polyline:
            from mapsplit_spark.operators.geometry import polyline_stats

            way, seq, lon, lat = args.polyline.split(":")
            geo = polyline_stats(df, way, seq, lon, lat)
            summary["polyline_ways"] = write_parquet(geo, f"{out}/polyline")["rows"]

        if args.tfidf_topk:
            from mapsplit_spark.operators.textstats import tfidf_topk

            tf = tfidf_topk(df, args.id_col, args.text_col, k=args.tfidf_topk)
            summary["tfidf_rows"] = write_parquet(tf, f"{out}/tfidf")["rows"]

        if args.split:
            weights = {}
            for part in args.split.split(","):
                name, w = part.split("=")
                weights[name.strip()] = float(w)
            split = deterministic_split(df, args.id_col, weights, salt=args.salt)
            # per-split row counts ride the write; empty splits stay absent
            n = write_parquet(split, f"{out}/split", **{
                f"n_{name}": F.count(F.when(F.col("split") == name, 1)) for name in weights})
            summary["split_counts"] = {k: n[f"n_{k}"] for k in weights if n[f"n_{k}"]}

        summary["wall_sec"] = round(time.time() - t0, 2)
        print(json.dumps(summary))
    finally:
        if owns_session:  # don't tear down a caller-owned session (tests)
            spark.stop()


if __name__ == "__main__":
    main()
