"""Materialization-layer scale behavior: the stored tile layout prunes
cell directories at read time, null-coordinate rows are dropped at
assignment, and the batch CLIs' parquet write counts its output on its
own job."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from mapsplit_spark.operators.assign import assign_and_expand, with_tile_id
from mapsplit_spark.sinks.zorder import key_range_filter, tile_key_range, write_tiles


def test_tile_layout_prunes_cell_directories(spark, images_dir, tmp_path):
    out = str(tmp_path / "tiles")
    imgs = spark.read.parquet(f"{images_dir}/images.parquet")
    pairs = assign_and_expand(
        imgs.select("image_id", "lon", "lat"), "image_id", "lon", "lat", 13, 0.1
    )
    write_tiles(with_tile_id(pairs, 13), out, 13)
    back = spark.read.parquet(out)
    r = back.first()
    one = back.filter(F.col("cell") == r.cell)
    plan = one._jdf.queryExecution().executedPlan().toString()
    # the cell predicate must prune at the partition level, not scan+filter
    assert "cell" in plan.split("PartitionFilters")[1][:80]
    assert one.count() > 0
    # a tile's rows are findable through its key interval (the k-ring read path)
    via_key = key_range_filter(back, [tile_key_range(r.tile_x, r.tile_y, 13)])
    assert {(t.tile_x, t.tile_y) for t in via_key.collect()} == {(r.tile_x, r.tile_y)}


def test_null_coordinates_dropped(spark):
    df = spark.createDataFrame(
        [("a", 10.0, 10.0), ("b", None, 10.0), ("c", 10.0, None)],
        "id string, lon double, lat double",
    )
    out = assign_and_expand(df, "id", "lon", "lat", 13, 0.1)
    assert {r.element_id for r in out.collect()} == {"a"}


def test_ivf_corpus_layout_prunes_cells_and_matches_in_memory(spark, tmp_path):
    """write_ivf_corpus + ivf_topk_bucketed (the 100 TB ANN read path):
    the probe-cell IN filter prunes cell directories at PLANNING time,
    and the result equals the in-memory ivf_topk with the same centroid
    model and probe count."""
    import numpy as np

    from mapsplit_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_bucketed,
        train_ivf_centroids,
        write_ivf_corpus,
    )

    dim = 16
    rng = np.random.default_rng(5)
    centers = rng.standard_normal((4, dim)) * 10
    rows = [(i, [float(x) for x in centers[i % 4] + rng.standard_normal(dim)])
            for i in range(400)]
    vecs = spark.createDataFrame(rows, "vid long, vec array<float>")
    corpus = vecs.select(F.col("vid").alias("cid"), F.col("vec").alias("c_vec"))
    queries = vecs.filter("vid < 8").select(
        F.col("vid").alias("qid"), F.col("vec").alias("q_vec"))

    centroids = train_ivf_centroids(corpus, n_clusters=8, sample_rows=400)
    out = str(tmp_path / "ivf")
    write_ivf_corpus(corpus, centroids, out)

    bucketed = ivf_topk_bucketed(queries, out, centroids, dim, k=3, n_probe=2)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and \
        "ivf_cell" in plan.split("PartitionFilters")[1][:120], \
        "probe-cell filter did not reach the partition level"

    expect = {tuple(r) for r in
              ivf_topk(queries, corpus, dim, k=3, n_clusters=8, n_probe=2,
                       sample_rows=400).collect()}
    assert {tuple(r) for r in bucketed.collect()} == expect


def test_chunked_manifest_union_equals_flat(spark, monkeypatch):
    """chunked=True chunk rows union to exactly the flat manifest, skip
    the second exchange, and bound per-row id counts by ~ids/N_SALTS."""
    from pyspark.sql import functions as F

    from mapsplit_spark.sinks import manifests
    from mapsplit_spark.sinks.manifests import tile_manifests

    monkeypatch.setattr(manifests, "N_SALTS", 16)

    # one megatile (id%2==0 → tile (7,7)) + scattered tiles
    pairs = spark.range(40_000).select(
        F.col("id").alias("element_id"),
        F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise((F.col("id") % 50).cast("int")).alias("tile_x"),
        F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(((F.col("id") * 3) % 50).cast("int")).alias("tile_y"),
    )
    flat = tile_manifests(pairs, 13, assume_distinct=True)
    chunked = tile_manifests(pairs, 13, assume_distinct=True, chunked=True)

    flat_ids = {(r.tile_x, r.tile_y): sorted(r.element_ids) for r in flat.collect()}
    got = {}
    max_chunk = 0
    for r in chunked.collect():
        got.setdefault((r.tile_x, r.tile_y), []).extend(r.element_ids)
        max_chunk = max(max_chunk, len(r.element_ids))
    assert {k: sorted(v) for k, v in got.items()} == flat_ids
    # megatile has 20k ids; chunks stay ~1/16 of that
    assert max_chunk < 20_000 // 8
    # one exchange only (no final flatten shuffle) — check a fresh plan:
    # the executed df's adaptive final plan prints each shuffle stage
    # twice (stage + reuse), inflating a string count
    fresh = tile_manifests(pairs, 13, assume_distinct=True, chunked=True)
    plan = fresh._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_write_parquet_counts_ride_the_write_job(spark, tmp_path, job_count):
    """``write_parquet`` runs one job: the row count and each named
    aggregate are observed on the write itself (a count() or a read-back
    would add jobs).  AQE is off here because it submits every shuffle
    stage as a job of its own.  An empty output reads 0 rows and a sum
    of 0, not None, and its observation does not block."""
    from mapsplit_spark.sinks import write_parquet

    df = spark.range(0, 1000, 1, 3)
    got = {}
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs = job_count(lambda: got.update(
            write_parquet(df, str(tmp_path / "full"), total=F.sum("id"))))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs == 1
    assert got == {"rows": 1000, "total": 499500}
    assert spark.read.parquet(str(tmp_path / "full")).count() == 1000

    empty = {}
    writer = threading.Thread(target=lambda: empty.update(write_parquet(
        spark.range(0), str(tmp_path / "empty"), total=F.sum("id"))),
        daemon=True)
    writer.start()
    writer.join(120)
    assert empty == {"rows": 0, "total": 0}
