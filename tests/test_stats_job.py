"""stats_job CLI e2e: the corpus-statistics pipeline over the sf0.001
documents table — HLL sketch, approx quantiles, weighted sample, hash
split — outputs pinned against the direct operators (same salt ⇒ same
rows) and against exact recomputes where the operator is approximate.
"""

from __future__ import annotations

import json
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
REPO = "/root/repo"


@pytest.fixture(scope="module")
def out(tmp_path_factory):
    d = tmp_path_factory.mktemp("stats_out")
    r = subprocess.run(
        [sys.executable, f"{REPO}/jobs/stats_job.py",
         "--input", f"{SF}/documents.parquet", "--output", str(d),
         "--id-col", "doc_id", "--group-col", "lang",
         "--value-col", "n_chars", "--hll-p", "12",
         "--sample-n", "15", "--sample-weight", "greatest(n_chars, 1)",
         "--split", "train=0.8,val=0.1,test=0.1", "--salt", "sj",
         "--tfidf-topk", "3", "--text-col", "text",
         "--top-items", "4", "--item-expr", "source",
         "--cms", "10", "--cms-width", "1024"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    return d, summary


def test_summary_shape(out):
    _, s = out
    assert s["groups"] == 5
    assert s["quantile_mode"] == "approx_percentile"
    assert s["sample_rows"] == 75            # 15 × 5 langs
    assert set(s["split_counts"]) == {"train", "val", "test"}
    assert sum(s["split_counts"].values()) == 500


def test_hll_close_to_exact(out, spark):
    d, s = out
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {r.lang: r.n for r in
             docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("n")).collect()}
    for lang, est in s["hll_estimates"].items():
        assert abs(est - exact[lang]) / exact[lang] < 0.07   # 4σ at p=12


def test_sample_matches_direct_operator(out, spark):
    d, _ = out
    from mapsplit_spark.operators.sampling import weighted_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    direct = sorted(
        (r.lang, r.doc_id)
        for r in weighted_sample(docs, "doc_id", "greatest(n_chars, 1)",
                                 15, ["lang"], salt="sj").collect()
    )
    written = sorted(
        (r.lang, r.doc_id)
        for r in spark.read.parquet(f"{d}/sample").collect()
    )
    assert written == direct


def test_split_matches_direct_operator(out, spark):
    d, _ = out
    from mapsplit_spark.operators.sampling import deterministic_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    direct = {r.doc_id: r.split for r in
              deterministic_split(docs, "doc_id",
                                  {"train": 0.8, "val": 0.1, "test": 0.1},
                                  salt="sj").collect()}
    written = {r.doc_id: r.split for r in
               spark.read.parquet(f"{d}/split").collect()}
    assert written == direct


def test_quantiles_within_rank_bound(out, spark):
    d, _ = out
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    written = {r.lang: r for r in spark.read.parquet(f"{d}/quantiles").collect()}
    for lang, row in written.items():
        v = sorted(r.n_chars for r in
                   docs.filter(F.col("lang") == lang).select("n_chars").collect())
        for q in (0.25, 0.5, 0.75, 0.95):
            ap = row[f"q{str(q).replace('.', '_')}"]
            rank = sum(1 for x in v if x <= ap)
            assert abs(rank - q * row.n) <= max(2.0, row.n / 10000 + 1)


def test_tfidf_matches_direct_operator(out, spark):
    """r5: --tfidf-topk K writes <out>/tfidf ≡ the direct operator run
    (pure function of the corpus — no salt involved)."""
    d, s = out
    from mapsplit_spark.operators.textstats import tfidf_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    want = {(r.doc_id, r.rk): (r.term, r.tf, r.tfidf)
            for r in tfidf_topk(docs, k=3).collect()}
    got = {(r.doc_id, r.rk): (r.term, r.tf, r.tfidf)
           for r in spark.read.parquet(f"{d}/tfidf").collect()}
    assert got == want
    assert s["tfidf_rows"] == len(got) == 1500   # 3 per doc × 500 docs


def test_top_items_matches_direct_operator(out, spark):
    """r5: --top-items K writes per-group exact heavy hitters ≡ the
    direct operator run."""
    d, s = out
    from mapsplit_spark.operators.sketches import exact_top_items

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    items = docs.select("lang", F.expr("source").alias("item"))
    want = {(r.lang, r.rk): (r.item, r.cnt)
            for r in exact_top_items(items, ["lang"], "item", 4).collect()}
    got = {(r.lang, r.rk): (r.item, r.cnt)
           for r in spark.read.parquet(f"{d}/top_items").collect()}
    assert got == want
    assert s["top_items_rows"] == len(got)


def test_cms_estimates_never_under_exact(out, spark):
    d, s = out
    cms = spark.read.parquet(f"{d}/cms").collect()
    assert 0 < len(cms) <= 10
    assert all(r.cms_est >= r.exact_cnt for r in cms)
    sk = spark.read.parquet(f"{d}/cms_sketch")
    assert sk.count() <= 4 * 1024                  # state ≤ depth × width
    assert s["cms_probe_rows"] == len(cms)


def test_polyline_flag_matches_direct_operator(tmp_path, spark):
    from mapsplit_spark.operators.geometry import polyline_stats

    traces = spark.createDataFrame(
        [(w, s, 10.0 + w + 0.1 * s, 40.0 - 0.05 * s)
         for w in range(4) for s in range(5)],
        "way_id long, seq int, lon double, lat double",
    )
    src = tmp_path / "traces.parquet"
    traces.write.parquet(str(src))
    r = subprocess.run(
        [sys.executable, f"{REPO}/jobs/stats_job.py",
         "--input", str(src), "--output", str(tmp_path / "out"),
         "--id-col", "way_id", "--group-col", "way_id",
         "--value-col", "lon",
         "--polyline", "way_id:seq:lon:lat"],
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["polyline_ways"] == 4
    got = sorted(
        tuple(row) for row in
        spark.read.parquet(str(tmp_path / "out" / "polyline")).collect()
    )
    want = sorted(
        tuple(row) for row in
        polyline_stats(traces, "way_id", "seq", "lon", "lat").collect()
    )
    assert got == want
