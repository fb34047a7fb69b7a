"""IVF ANN, LSH similarity, language-ID, BPE-ish token tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapsplit_spark.operators.similarity import cosine_topk, ivf_topk, lsh_bucket_topk
from mapsplit_spark.operators.textstats import bpe_token_count, lang_id

DIM = 16


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(3)
    # 4 well-separated gaussian clusters → IVF cells align with structure
    centers = rng.standard_normal((4, DIM)) * 10
    rows = []
    for i in range(400):
        c = i % 4
        v = centers[c] + rng.standard_normal(DIM)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vid long, vec array<float>")


def _topk_sets(df, id_q="qid"):
    out = {}
    for r in df.collect():
        out.setdefault(r[0], set()).add(r[2])
    return out


def test_ivf_matches_exact_for_clustered_data(vectors):
    qs = vectors.filter("vid < 8").select(
        F.col("vid").alias("qid"), F.col("vec").alias("q_vec"))
    cs = vectors.select(F.col("vid").alias("cid"), F.col("vec").alias("c_vec"))
    exact = _topk_sets(cosine_topk(qs, cs, DIM, k=3))
    approx = _topk_sets(ivf_topk(qs, cs, DIM, k=3, n_clusters=8, n_probe=4,
                                 sample_rows=400))
    # with 4 true clusters, 8 cells and 4 probes, recall should be perfect
    assert approx == exact


def test_lsh_recall_reasonable(vectors):
    qs = vectors.filter("vid < 20").select(
        F.col("vid").alias("qid"), F.col("vec").alias("q_vec"))
    cs = vectors.select(F.col("vid").alias("cid"), F.col("vec").alias("c_vec"))
    exact = _topk_sets(cosine_topk(qs, cs, DIM, k=3))
    approx = _topk_sets(lsh_bucket_topk(qs, cs, DIM, k=3, n_bits=6))
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total > 0.5  # approximate by design; recall must be sane


def test_lang_id(spark):
    rows = [
        ("e", "the cat is in the hat and the dog is not"),
        ("d", "der hund ist nicht in das haus und die katze"),
        ("f", "le chat est dans la maison et les chiens"),
        ("s", "el perro es una mascota que vive en la casa los gatos"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert got == {"e": "en", "d": "de", "f": "fr", "s": "es"}


def test_bpe_token_count(spark):
    df = spark.createDataFrame(
        [("a", "don't panic, it's fine!"), ("b", "x+y=z")],
        "doc_id string, text string",
    )
    got = {r.doc_id: r.n for r in df.select("doc_id", bpe_token_count("text").alias("n")).collect()}
    # don't | panic | , | it's | fine | !  → 6;  x | + | y | = | z → 5
    assert got == {"a": 6, "b": 5}


def test_winnowing_guarantee_and_determinism(spark):
    """Winnowing guarantee (Schleimer et al. 2003): docs sharing a
    substring of length >= w + k - 1 share >= 1 fingerprint; identical
    docs share the whole set; disjoint docs share none of it."""
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.textstats import winnow_fingerprints

    shared = "an unmistakably shared long passage that survives winnowing"
    rows = [
        ("a", f"prefix one {shared} suffix alpha"),
        ("b", f"completely different opening {shared} and closing"),
        ("c", f"prefix one {shared} suffix alpha"),       # identical to a
        ("d", "nothing in common with the others at all zzz qqq"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    # fingerprint SETS via the same construction (mirrors the operator)
    k, w = 5, 4
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    gh = F.transform(F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
                     lambda i: F.md5(norm.substr(i, F.lit(k))))
    mins = F.transform(F.sequence(F.lit(1), F.greatest(F.size(gh) - (w - 1), F.lit(1))),
                       lambda j: F.array_min(F.slice(gh, j, w)))
    sets = {r.doc_id: set(r.fps) for r in docs.select(
        "doc_id", F.array_distinct(mins).alias("fps")).collect()}
    assert sets["a"] & sets["b"], "shared passage must share a fingerprint"
    assert sets["a"] == sets["c"]
    assert not (sets["a"] & sets["d"] & sets["b"])
    out = {r.doc_id: (r.n_fp, r.fp_hash) for r in winnow_fingerprints(docs).collect()}
    assert out["a"] == out["c"] and out["a"] != out["d"]
    assert out["a"][0] == len(sets["a"])


def test_ivf_pruned_recall_floor_by_probe_count(vectors):
    """Quantified recall@3 floor as n_probe shrinks (regression net for
    the pruned scale path — the emb_ann_pruned driver gate pins the
    exact case; this pins graceful degradation): recall is monotone
    non-decreasing in n_probe, ≥ 0.9 at 2 probes, and 1.0 at 4 on the
    4-cluster fixture."""
    qs = vectors.filter("vid < 40").select(
        F.col("vid").alias("qid"), F.col("vec").alias("q_vec"))
    cs = vectors.select(F.col("vid").alias("cid"), F.col("vec").alias("c_vec"))
    exact = _topk_sets(cosine_topk(qs, cs, DIM, k=3))

    def recall(n_probe: int) -> float:
        approx = _topk_sets(ivf_topk(qs, cs, DIM, k=3, n_clusters=8,
                                     n_probe=n_probe, sample_rows=400))
        hits = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4, (r1, r2, r4)
    assert r2 >= 0.9, f"recall@3 with 2 probes degraded to {r2}"
    assert r4 == 1.0, f"recall@3 with 4 probes must be exact, got {r4}"
    assert r1 >= 0.5, f"single-probe recall floor broken: {r1}"


def test_tfidf_topk(spark):
    """tf·ln(N/df) against a hand-computed toy corpus: ubiquitous terms
    score exactly 0, a unique term dominates its doc, rank ties break by
    term ASC, ≤ k rows per doc, and the result is partitioning-
    invariant (pure function of the corpus)."""
    import math

    from mapsplit_spark.operators.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "the apple banana apple"),
            (2, "the banana cherry"),
            (3, "the cherry durian apple"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_topk(docs, k=3)
    rows = {(r.doc_id, r.rk): (r.term, r.tf, r.tfidf) for r in out.collect()}
    # 'the' appears in all docs -> ln(3/3) = 0 exactly
    assert all(v[2] == 0.0 for v in rows.values() if v[0] == "the")
    # doc 1 top: apple tf=2, df=2 -> 2·ln(1.5); doc 3 top: durian ln(3)
    assert rows[(1, 1)] == ("apple", 2, round(2 * math.log(1.5), 4))
    assert rows[(3, 1)] == ("durian", 1, round(math.log(3.0), 4))
    # doc 3 rank 2/3: banana absent; cherry vs apple tie at ln(1.5),
    # term ASC -> apple before cherry
    assert rows[(3, 2)][0] == "apple" and rows[(3, 3)][0] == "cherry"
    # ≤ k rows per doc, rk dense from 1
    assert max(rk for _, rk in rows) <= 3
    # partitioning-invariant
    again = {(r.doc_id, r.rk): (r.term, r.tf, r.tfidf)
             for r in tfidf_topk(docs.repartition(7), k=3).collect()}
    assert again == rows


def test_winnow_arrow_kernel_matches_hof_mirror(spark):
    """r6: the Arrow md5 winnow kernel must be value-identical to the
    JVM higher-order-function mirror on edge cases (empty, short, null,
    multi-space, unicode) and on bulk text."""
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.textstats import (
        _winnow_fps_hof,
        _winnow_fps_md5_arrow,
    )

    rows = [(1, "hello world this is a test document with words"),
            (2, ""), (3, "ab"), (4, "   spaced   out   text   "),
            (5, None), (6, "ünïcode tèxt with ümlauts \U0001F600 chars"),
            (7, "aaaaa"), (8, "xxx " + "y" * 6)]
    rows += [(100 + i, f"document body {i} " * 17) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: r.fps
         for r in _winnow_fps_md5_arrow(df, 5, 4).collect()}
    b = {r.doc_id: r.fps
         for r in _winnow_fps_hof(df, 5, 4, F.md5).collect()}
    assert a == b
