"""Train→test contamination detection — the winnowing guarantee on
planted overlaps, the ubiquitous-fingerprint cap, corpus scrub
semantics, and the md5 (oracle) / xxhash64 (production) hash split."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapsplit_spark.operators.contamination import (
    contamination_pairs,
    decontaminate,
)
from mapsplit_spark.operators.textstats import winnow_fps

LEAK = "the quick brown fox jumps over the lazy dog near the river bank"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus(spark):
    """Doc 0 (test) and doc 3 (train) share LEAK; everything else is
    disjoint filler text."""
    rows = [
        (0, f"evaluation prompt alpha {LEAK} end of benchmark item"),
        (1, "completely unrelated training text about tile pyramids"),
        (2, "another disjoint document mentioning haversine geometry"),
        (3, f"scraped web page containing {LEAK} plus trailing noise"),
        (4, "final clean training document with no shared substrings"),
    ]
    return _docs(spark, rows)


def _test_ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


@pytest.mark.parametrize("md5", [True, False])
def test_planted_leak_is_found(spark, md5):
    """LEAK is ≥ w+k−1 chars, so the winnowing guarantee forces ≥ 1
    shared fingerprint — the pair CANNOT be missed, md5 or xxhash64."""
    fps = winnow_fps(_corpus(spark), gram_hash=F.md5 if md5 else F.xxhash64)
    pairs = contamination_pairs(
        fps, _test_ids(spark, [0]), max_df=5, min_shared=1,
    ).collect()
    assert [(r.test_id, r.train_id) for r in pairs] == [(0, 3)]
    assert pairs[0].n_shared >= 1


def test_disjoint_corpus_yields_no_pairs(spark):
    docs = _docs(spark, [
        (0, "aaaa bbbb cccc dddd eeee"),
        (1, "ffff gggg hhhh iiii jjjj"),
        (2, "kkkk llll mmmm nnnn oooo"),
    ])
    assert contamination_pairs(winnow_fps(docs), _test_ids(spark, [0]),
                               max_df=5, min_shared=1).count() == 0


def test_ubiquitous_fingerprints_are_capped(spark):
    """A substring shared by EVERY doc exceeds max_df and is dropped —
    boilerplate must not flag the whole corpus against itself."""
    boiler = "standard license header text identical everywhere"
    docs = _docs(spark, [
        (i, f"{boiler} unique tail number {i} " + "x" * i) for i in range(6)
    ])
    pairs = contamination_pairs(winnow_fps(docs), _test_ids(spark, [0]),
                                max_df=3, min_shared=1)
    assert pairs.count() == 0


def test_decontaminate_drops_flagged_train_keeps_test(spark):
    docs = _corpus(spark)
    pairs = contamination_pairs(winnow_fps(docs), _test_ids(spark, [0]),
                                max_df=5, min_shared=1)
    kept = decontaminate(docs, pairs)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 3 not in ids          # the contaminated train doc is gone
    assert 0 in ids              # the test doc itself survives
    assert {1, 2, 4} <= ids      # clean train docs survive


def test_plan_has_no_theta_join(spark):
    plan = contamination_pairs(
        winnow_fps(_corpus(spark)), _test_ids(spark, [0]), max_df=5, min_shared=1,
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
