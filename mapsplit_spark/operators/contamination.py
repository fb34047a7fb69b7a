"""Train→test contamination detection via winnow fingerprints.

Training-data engine addition: before training, every evaluation/test
document must be checked for n-gram overlap against the training split
(benchmark leakage).  The textbook approach — compare all test×train
document pairs — is quadratic; this operator reduces it to ONE
equi-join on winnowing fingerprints (Schleimer et al. 2003, the same
construction as ``textstats.winnow_fingerprints``): any shared
substring of length ≥ w + k − 1 characters is guaranteed to contribute
at least one common fingerprint, so a pair with real overlap cannot be
missed, and pairs that share none are never materialized.

Scale shape:
- fingerprint pass: map-only over the corpus (``textstats.winnow_fps``,
  run by the caller);
- ubiquitous-fingerprint filter (document frequency > ``max_df``):
  boilerplate grams (headers, licence text) would otherwise create hot
  join keys; dropping them bounds the per-fingerprint fan-out to
  ``max_df`` docs per side — the same hot-key cap philosophy as the
  LSH bucket cap, but exact: a dropped fp can only LOWER n_shared, and
  the report states the threshold;
- one equi-join on fp + one (test, train) count aggregate.  No theta
  join, no all-pairs stage, bounded skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def contamination_pairs(
    fps: DataFrame,
    test_ids: DataFrame,
    max_df: int = 20,
    min_shared: int = 2,
) -> DataFrame:
    """→ (test_id, train_id, n_shared): test documents sharing
    ≥ ``min_shared`` winnow fingerprints with a training document.
    ``fps`` is the (doc_id, fps) relation of ``textstats.winnow_fps`` over
    the whole corpus, built by the caller (md5 gram hashes for the
    oracle-checkable gate, xxhash64 longs in production — the same
    guarantee either way), so a caller that also writes the winnow
    summary fingerprints the docs once.  ``test_ids`` is a 1-column
    DataFrame of ids in the held-out split; every other doc is the
    training side."""
    # HARD barrier before the explode: Generate's input collapses with
    # winnow_fps's projections (each referenced once here), and an
    # expression inlined into a transform() lambda re-evaluates PER
    # ELEMENT — the L²/L³ trap textstats.py's PROJECTION BARRIER note
    # documents (measured: the sf0.001 gate never finished — killed at
    # 9 min — vs 4 s for the winnow pass itself with this checkpoint).
    # It also pins the relation for its four consumers below (df-filter
    # aggregate, its semi-join back, the test/train split sides).
    # eager: the lazy variant re-entered the (now Arrow) winnow kernel on
    # its cold first consumer — measured 6.5 s vs 1.8 s first-run at
    # sf0.1 (r6 A/B); warm runs tie
    fps = fps.localCheckpoint(eager=True)
    ex = fps.select("doc_id", F.explode("fps").alias("fp"))
    # fps are distinct per doc, so this doc-frequency is exact
    keep = (ex.groupBy("fp").agg(F.count("*").alias("fp_df"))
            .filter(F.col("fp_df") <= max_df).select("fp"))
    ex = ex.join(keep, "fp", "left_semi")
    tids = test_ids.select(F.col(test_ids.columns[0]).alias("doc_id")).distinct()
    test = ex.join(tids, "doc_id", "left_semi") \
        .select(F.col("doc_id").alias("test_id"), "fp")
    train = ex.join(tids, "doc_id", "left_anti") \
        .select(F.col("doc_id").alias("train_id"), "fp")
    return (
        test.join(train, "fp")
        .groupBy("test_id", "train_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Corpus reduction: drop every TRAINING document flagged in
    ``pairs`` (as ``contamination_pairs`` returns them) against any
    test document — the conservative pre-training scrub.  Test rows
    themselves are kept (they are not training data)."""
    flagged = pairs.select(F.col("train_id").alias("doc_id"))
    return docs.join(flagged, "doc_id", "left_anti")
