"""Round-4 plan pins: the vector re-rank path must whole-stage codegen.

VERDICT r3 #1: the unrolled 64-dim dot-product expression blew janino's
64 KB method limit on the pair stage of ``emb_near_dup`` (and was one
borderline plan-shape away from doing so in every IVF/kNN re-rank), so
Spark silently fell back to INTERPRETED evaluation of exactly the hot
path — correctness unaffected, a constant-factor scale tax at 100 TB.

The fix (operators/similarity.dot_col): one higher-order-function
expression per pair dot, norms precomputed per SIDE before the join.
These tests pin it by compiling the generated code of every
WholeStageCodegen subtree via the debug API and asserting none reports
``maxMethodCodeSize == -1`` (the debug-API marker for a janino compile
failure — observed on the old form's pair stage).  AQE is disabled for
the inspection only: an unexecuted AdaptiveSparkPlan hides its
WholeStageCodegen children from the debug walker.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapsplit_spark import sqlgen
from mapsplit_spark.operators.similarity import (
    cosine_topk,
    dot_col,
    ivf_topk,
    lsh_bucket_topk,
    norm_col,
)

DIM = 16


@pytest.fixture
def no_aqe(spark):
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", old)


def _codegen_stats(df) -> list[int]:
    """[maxMethodCodeSize per WholeStageCodegen subtree]; -1 = compile
    failure (the silent interpreted fallback this round bans)."""
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]


#: HotSpot -XX:-DontCompileHugeMethods threshold: a janino-compiled
#: whole-stage method at or above this many bytecode bytes never JITs
#: and runs in the bytecode interpreter ~3× slower (measured, BASELINE
#: r4 "Codegen vs the JIT") — the r5 pin bans the 8 000-65 535 window
#: the r4 `< 65536` assertion silently allowed (VERDICT r4 #1a).
JIT_WINDOW = 8000


def _assert_all_compile(df, need_subtrees: int = 1,
                        max_size: int = JIT_WINDOW) -> None:
    sizes = _codegen_stats(df)
    assert len(sizes) >= need_subtrees, f"no codegen subtrees found: {sizes}"
    assert all(s != -1 for s in sizes), (
        f"a WholeStageCodegen subtree failed to compile (janino 64 KB "
        f"fallback regression): {sizes}"
    )
    assert all(s < max_size for s in sizes), (
        f"a WholeStageCodegen method is in/over the HotSpot never-JIT "
        f"window (≥ {max_size} B): {sizes}"
    )


def _vectors(spark, n: int, id_name: str, vec_name: str):
    elems = [
        F.expr(f"CAST(((id * {97 * i + 13}) % 1000) AS DOUBLE) / 250.0 - 2.0")
        for i in range(DIM)
    ]
    return spark.range(n).select(
        F.col("id").alias(id_name), F.array(*elems).alias(vec_name)
    )


def test_emb_near_dup_gate_uses_wholestage_off_hint(spark, no_aqe):
    """r5: the labeled n² BNLJ gate deliberately runs with whole-stage
    codegen OFF (measured 12.7 s vs 23.4/40.5 s for the codegen forms —
    tools/ab_dot_pair.py at commit 0233616, ``git show
    0233616:tools/ab_dot_pair.py``); the callable sets the session conf and the
    plan must therefore contain NO WholeStageCodegen subtree.  _t()
    restores the default for every other gate."""
    import __spark_entry__ as entry

    try:
        df = entry.q_emb_near_dup(spark, "/root/testdata/sf0.001")
        assert spark.conf.get("spark.sql.codegen.wholeStage") == "false"
        assert _codegen_stats(df) == []
        # the hint changes the physical form only: results still match
        # the oracle (the emb_near_dup driver gate + check_gate sweep)
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "true")


def test_emb_near_dup_shape_compiles_with_codegen_on(spark, no_aqe):
    """The r3 regression guard the gate test used to carry: the same
    side-norms + one-dot-per-pair shape WITH codegen on must compile in
    every subtree (no janino fallback), under the r5 JIT-window bound.
    At dim 64 dot_pair takes the HOF branch (UNROLL_MAX_DIM=32)."""
    from mapsplit_spark.operators.similarity import dot_pair, norm_col

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                   norm_col(F.col("embedding")).alias("_na"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                   norm_col(F.col("embedding")).alias("_nb"))
    cos = dot_pair("va", "vb", 64) / (F.col("_na") * F.col("_nb"))
    df = (a.join(b, F.col("id_a") < F.col("id_b"))
          .withColumn("cos_sim", F.round(cos, 6))
          .filter(F.col("cos_sim") >= 0.35)
          .select("id_a", "id_b", "cos_sim"))
    _assert_all_compile(df, need_subtrees=2)


def test_production_rerank_plans_stay_under_jit_window(spark, no_aqe):
    """VERDICT r4 #1a: the production cosine/IVF/LSH re-rank plans at
    the production dim (64, parquet-sourced vectors) must keep EVERY
    whole-stage method strictly below HotSpot's 8 000-byte never-JIT
    threshold — not merely below janino's 64 KB compile limit.
    Measured r5: all subtrees < 1 KB."""
    from mapsplit_spark.operators.similarity import (
        ivf_topk,
        lsh_bucket_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.limit(5).select(F.col("vec_id").alias("qid"),
                            F.col("embedding").alias("q_vec"))
    c = emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("c_vec"))
    _assert_all_compile(cosine_topk(q, c, 64, k=3), max_size=JIT_WINDOW)
    _assert_all_compile(
        ivf_topk(q, c, 64, k=3, n_clusters=4, n_probe=2, sample_rows=100),
        max_size=JIT_WINDOW)
    _assert_all_compile(lsh_bucket_topk(q, c, 64, k=3, n_bits=8),
                        max_size=JIT_WINDOW)


def test_cosine_topk_plan_compiles(spark, no_aqe):
    q = _vectors(spark, 5, "qid", "q_vec")
    c = _vectors(spark, 200, "cid", "c_vec")
    _assert_all_compile(cosine_topk(q, c, DIM, k=3))


def test_ivf_rerank_plan_compiles(spark, no_aqe):
    q = _vectors(spark, 5, "qid", "q_vec")
    c = _vectors(spark, 300, "cid", "c_vec")
    _assert_all_compile(ivf_topk(q, c, DIM, k=3, n_clusters=4, n_probe=2,
                                 sample_rows=100))


def test_lsh_bucket_topk_plan_compiles(spark, no_aqe):
    """simhash_signature's per-plane dots are HOF now too (the unrolled
    form was n_bits × dim terms — same janino class)."""
    q = _vectors(spark, 5, "qid", "q_vec")
    c = _vectors(spark, 200, "cid", "c_vec")
    _assert_all_compile(lsh_bucket_topk(q, c, DIM, k=3, n_bits=8))


def test_hof_dot_matches_unrolled_bitexact(spark):
    """dot_col / norm_col must produce BIT-IDENTICAL float64 results to
    the unrolled sqlgen.dot_sql text the DuckDB oracles run — the HOF
    fold is left-to-right from 0.0 with per-element double casts, same
    tree."""
    v = _vectors(spark, 500, "vid", "v")
    both = v.select(
        dot_col(F.col("v"), F.col("v")).alias("hof"),
        F.expr(sqlgen.dot_sql("v", "v", DIM, one_based=False)).alias("unrolled"),
        norm_col(F.col("v")).alias("hof_norm"),
        F.expr(f"SQRT({sqlgen.dot_sql('v', 'v', DIM, one_based=False)})").alias("unrolled_norm"),
    )
    bad = both.filter(
        (F.col("hof") != F.col("unrolled"))
        | (F.col("hof_norm") != F.col("unrolled_norm"))
    )
    assert bad.isEmpty()


def test_cosine_topk_same_results_as_r3_form(spark):
    """End-to-end: the per-side-norm HOF formulation returns exactly the
    rows the round-3 unrolled-per-pair formulation returned."""
    from pyspark.sql.window import Window

    q = _vectors(spark, 5, "qid", "q_vec")
    c = _vectors(spark, 200, "cid", "c_vec")
    new = cosine_topk(q, c, DIM, k=3)

    cos = F.expr(
        f"{sqlgen.dot_sql('q_vec', 'c_vec', DIM, one_based=False)} / "
        f"(SQRT({sqlgen.dot_sql('q_vec', 'q_vec', DIM, one_based=False)}) * "
        f"SQRT({sqlgen.dot_sql('c_vec', 'c_vec', DIM, one_based=False)}))"
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("cid").asc())
    old = (
        F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("cid"))
        .withColumn("cos_sim", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "rank", "cid", "cos_sim")
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
