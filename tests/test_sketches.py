"""HyperLogLog sketch + weighted sampling + quantile scale paths.

The portable-HLL ↔ DuckDB bit-equality is the driver gate
(``user_distinct_hll``); these tests pin the properties the gate
can't: production-hash accuracy, sketch mergeability, the corrected
small-range branch, A-ES weighting behavior, and the approx-quantile
error bound against the exact gate operator.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from mapsplit_spark.operators.sketches import (
    hll_distinct,
    hll_estimate_from_registers,
    hll_merge,
    hll_registers,
)
from mapsplit_spark.operators.sampling import weighted_sample
from tests.oracle import hll_error_bound

SF = "/root/testdata/sf0.001"


def _ids(spark, n, grp):
    return spark.range(n).select(
        F.lit(grp).alias("g"), F.concat(F.lit(f"{grp}:"), F.col("id")).alias("e")
    )


def test_hll_production_accuracy(spark):
    """p=12 xxhash64 estimates within the 4σ analytic bound for three
    well-separated cardinalities."""
    df = _ids(spark, 1000, "a").union(_ids(spark, 5000, "b")).union(
        _ids(spark, 20000, "c")
    )
    est = {r.g: r.hll_estimate
           for r in hll_distinct(df, ["g"], "e", p=12).collect()}
    bound = hll_error_bound(12)  # ~6.5%
    for g, n in (("a", 1000), ("b", 5000), ("c", 20000)):
        assert abs(est[g] - n) / n < bound, (g, est[g])


def test_hll_merge_sketches_union(spark):
    """max-combining two halves' registers ≡ sketching the union —
    identical registers, identical estimate."""
    lo = _ids(spark, 6000, "g")
    hi = spark.range(4000, 12000).select(
        F.lit("g").alias("g"), F.concat(F.lit("g:"), F.col("id")).alias("e")
    )
    whole = lo.union(hi).distinct()
    r_lo = hll_registers(lo, ["g"], "e", p=10)
    r_hi = hll_registers(hi, ["g"], "e", p=10)
    merged = hll_merge(r_lo, r_hi)
    direct = hll_registers(whole, ["g"], "e", p=10)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, direct.collect()))
    e_m = hll_estimate_from_registers(merged, ["g"], p=10).collect()[0]
    e_d = hll_estimate_from_registers(direct, ["g"], p=10).collect()[0]
    assert e_m.hll_estimate == e_d.hll_estimate


def test_hll_corrected_beats_raw_at_small_n(spark):
    """Linear-counting branch: at n ≪ m the corrected estimate must be
    far closer to truth than the raw harmonic-mean form."""
    df = _ids(spark, 30, "g")
    raw = hll_distinct(df, ["g"], "e", p=12, corrected=False).collect()[0]
    cor = hll_distinct(df, ["g"], "e", p=12, corrected=True).collect()[0]
    assert abs(cor.hll_estimate - 30) < abs(raw.hll_estimate - 30)
    assert abs(cor.hll_estimate - 30) / 30 < 0.1


def test_hll_portable_matches_python_recompute(spark):
    """The nibble pipeline (register + rho) against a direct Python
    md5 recompute — independent of both engines' SQL evaluators."""
    import hashlib

    rows = [("x", f"item{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "g string, e string")
    got = {(r.g, r.reg): r.max_rho
           for r in hll_registers(df, ["g"], "e", p=8, salt="s",
                                  portable=True).collect()}
    want: dict[tuple[str, int], int] = {}
    for g, e in rows:
        h = int(hashlib.md5(f"s{e}".encode()).hexdigest()[:8], 16)
        reg = h & 0xFF
        w = h >> 8
        rho = 25 - w.bit_length() if w else 25
        key = (g, reg)
        want[key] = max(want.get(key, 0), rho)
    assert got == want


def test_hll_plan_is_jvm_only(spark):
    """No Python evaluation in the sketch plan — hashes, registers and
    folds all run inside whole-stage codegen."""
    df = _ids(spark, 100, "g")
    for portable in (False, True):
        plan = hll_distinct(
            df, ["g"], "e", p=8, portable=portable
        )._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_weighted_sample_matches_python_recompute(spark):
    """Selection ≡ python top-n by the same A-ES key (portable-hash u,
    pow key) — the full formula recomputed outside any SQL engine."""
    import hashlib

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = sorted(
        (r.lang, r.doc_id)
        for r in weighted_sample(docs, "doc_id", "greatest(n_chars, 1)",
                                 10, ["lang"], salt="k").collect()
    )
    rows = docs.select("doc_id", "lang", "n_chars").collect()
    by_lang: dict[str, list] = {}
    for r in rows:
        h = int(hashlib.md5(f"k{r.doc_id}".encode()).hexdigest()[:8], 16) % 1_000_000
        u = (h + 0.5) / 1_000_000
        key = u ** (1.0 / max(r.n_chars, 1))
        by_lang.setdefault(r.lang, []).append((-key, r.doc_id))
    want = sorted(
        (lang, doc_id)
        for lang, lst in by_lang.items()
        for _, doc_id in sorted(lst)[:10]
    )
    assert got == want


def test_weighted_sample_prefers_heavy_rows(spark):
    """Across many salts, a 50× heavier row must be selected much more
    often than a light one (A-ES inclusion monotonicity, statistical)."""
    rows = [(i, 500 if i < 10 else 10) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w long")
    heavy_hits = light_hits = 0
    for s in range(12):
        picked = {r.id for r in
                  weighted_sample(df, "id", "w", 20, salt=f"s{s}").collect()}
        heavy_hits += sum(1 for i in range(10) if i in picked)
        light_hits += sum(1 for i in range(10, 200) if i in picked)
    # 10 heavy rows (w=500) vs 190 light (w=10): heavy per-row inclusion
    # should dominate light per-row inclusion by a wide margin
    assert heavy_hits / 10 > 4 * (light_hits / 190), (heavy_hits, light_hits)


def test_weighted_sample_partition_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = sorted(r.doc_id for r in
               weighted_sample(docs, "doc_id", "n_chars", 30, salt="z").collect())
    b = sorted(r.doc_id for r in
               weighted_sample(docs.repartition(17), "doc_id", "n_chars",
                               30, salt="z").collect())
    assert a == b


def test_approx_quantiles_within_bound(spark):
    """The 100 TB quantile path: approx_percentile(·, ·, accuracy) must
    land within the Greenwald-Khanna rank guarantee of the exact
    percentile the gate pins (rank error ≤ n/accuracy)."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    acc = 1000
    both = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.25, 0.5, 0.75, 0.95))").alias("exact"),
        F.expr(f"approx_percentile(value, array(0.25, 0.5, 0.75, 0.95), {acc})")
        .alias("approx"),
        F.count("*").alias("n"),
        F.expr("sort_array(collect_list(value))").alias("vals"),
    ).collect()
    for r in both:
        for q, ex, ap in zip((0.25, 0.5, 0.75, 0.95), r.exact, r.approx):
            # rank of the approx answer within the sorted values
            rank = sum(1 for v in r.vals if v <= ap)
            target = q * r.n
            assert abs(rank - target) <= max(2.0, r.n / acc + 1), (
                r.event_type, q, ex, ap)


# ------------------------------------------------------- frequent items

def test_exact_top_items_matches_counter(spark):
    from collections import Counter

    from mapsplit_spark.operators.sketches import exact_top_items

    rows = [("a", w) for w in "x x x y y z q".split()] + \
           [("b", w) for w in "m m n n n x".split()]
    df = spark.createDataFrame(rows, "g string, item string")
    got = {(r.g, r.rk): (r.item, r.cnt)
           for r in exact_top_items(df, ["g"], "item", 2).collect()}
    want = {}
    for g in ("a", "b"):
        c = Counter(w for gg, w in rows if gg == g)
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        for i, (item, cnt) in enumerate(ranked, 1):
            want[(g, i)] = (item, cnt)
    assert got == want


def test_frequent_items_mg_exact_on_planted_heavies(spark):
    """MG candidates + exact recount recover the true top-k whenever
    the k-th frequency exceeds n/capacity — planted zipf-ish heavies
    over many distinct light items, tiny capacity, across
    partitionings."""
    from mapsplit_spark.operators.sketches import (exact_top_items,
                                                   frequent_items_mg)

    heavy = [(f"hot{i}",) for i in range(5) for _ in range(200 - 30 * i)]
    light = [(f"cold{j}",) for j in range(2000)]
    df = spark.createDataFrame(heavy + light, "item string")
    # n = 2780; capacity 64 → threshold ~43 < k-th freq (80)
    exact = [(r.item, r.cnt) for r in
             exact_top_items(df, [], "item", 5)
             .orderBy(F.desc("cnt"), F.asc("item")).collect()]
    for parts in (1, 7, 32):
        got = [(r.item, r.cnt) for r in
               frequent_items_mg(df.repartition(parts), "item", 5,
                                 capacity=64).collect()]
        assert got == exact, parts


def test_frequent_items_mg_capacity_guard(spark):
    import pytest

    from mapsplit_spark.operators.sketches import frequent_items_mg

    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError, match="capacity"):
        frequent_items_mg(df, "item", 10, capacity=5)


# ------------------------------------------------------- Count-Min sketch

def _cms_tokens(spark):
    """Deterministic skewed token stream: item i appears (40 - i) times
    for i in 0..39 plus a 200-item light tail."""
    rows = [(f"hot{i}",) for i in range(40) for _ in range(40 - i)]
    rows += [(f"tail{i}",) for i in range(200)]
    return spark.createDataFrame(rows, "term string")


def test_cms_never_underestimates(spark):
    from mapsplit_spark.operators.sketches import cms_query, cms_sketch

    df = _cms_tokens(spark)
    exact = {r.term: r.cnt for r in
             df.groupBy("term").agg(F.count("*").alias("cnt")).collect()}
    probes = spark.createDataFrame([(t,) for t in exact], "term string")
    for portable, width in ((True, 256), (False, 1024)):
        sk = cms_sketch(df, "term", depth=4, width=width, portable=portable)
        est = {r.item: r.cms_est
               for r in cms_query(sk, probes, "term", depth=4, width=width,
                                  portable=portable).collect()}
        assert est.keys() == exact.keys()
        assert all(est[t] >= exact[t] for t in exact)


def test_cms_exact_at_wide_width(spark):
    """width ≫ distinct items → an estimate only exceeds the true count
    if some item collides in ALL depth rows; with these fixed hashes it
    does not (deterministic — salts are part of the construction)."""
    from mapsplit_spark.operators.sketches import cms_query, cms_sketch

    df = _cms_tokens(spark)
    exact = {r.term: r.cnt for r in
             df.groupBy("term").agg(F.count("*").alias("cnt")).collect()}
    probes = spark.createDataFrame([(t,) for t in exact], "term string")
    sk = cms_sketch(df, "term", depth=5, width=8192)
    est = {r.item: r.cms_est
           for r in cms_query(sk, probes, "term", depth=5, width=8192).collect()}
    assert est == exact


def test_cms_absent_item_estimates_zero_or_collision(spark):
    from mapsplit_spark.operators.sketches import cms_query, cms_sketch

    df = _cms_tokens(spark)
    sk = cms_sketch(df, "term", depth=5, width=8192)
    probes = spark.createDataFrame([("nosuchtoken",)], "term string")
    [row] = cms_query(sk, probes, "term", depth=5, width=8192).collect()
    assert row.cms_est == 0


def test_cms_merge_equals_combined_sketch(spark):
    from mapsplit_spark.operators.sketches import cms_merge, cms_sketch

    df = _cms_tokens(spark)
    a = df.filter(F.crc32(F.col("term")) % 2 == 0)
    b = df.filter(F.crc32(F.col("term")) % 2 == 1)
    merged = {(r.rw, r.bucket): r.cnt for r in cms_merge(
        cms_sketch(a, "term", depth=4, width=512),
        cms_sketch(b, "term", depth=4, width=512),
    ).collect()}
    whole = {(r.rw, r.bucket): r.cnt
             for r in cms_sketch(df, "term", depth=4, width=512).collect()}
    assert merged == whole


def test_cms_portable_buckets_match_python_md5(spark):
    import hashlib

    from mapsplit_spark.operators.sketches import cms_sketch

    rows = [("alpha",), ("beta",), ("alpha",), ("gamma",)]
    df = spark.createDataFrame(rows, "term string")
    sk = {(r.rw, r.bucket): r.cnt
          for r in cms_sketch(df, "term", depth=3, portable=True).collect()}
    expect: dict = {}
    for (t,) in rows:
        for j in (1, 2, 3):
            h = hashlib.md5(f"cms{j}|{t}".encode()).hexdigest()
            key = (j, int(h[:2], 16))
            expect[key] = expect.get(key, 0) + 1
    assert sk == expect


def test_cms_sketch_state_is_bounded_and_jvm_side(spark):
    from mapsplit_spark.operators.sketches import cms_sketch

    df = spark.range(100_000).select(F.col("id").cast("string").alias("term"))
    sk = cms_sketch(df, "term", depth=4, width=64)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan                       # map-side combine
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert sk.count() <= 4 * 64                          # state ≤ d×w rows
