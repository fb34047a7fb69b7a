"""Dedup suite tests — MinHash-LSH recall/precision on planted near-dups,
exact dedup, SimHash locality, and an independent pure-Python Jaccard
check of every surfaced pair."""

from __future__ import annotations

import pytest

from mapsplit_spark.operators.dedup import (
    exact_dup_groups,
    minhash_near_dups,
    simhash_text,
    with_shingle_hashes,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while seventeen green "
    "parrots watch from a tall oak tree near the river bank in summer"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d0", BASE),
        ("d1", BASE),  # exact dup of d0
        ("d2", BASE.replace("summer", "winter")),        # near dup (1 token)
        ("d3", BASE.replace("quick brown", "slow red")), # near dup (2 tokens)
        ("d4", "completely different text about spark dataframes and shuffles "
               "with partitions executors and adaptive query execution plans"),
        ("d5", "yet another unrelated document mentioning tile pyramids mercator "
               "projections zoom levels and slippy map coordinate conventions"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _py_jaccard(a: str, b: str, n: int = 3) -> float:
    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + n]) for i in range(max(1, len(w) - n + 1))}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dup(docs):
    got = exact_dup_groups(docs).collect()
    assert len(got) == 1
    assert got[0].n_docs == 2 and got[0].keep_doc == "d0"


def test_minhash_lsh_finds_planted_dups(docs):
    rows = {(r.id_a, r.id_b): r.jaccard for r in minhash_near_dups(docs, threshold=0.5).collect()}
    assert ("d0", "d1") in rows and rows[("d0", "d1")] == 1.0
    assert ("d0", "d2") in rows or ("d1", "d2") in rows  # 1-token edit
    # unrelated docs never pass exact verification
    assert not any("d4" in p or "d5" in p for p in rows)
    # every reported jaccard matches an independent python recomputation
    texts = {r.doc_id: r.text for r in docs.collect()}
    for (a, b), j in rows.items():
        assert abs(_py_jaccard(texts[a], texts[b]) - j) < 1e-6


def test_shingles_short_doc(spark):
    df = spark.createDataFrame([("s", "two words")], "doc_id string, text string")
    r = with_shingle_hashes(df).collect()[0]
    assert len(r.shingles) == 1  # < n tokens → whole doc as one shingle


def test_simhash_locality(docs):
    sh = {r.doc_id: r.simhash for r in simhash_text(docs).collect()}

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFF).count("1")

    assert sh["d0"] == sh["d1"]
    assert ham(sh["d0"], sh["d2"]) < ham(sh["d0"], sh["d4"])


def test_hot_bucket_cap_bounds_candidates(spark):
    """A pathological bucket (many identical docs → one band hash) must
    not produce |B|² candidate rows: above the cap the bucket degrades
    to STAR edges (hub = min id), keeping O(B) candidates while the
    cluster stays CONNECTED through the hub; normal-size buckets keep
    all-pairs."""
    from mapsplit_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    junk = [(f"j{i:02d}", "lorem ipsum dolor sit amet " * 3) for i in range(60)]
    real = [("a0", BASE), ("a1", BASE.replace("summer", "winter"))]
    df = spark.createDataFrame(junk + real, "doc_id string, text string")
    sigs = minhash_signatures(with_shingle_hashes(df), 32)
    uncapped = lsh_candidate_pairs(sigs, bands=8, max_bucket=None)
    assert uncapped.filter("id_a LIKE 'j%' AND id_b LIKE 'j%'").count() == 60 * 59 // 2
    capped = lsh_candidate_pairs(sigs, bands=8, max_bucket=16)
    star = capped.filter("id_a LIKE 'j%' AND id_b LIKE 'j%'").collect()
    assert len(star) == 59  # O(B), not B²
    assert all(r.id_a == "j00" for r in star)  # hub-connected cluster
    # the planted near-dup pair still surfaces with the cap active
    assert capped.filter("id_a = 'a0' AND id_b = 'a1'").count() == 1


def test_minhash_recall_with_default_cap(docs):
    """The default cap must not change recall on normal corpora — same
    planted-dup assertions as the uncapped pipeline."""
    rows = {(r.id_a, r.id_b) for r in
            minhash_near_dups(docs, threshold=0.5, max_bucket=64).collect()}
    assert ("d0", "d1") in rows
    assert ("d0", "d2") in rows or ("d1", "d2") in rows


def test_hot_bucket_observation_reports_cap_hits(spark):
    """The Observation hook surfaces hot-bucket degradation in-flight
    (a bucket-size aggregate fired at call time, one job of its own):
    n_hot_buckets > 0 exactly when the star fallback engaged."""
    from pyspark.sql import Observation

    from mapsplit_spark.operators.dedup import minhash_near_dups

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta copy {i % 2}")
         for i in range(40)],
        "doc_id long, text string",
    )
    obs = Observation("lsh_hot")
    out = minhash_near_dups(docs, threshold=0.5, max_bucket=4, observation=obs)
    assert out.count() > 0  # action → metrics available
    m = obs.get
    assert m["n_hot_buckets"] > 0
    assert m["max_bucket_size"] >= 20  # two 20-doc near-identical groups
    assert m["n_star_docs"] > 0

    obs2 = Observation("lsh_cold")
    out2 = minhash_near_dups(docs.limit(4), threshold=0.5, max_bucket=1024,
                             observation=obs2)
    out2.count()
    assert obs2.get["n_hot_buckets"] == 0


def test_hot_bucket_observation_matches_bucket_counts(spark):
    """The Observation reports the metrics of a separate
    ``groupBy(band, bval).count()`` over the same banded relation, leaves
    the pair set unchanged, and is filled also when no pair survives.
    (Observed inside the pair job instead, the metrics are lost when the
    pair set is empty: adaptive execution replaces the empty distinct
    with an empty relation, and the observed node goes with it.)"""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.dedup import hamming_banded, hamming_near_dups

    cap = 16
    dup = spark.range(60).select(F.col("id").alias("image_id"),
                                 F.lit(123456789).alias("phash"))
    rnd = spark.range(1000, 1400).select(
        F.col("id").alias("image_id"), (F.col("id") * 982451653).alias("phash"))
    kw = dict(radius=3, n_bands=4, bits=64, max_bucket=cap)

    for df, n_pairs in ((dup.unionByName(rnd), 59), (rnd, 0)):
        obs = Observation()
        got = {tuple(r) for r in hamming_near_dups(df, observation=obs, **kw).collect()}
        assert len(got) == n_pairs
        assert got == {tuple(r) for r in hamming_near_dups(df, **kw).collect()}
        sizes = [r["count"] for r in hamming_banded(
            df, "image_id", "phash", 4, 64, 3).groupBy("band", "bval").count().collect()]
        hot = [n for n in sizes if n > cap]
        assert obs.get == {"n_hot_buckets": len(hot),
                           "max_bucket_size": max(sizes),
                           "n_star_docs": sum(hot)}


# ---------------------------------------------------------------- pHash

def _popcount_xor(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_hamming_near_dups_exact_vs_bruteforce(spark):
    """Pigeonhole band join is EXACT for radius ≤ n_bands−1: every pair
    the brute-force popcount finds, on signed 64-bit hashes (real pHash
    int64 range), with planted near pairs among random decoys."""
    import numpy as np

    from mapsplit_spark.operators.dedup import hamming_near_dups

    rng = np.random.default_rng(7)
    hashes = rng.integers(-(2 ** 63), 2 ** 63, 120, dtype=np.int64)
    # plant near pairs: copies of earlier hashes with 1-3 bits flipped
    for i, (src, nbits) in enumerate([(0, 1), (1, 2), (2, 3), (3, 3), (4, 4)]):
        v = int(hashes[src])
        for b in rng.choice(64, nbits, replace=False):
            v ^= 1 << int(b)
        m = v & ((1 << 64) - 1)
        hashes[100 + i] = m - (1 << 64) if m >= (1 << 63) else m
    rows = [(int(i), int(h)) for i, h in enumerate(hashes)]
    df = spark.createDataFrame(rows, "image_id long, phash long")

    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_near_dups(df, radius=3, n_bands=4, bits=64).collect()
    }
    exp = set()
    uh = [int(h) & ((1 << 64) - 1) for h in hashes]
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d = _popcount_xor(uh[i], uh[j])
            if d <= 3:
                exp.add((i, j, d))
    assert got == exp
    assert len(exp) >= 4  # the planted 1/2/3/3-bit pairs are in


def test_hamming_radius_guard():
    import pyspark.sql  # noqa: F401 — session fixture not needed: guard raises pre-plan

    from mapsplit_spark.operators.dedup import hamming_near_dups

    with pytest.raises(ValueError, match="n_bands"):
        hamming_near_dups(None, radius=4, n_bands=4)


def test_hamming_cap_star_edges_keep_cluster_connected(spark):
    """Exact-dup flood (every band identical) under a small max_bucket
    degrades to star edges but keeps the dup cluster connected."""
    from mapsplit_spark.operators.dedup import hamming_near_dups

    df = spark.createDataFrame(
        [(i, 0x1234_5678_9ABC_DEF0) for i in range(40)]
        + [(100, -42), (101, -42)],
        "image_id long, phash long",
    )
    pairs = hamming_near_dups(df, radius=3, n_bands=4, bits=64, max_bucket=8)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    # star through hub 0: the 40-clone cluster stays one component
    assert {(0, i) for i in range(1, 40)} <= set(edges)
    assert (100, 101) in set(edges)


def test_hamming_plan_no_cartesian(spark):
    """Candidate generation is one grouped exchange + map-side pair
    expansion with the popcount verify INLINE (before the distinct) —
    no cross join, no Python, no corpus join-back."""
    from mapsplit_spark.operators.dedup import hamming_near_dups

    df = spark.range(50).selectExpr("id AS image_id", "id * 7919 AS phash")
    out = hamming_near_dups(df, radius=3, n_bands=4, bits=64, max_bucket=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "Join" not in plan
    assert "bit_count" in plan
    # r4 memory-safe shape: the banded relation feeds a window-annotated
    # cold/hot Union — TWO textual exchanges pre-AQE (same canonical
    # exchange; runtime-reused, see test_hot_bucket_exchange_reused)
    # plus the final distinct
    assert plan.count("Exchange hashpartitioning(band") == 2
    assert plan.count("Exchange") == 3


def test_hot_bucket_exchange_reused_and_not_collected(spark):
    """ADVICE r3 (medium): a >cap bucket must never materialize into a
    single collect_list row — hot rows emit hub-star pairs PER ROW.
    Asserts (a) star semantics on a 60-dup hot bucket, (b) the banded
    relation physically shuffles ONCE (AQE ReusedExchange in the final
    plan), (c) the cold branch's collect_list only ever sees ≤cap
    buckets (filter below the aggregate)."""
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.dedup import hamming_near_dups

    dup = spark.range(60).select(F.col("id").alias("image_id"),
                                 F.lit(123456789).alias("phash"))
    rnd = spark.range(1000, 1200).select(
        F.col("id").alias("image_id"), (F.col("id") * 982451653).alias("phash"))
    out = hamming_near_dups(dup.unionByName(rnd), radius=3, n_bands=4,
                            bits=64, max_bucket=16)
    rows = out.collect()
    # 60 exact dups in one >cap bucket → 59 hub-star edges, hub = min id
    assert len(rows) == 59
    assert {(r.id_a, r.hamming) for r in rows} == {(0, 0)}
    assert {r.id_b for r in rows} == set(range(1, 60))

    import contextlib
    from io import StringIO

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    final = buf.getvalue().split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") == 1


def test_phash_on_real_image_fixture(spark, images_dir):
    """End-to-end over the images table shape: decode → phash64 → plant
    a near-identical image (few pixels perturbed) → the operator finds
    the planted pair and no self-pairs."""
    import numpy as np

    from mapsplit_spark import imaging
    from mapsplit_spark.operators.dedup import hamming_near_dups

    imgs = spark.read.parquet(f"{images_dir}/images.parquet").limit(50).collect()
    rows = []
    for r in imgs:
        px = imaging.decode_image(bytes(r.bytes))
        rows.append((r.image_id, imaging.phash64(px)))
    # perturb image 0 by a small luminance nudge in one corner block
    px0 = imaging.decode_image(bytes(imgs[0].bytes)).copy()
    px0[:2, :2] = np.clip(px0[:2, :2].astype(np.int16) + 4, 0, 255).astype(np.uint8)
    rows.append(("planted_dup", imaging.phash64(px0)))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {(r.id_a, r.id_b) for r in
           hamming_near_dups(df, radius=3, n_bands=4, bits=64).collect()}
    assert (imgs[0].image_id, "planted_dup") in got or \
           ("planted_dup", imgs[0].image_id) in got


def test_derived_phash_parity_spark_duckdb(spark):
    """The shared sqlgen derivation evaluates IDENTICALLY in Spark and
    DuckDB (the gate precondition), packs into [0, 2^60), and the
    planted group-0 distances straddle the radius-3 boundary exactly as
    documented: (0,1)=1,(1,2)=1,(0,2)=2,(0,3)=3,(2,3)=3 in, (1,3)=4 out."""
    import duckdb

    from mapsplit_spark import sqlgen

    bands = [sqlgen.derived_phash_band_sql("id", k) for k in range(4)]
    packed = sqlgen.phash_from_bands_sql(bands)
    srows = spark.range(60).selectExpr("id", f"{packed} AS ph").collect()
    drows = duckdb.sql(f"SELECT id, {packed} AS ph FROM range(60) t(id)").fetchall()
    assert sorted((r.id, r.ph) for r in srows) == sorted(drows)
    vals = {r.id: r.ph for r in srows}
    assert all(0 <= v < 2 ** 60 for v in vals.values())

    def d(a, b):
        return bin(vals[a] ^ vals[b]).count("1")

    assert [d(0, 1), d(1, 2), d(0, 2), d(0, 3), d(2, 3), d(1, 3)] == [1, 1, 2, 3, 3, 4]


def test_simhash_plus_hamming_band_join_finds_text_near_dups(spark):
    """Composition: simhash_text → hamming_near_dups gives the SimHash
    scale path for text (band join instead of all-pairs), finding the
    planted near-identical docs and skipping unrelated ones."""
    from mapsplit_spark.operators.dedup import hamming_near_dups, simhash_text

    rows = [(0, BASE), (1, BASE.replace("summer", "winter"))] + [
        (i, f"unrelated document {i} about {w} with distinct vocabulary "
            f"entry number {i * 37} and a tail of filler words {i * 91}")
        for i, w in enumerate(
            ["volcanoes", "accordions", "submarines", "meadows"], start=10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = simhash_text(docs, n_bits=32)
    pairs = {(r.id_a, r.id_b) for r in
             hamming_near_dups(sh, id_col="doc_id", hash_col="simhash",
                               radius=3, n_bands=4, bits=32).collect()}
    assert (0, 1) in pairs
    assert all(a in (0, 1) and b in (0, 1) for a, b in pairs)


def test_hamming_combination_bands_exact_and_leaner(spark):
    """n_bands > radius+1 switches to C(m, m-r) combination keys —
    recall stays EXACT (differential vs brute force) while bucket keys
    widen; also exercises uneven band widths (64 bits, 6 bands)."""
    import numpy as np

    from mapsplit_spark.operators.dedup import hamming_near_dups

    rng = np.random.default_rng(23)
    hashes = rng.integers(-(2 ** 63), 2 ** 63, 90, dtype=np.int64)
    for i, (src, nbits) in enumerate([(0, 1), (1, 3), (2, 2)]):
        v = int(hashes[src])
        for b in rng.choice(64, nbits, replace=False):
            v ^= 1 << int(b)
        m = v & ((1 << 64) - 1)
        hashes[80 + i] = m - (1 << 64) if m >= (1 << 63) else m
    df = spark.createDataFrame(
        [(int(i), int(h)) for i, h in enumerate(hashes)],
        "image_id long, phash long",
    )
    exp = set()
    uh = [int(h) & ((1 << 64) - 1) for h in hashes]
    for i in range(len(uh)):
        for j in range(i + 1, len(uh)):
            d = _popcount_xor(uh[i], uh[j])
            if d <= 3:
                exp.add((i, j, d))
    for m in (6, 8):
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_near_dups(df, radius=3, n_bands=m, bits=64).collect()
        }
        assert got == exp, f"n_bands={m}"


def test_auto_bands_ladder():
    """Self-sizing anchors vs the measured 5 M-hash ladder (BASELINE.md
    r3): m=4 (the old fixed default) died >600 s at 5 M rows; m=6 ran
    49 s there; ~10^9 needs 7-8; the criterion is expected random-
    collision candidates ≤ 0.5·N."""
    from math import comb

    from mapsplit_spark.operators.dedup import auto_bands

    assert auto_bands(1_000, 3) == 4           # radius+1 for tiny corpora
    assert auto_bands(5_000_000, 3) == 6       # the measured sweet spot
    assert 7 <= auto_bands(10**9, 3) <= 8
    assert auto_bands(10**11, 3) >= 9          # 10^12-image scale climbs
    prev = 0
    for n in (10**3, 10**4, 10**5, 10**6, 10**7, 10**8, 10**9, 10**10):
        m = auto_bands(n, 3)
        assert m >= prev
        # the chosen m actually satisfies the volume criterion
        width = (m - 3) * 64 / m
        assert 2.0 ** width >= comb(m, m - 3) * n / 0.5
        prev = m
    assert auto_bands(10, 5) == 6              # never below pigeonhole min


def test_hamming_default_self_sizes(spark):
    """The self-sized band count (``auto_bands`` over the row count, as
    dedup_job sizes it) must produce the same verified pairs as an
    explicit radius+1 at small N — the sizing only changes candidate
    generation, never the exact-recall output."""
    from pyspark.sql import functions as F

    from mapsplit_spark.operators.dedup import auto_bands, hamming_near_dups

    base = spark.range(200).select(
        F.col("id").alias("image_id"),
        (F.col("id") * 982451653).alias("phash"),
    )
    # plant pairs: ids 1000+g differ from 2000+g by 2 bits
    g = spark.range(30)
    planted = g.select(F.col("id").alias("image_id"),
                       (F.col("id") * 77777 + 5).alias("phash")).unionByName(
        g.select((F.col("id") + 1000).alias("image_id"),
                 (F.col("id") * 77777 + 5).cast("long")
                 .bitwiseXOR(F.lit(0x0000000400000001)).alias("phash")))
    df = base.unionByName(planted)
    auto = hamming_near_dups(df, radius=3, n_bands=auto_bands(df.count(), 3))
    explicit = hamming_near_dups(df, radius=3, n_bands=4)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, explicit.collect()))
    assert auto.count() >= 30


def test_lsh_bucket_cap_single_exchange_no_python(spark):
    """Candidate generation (including the hot-bucket cap) is ONE
    grouped exchange + map-side pair expansion — no Python, no join,
    no cartesian (the round-3 single-shuffle formulation; the earlier
    aggregate+semi-join shape cost 5 passes over the banded relation)."""
    from mapsplit_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(f"d{i}", f"text body number {i} with several words") for i in range(20)],
        "doc_id string, text string",
    )
    sigs = minhash_signatures(with_shingle_hashes(docs), 32)
    plan = lsh_candidate_pairs(sigs, bands=8, max_bucket=64)._jdf \
        .queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # map-side expansion, not a self-join
    # r4 memory-safe shape: window-annotated cold/hot Union — the banded
    # exchange appears once per branch pre-AQE (runtime-reused: pinned in
    # test_hot_bucket_exchange_reused_and_not_collected) plus the final
    # distinct
    assert plan.count("Exchange hashpartitioning(band") == 2
    assert plan.count("Exchange") == 3
