"""Deduplication suite for training-data pipelines (engine addition).

All hot-path math uses built-in higher-order functions (JVM codegen,
Arrow-free): shingling via sequence+transform, hashing via xxhash64,
MinHash via array_min over affine-permuted hashes, SimHash via bitwise
majority.  The LSH band join is the standard shingle→minhash→band→
bucket-join construction (Broder 1997 / Leskovec-Rajaraman-Ullman ch.3).

Scale notes: candidate generation is an equi-join on (band_idx, band
hash) — shuffle-partitioned by band key, no cross join anywhere; exact
verification runs only on bucket-colliding pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import whitespace_tokens

# 2^31-1: keeps a·h + b within int64 (a, b, h < 2^31 → product < 2^62)
MERSENNE_P = (1 << 31) - 1


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: hash-groupBy on the raw ``text``. → (text_hash,
    n_docs, keep_doc) with n_docs ≥ 2 only."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc"))
        .filter(F.col("n_docs") >= 2)
    )


def _token_ngrams(toks, n: int):
    """Word n-gram shingles from a token-array COLUMN — built-ins only:
    sequence(0, len-n) → transform(concat slice).  Callers must pass a
    materialized column reference, not the split() expression itself: an
    expression captured inside the transform() lambda is re-evaluated
    per element (the winnow_fingerprints O(L²) trap)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) >= n, F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def with_shingle_hashes(docs: DataFrame, ngram: int = 3) -> DataFrame:
    """(doc_id, text) → (doc_id, shingles: array<long>) — xxhash64 of
    each word n-gram.  Tokenization runs in its own projection (barrier)
    so the split is computed once per document, not once per shingle."""
    toked = docs.select(
        F.col("doc_id"),
        whitespace_tokens("text").alias("_toks"),
    )
    sh = _token_ngrams(F.col("_toks"), ngram)
    return toked.select(
        F.col("doc_id"),
        F.transform(sh, lambda s: F.xxhash64(s)).alias("shingles"),
    )


def _affine_params(num_hashes: int, seed: int = 42):
    import numpy as np

    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, num_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, num_hashes, dtype=np.int64)
    return a.tolist(), b.tolist()


def minhash_signatures(shingled: DataFrame, num_hashes: int = 32) -> DataFrame:
    """→ (doc_id, sig: array<long>) — sig[i] = min over shingles of the i-th
    affine permutation (a_i·h + b_i mod p).  pmod keeps values positive.

    r6 note: an explode + 32-way partial-agg-min rewrite was A/B'd
    (same session, values bit-identical) and measured 2× SLOWER at
    sf0.1 — the per-row agg machinery costs more than the interpreted
    HOF lambda here because the map-only array form never touches a
    shuffle.  Kept map-only."""
    a, b = _affine_params(num_hashes)

    def perm_min(ai: int, bi: int):
        # single-arg lambda: a two-arg lambda would receive (element,
        # index) from transform() and shadow the closed-over ints
        return F.array_min(
            F.transform(
                F.col("shingles"),
                lambda h: F.pmod(ai * F.pmod(h, F.lit(MERSENNE_P)) + bi, F.lit(MERSENNE_P)),
            )
        )

    mins = [perm_min(a[i], b[i]).alias(f"m{i}") for i in range(num_hashes)]
    return shingled.select(F.col("doc_id"), F.array(*mins).alias("sig"))


def _banded(signatures: DataFrame, bands: int) -> DataFrame:
    """Signature → (doc_id, band, bhash) rows — the single banding
    construction; the hot-bucket cap and its observation both act on
    it."""
    rows_per_band = F.floor(F.size("sig") / bands).cast("int")
    return signatures.select(
        F.col("doc_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bidx: F.struct(
                    bidx.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), bidx * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 8,
                        max_bucket: int | None = 1024,
                        observation=None) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band hash are
    candidates.  (doc_id, sig) → distinct (id_a, id_b) with id_a < id_b.

    Hot-bucket guard: a degenerate band bucket of size B yields B²
    candidate rows in ONE join key — a scale-killer on real web text.
    Buckets larger than ``max_bucket`` fall back to STAR edges (every
    member paired with the bucket's min id) instead of all-pairs:
    candidate count drops from B² to B while preserving cluster
    CONNECTIVITY — a >cap cluster of near-identical docs (e.g. thousands
    of templated pages, where every band collapses to one bucket and the
    "other bands will catch it" argument fails) still verifies as one
    connected dup group through the hub.  Pass ``max_bucket=None`` for
    unconditional all-pairs.

    RECALL CAVEAT when the cap triggers: star edges guarantee
    connectivity only for a bucket holding ONE near-dup cluster.  If a
    >cap bucket mixes several distinct dup groups (band-hash collision,
    heterogeneous templated corpora), members not similar to the
    bucket's min-id hub lose their pairs unless another (≤cap) band
    catches them.  Pass a ``pyspark.sql.Observation`` as ``observation``
    to measure this: it reports ``n_hot_buckets`` / ``max_bucket_size``
    / ``n_star_docs``; alert on ``n_hot_buckets > 0``.  COST (since the
    r4 single-exchange shape): the metrics come from a separate
    bucket-size aggregate job fired eagerly AT CALL TIME — one extra
    scan + shuffle of the banded relation, paid even if the pairs are
    never consumed.  Pass it per run where wanted, not habitually.
    The full histogram is ``_banded(...).groupBy("band", "bhash").count()``.

    The grouped formulation consumes the banded relation exactly once,
    so it is not checkpointed (dropping the checkpoint measured 1.59 →
    1.42 s at sf0.1)."""
    return _capped_bucket_pairs(
        _banded(signatures, bands), "doc_id", ["band", "bhash"],
        max_bucket, observation,
    )


def _capped_bucket_pairs(banded: DataFrame, id_col: str, bucket_cols: list,
                         max_bucket: int | None,
                         observation=None, carry: str | None = None,
                         pair_filter=None) -> DataFrame:
    """Shared bucket-join candidate generation with the hot-bucket
    star-edge cap (see ``lsh_candidate_pairs`` for the recall caveat).
    → distinct (id_a, id_b), id_a < id_b.  Used by both the MinHash-LSH
    and the Hamming/pHash band joins.

    ``carry`` names a per-id column of ``banded`` to propagate onto
    pairs as ``{carry}_a`` / ``{carry}_b`` — lets a cheap verification
    run INLINE on the pair stream instead of joining the corpus back
    per side.  ``pair_filter`` is a predicate applied BEFORE the dedup
    distinct: for cheap verifications (one xor+popcount) filtering
    first shrinks the distinct's shuffle from the full candidate volume
    to the survivors.

    Physical shape — ONE exchange over the banded relation: hash-
    partition by bucket key, annotate every row with its bucket size
    and hub (min payload) via WINDOW functions, then

    * cold buckets (size ≤ cap): groupBy + collect the sorted member
      array + map-side all-pairs expansion with higher-order functions
      (no join, no cartesian — the join-based formulation needed 5
      passes and measured 1.9× slower on a 5 M-hash m=8 probe).  The
      collect_list here is BOUNDED by the cap (≤ cap structs/row);
    * hot buckets (size > cap): each non-hub row emits exactly ONE
      hub-star pair PER ROW — no aggregation, so a degenerate bucket
      of ANY size (mass exact duplicates) never materializes into a
      single row.  (Round-4 fix: the previous formulation
      collect_list'ed the full bucket before capping the expansion —
      O(bucket) single-row memory, unbounded by the cap; the window
      buffer this replaces it with spills to disk.)

    The two branches read the SAME exchange (ReuseExchange — pinned in
    tests/test_dedup.py) and the cold groupBy re-uses the window's
    hash partitioning, so the big relation still shuffles once.

    ``observation`` (with a cap set) reports n_hot_buckets /
    max_bucket_size / n_star_docs via a separate small bucket-size
    aggregate job fired eagerly at call time (exactly-once metrics; an
    observe node inside the dual-consumer pair plan would double-count
    under the shared exchange).  COST: that eager job is a full extra
    scan + shuffle of the banded relation, and it runs even if the
    caller never consumes the returned pairs — pass ``observation``
    only per run where the telemetry is wanted (the callers'
    docstrings carry the same warning)."""
    payload_fields = [F.col(id_col).alias("i")]
    if carry is not None:
        payload_fields.append(F.col(carry).alias("c"))
    base = banded.select(*bucket_cols, F.struct(*payload_fields).alias("p"))

    def pair_struct(x, y):
        return F.struct(x["i"].alias("ia"), y["i"].alias("ib"),
                        *([x["c"].alias("ca"), y["c"].alias("cb")]
                          if carry is not None else []))

    def all_pairs_of(grouped: DataFrame) -> DataFrame:
        # members sorted by id → positional pairs satisfy id_a < id_b
        s = F.size("mem")
        expanded = F.flatten(F.transform(
            "mem",
            lambda x, i: F.transform(
                F.slice("mem", i + 2, F.greatest(s - i - 1, F.lit(0))),
                lambda y: pair_struct(x, y),
            ),
        ))
        return grouped.select(F.explode(expanded).alias("pp"))

    if max_bucket is None:
        pairs2 = all_pairs_of(base.groupBy(*bucket_cols).agg(
            F.array_sort(F.collect_list("p")).alias("mem")
        ))
    else:
        if observation is not None:
            hot_sz = F.col("bsize") > max_bucket
            (
                base.groupBy(*bucket_cols)
                .agg(F.count("*").alias("bsize"))
                .observe(
                    observation,
                    F.sum(hot_sz.cast("long")).alias("n_hot_buckets"),
                    F.max("bsize").alias("max_bucket_size"),
                    F.sum(F.when(hot_sz, F.col("bsize")).otherwise(0)).alias("n_star_docs"),
                )
                .count()  # fire metrics exactly once (JVM-only action)
            )
        from pyspark.sql.window import Window

        w = Window.partitionBy(*bucket_cols)
        ann = base.select(
            *bucket_cols, "p",
            F.count("*").over(w).alias("bsize"),
            F.min("p").over(w).alias("hub"),
        )
        cold_pairs = all_pairs_of(
            ann.filter(F.col("bsize") <= max_bucket)
            .groupBy(*bucket_cols)
            .agg(F.array_sort(F.collect_list("p")).alias("mem"))
        )
        # hub = min payload → hub.i < p.i for every non-hub row
        hot_pairs = (
            ann.filter((F.col("bsize") > max_bucket) & (F.col("p") != F.col("hub")))
            .select(pair_struct(F.col("hub"), F.col("p")).alias("pp"))
        )
        pairs2 = cold_pairs.unionByName(hot_pairs)

    out_cols = [F.col("pp.ia").alias("id_a"), F.col("pp.ib").alias("id_b")]
    if carry is not None:
        out_cols += [F.col("pp.ca").alias(f"{carry}_a"),
                     F.col("pp.cb").alias(f"{carry}_b")]
    pairs = pairs2.select(*out_cols)
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    return pairs.distinct()


def jaccard_verify(pairs: DataFrame, shingled: DataFrame,
                   threshold: float = 0.7) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (``shingled`` as
    ``with_shingle_hashes`` returns it).
    → (id_a, id_b, jaccard) with jaccard ≥ threshold."""
    a = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_dups(docs: DataFrame, ngram: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.7,
                      max_bucket: int | None = 1024,
                      observation=None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline over (doc_id, text): shingle →
    minhash → band bucket join (hot buckets capped) → exact Jaccard
    verification.

    The default ``max_bucket`` makes recall in >cap buckets approximate
    (star edges — see ``lsh_candidate_pairs``); pass an ``Observation``
    to surface ``n_hot_buckets`` per run, or ``max_bucket=None`` for
    exact all-pairs LSH.

    The shingle relation feeds three consumers (signatures + both verify
    sides); Spark reuses none of those subtrees, so it is materialized
    once (localCheckpoint — measured 1.7× on sf0.1; a real pipeline
    checkpoints it as a stage table, pipeline.py-style)."""
    shingled = with_shingle_hashes(docs, ngram).localCheckpoint(eager=True)
    sigs = minhash_signatures(shingled, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, max_bucket, observation)
    return jaccard_verify(cands, shingled, threshold)


def _band_layout(n_bands: int, bits: int) -> list[tuple[int, int]]:
    """(offset, width) of each band: ``n_bands`` contiguous bit slices
    of the hash (widths differ by ≤1 when bits % n_bands ≠ 0)."""
    w, rem = divmod(bits, n_bands)
    out, off = [], 0
    for k in range(n_bands):
        width = w + (1 if k < rem else 0)
        out.append((off, width))
        off += width
    return out


def _band_exprs(hash_col: str, n_bands: int, bits: int) -> list:
    """Band value expressions of ``_band_layout``.  shiftrightunsigned +
    mask, so signed 64-bit hashes (real pHash stored as int64) band
    correctly."""
    return [F.shiftrightunsigned(F.col(hash_col), off)
            .bitwiseAND(F.lit((1 << width) - 1))
            for off, width in _band_layout(n_bands, bits)]


def _band_combos(n_bands: int, radius: int) -> list[tuple[int, ...]]:
    """The (m − radius)-subsets of the m bands; ``hamming_banded``'s
    ``band`` column is the index into this list."""
    from itertools import combinations

    return list(combinations(range(n_bands), n_bands - radius))


def band_combo_masks(n_bands: int, bits: int, radius: int) -> list[int]:
    """Bit mask of each ``hamming_banded`` band combination, indexed by
    its ``band`` value: two hashes agree on combination ``band`` exactly
    when they agree under its mask."""
    layout = _band_layout(n_bands, bits)
    return [sum(((1 << layout[k][1]) - 1) << layout[k][0] for k in combo)
            for combo in _band_combos(n_bands, radius)]


def hamming_banded(df: DataFrame, id_col: str, hash_col: str,
                   n_bands: int, bits: int, radius: int) -> DataFrame:
    """Generalized pigeonhole decomposition → (id, band, bval) rows,
    one per band COMBINATION: with ``m = n_bands`` bands, a pair within
    Hamming distance ``radius`` touches at most ``radius`` bands, so at
    least ``m − radius`` bands match exactly — hence the pair agrees on
    at least one (m − radius)-subset of bands.  Join keys are therefore
    the C(m, m−radius) band combinations (bval = xxhash64 of the
    member values; hash collisions only ADD candidates, never lose
    them, and verification removes them).

    m = radius + 1 degenerates to classic single-band multi-index.
    Larger m is the WEB-SCALE knob: expected candidate volume scales as
    C(m, m−r) · N² / 2^((m−r)·bits/m) while row replication is
    C(m, m−r) — pick the SMALLEST m whose key width (m−r)·bits/m gives
    2^width ≫ N.  Measured on 5 M 64-bit hashes at r = 3 (24 cores,
    ~5 M planted pairs): m = 4 (16-bit keys) quadratic-collision death
    (>600 s in the band join), m = 6 (32-bit keys, 20 combos) 49 s,
    m = 8 (40-bit keys, 56 combos) 326 s — correct but paying 2.8×
    replication for key entropy that 5 M rows don't need; m = 8 is the
    ~10^9-row setting.  Raises if ``radius > n_bands − 1``: the
    pigeonhole guarantee needs at least one untouched band."""
    if radius > n_bands - 1:
        raise ValueError(
            f"radius={radius} needs n_bands ≥ {radius + 1} for exact recall "
            f"(got {n_bands})"
        )
    bands = _band_exprs(hash_col, n_bands, bits)
    combos = _band_combos(n_bands, radius)
    return df.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(ci).alias("band"),
                    F.xxhash64(*[bands[k] for k in combo]).alias("bval"),
                )
                for ci, combo in enumerate(combos)
            ])
        ).alias("bk"),
    ).select(id_col, hash_col,
             F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))


def auto_bands(n_rows: int, radius: int, bits: int = 64) -> int:
    """Self-sizing pigeonhole band count (VERDICT r3 #2): the smallest
    ``m ≥ radius+1`` whose combination-key width keeps the EXPECTED
    random-collision candidate volume at or below ``0.5 · n_rows``.
    Expected candidate pairs for full-entropy hashes
    ≈ C(m, m−r) · N² / 2^((m−r)·bits/m), so the criterion is
    2^width ≥ C(m, m−r) · N / 0.5.

    The 0.5-pairs-per-row bound is anchored to the measured 5 M-hash
    ladder (BASELINE.md round 3): it reproduces m = radius+1 for small
    corpora, m = 6 at 5 M rows (measured 49 s; the m=4 default this
    replaces died >600 s there), m = 7-8 around 10⁹, and keeps climbing
    (≈ m = 10, 120× replication) at the 10¹¹-image scale — replication
    is the honest price of exact radius-r recall; cap-based star
    degradation stays orthogonal (``max_bucket``).

    Planted/duplicate-heavy corpora collide MORE than full-entropy
    hashes — this sizes the random-collision floor, ``max_bucket``
    bounds the rest."""
    from math import comb

    n = max(int(n_rows), 1)
    m = radius + 1
    while m < bits:
        width = (m - radius) * bits / m
        if 2.0 ** width >= comb(m, m - radius) * n / 0.5:
            return m
        m += 1
    return bits  # degenerate: 1-bit bands, key = all but r bits


def hamming_near_dups(df: DataFrame, id_col: str = "image_id",
                      hash_col: str = "phash", radius: int = 3, *,
                      n_bands: int, bits: int = 64,
                      max_bucket: int | None = 1024,
                      observation=None) -> DataFrame:
    """pHash-style near-dup detection over an integer hash column (the
    input_hint images table carries ``phash:int64``) via the pigeonhole
    multi-index: split the hash into ``n_bands`` bands; any pair within
    Hamming distance ``radius ≤ n_bands − 1`` must agree EXACTLY on at
    least one band (≤ radius differing bits can touch at most radius
    bands), so an equi-join on (band, band value) finds every such pair
    — this is the exact-recall analog of MinHash banding, and the
    standard way image corpora dedup pHash at scale.

    Scale shape: candidate generation is ONE grouped exchange with
    map-side pair expansion — no join, no cross join; verification is
    one XOR+popcount per colliding pair, inline, before the distinct.
    EXACT duplicates collide in every band, so corpora with heavy exact
    duplication should run ``exact_dup_groups`` first (or rely on
    ``max_bucket``: same star-edge degradation + Observation reporting
    as ``lsh_candidate_pairs`` — connectivity preserved, all-pairs
    recall within a >cap bucket is not guaranteed; the Observation
    metrics are an eagerly-fired extra scan+shuffle of the banded
    relation — see ``_capped_bucket_pairs``).

    → (id_a, id_b, hamming) with id_a < id_b and hamming ≤ radius.
    Raises if ``radius > n_bands − 1`` (``hamming_banded``).  ``n_bands``
    above radius+1 switches to combination keys (see hamming_banded) —
    the knob that keeps candidate volume sane past ~10^5 rows;
    ``auto_bands`` sizes it from the corpus row count (``dedup_job``
    does, so its choice lands in the run summary)."""
    banded = hamming_banded(df, id_col, hash_col, n_bands, bits, radius)
    # hashes ride the banded rows (8 B each), so verification is an
    # INLINE xor+popcount on the join output — filtered BEFORE the
    # dedup distinct, which therefore shuffles only survivors (and no
    # corpus join-back per side; with the single-shuffle candidate
    # stage: 629 s → 326 s on a 5 M-hash m=8 probe, identical output)
    ham = F.bit_count(
        F.col(f"{hash_col}_a").bitwiseXOR(F.col(f"{hash_col}_b"))
    )
    pairs = _capped_bucket_pairs(
        banded, id_col, ["band", "bval"], max_bucket, observation,
        carry=hash_col, pair_filter=ham <= radius,
    )
    return pairs.select("id_a", "id_b", ham.alias("hamming"))


def simhash_text(docs: DataFrame, n_bits: int = 32) -> DataFrame:
    """Text SimHash: per-bit majority vote over token hashes — grouped
    per document with aggregate() (JVM-side).  (doc_id, text) →
    (doc_id, simhash)."""
    toks = F.array_distinct(whitespace_tokens("text"))
    # barrier projection: the hash array feeds n_bits aggregates below —
    # inlined, tokenize+hash would re-run once PER BIT (32×)
    hashed = docs.select(
        F.col("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("_th"),
    )

    def bit_sum(b: int):
        # two-arg lambda only — extra defaulted params would change the
        # arity pyspark's lambda-inspection sees
        return F.aggregate(
            F.col("_th"), F.lit(0),
            lambda acc, h: acc + F.when(F.shiftright(h, b) % 2 != 0, 1).otherwise(-1),
        )

    bit_sums = [bit_sum(b).alias(f"s{b}") for b in range(n_bits)]
    tmp = hashed.select(F.col("doc_id"), F.size("_th").alias("ntok"), *bit_sums)
    sim = None
    for b in range(n_bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return tmp.select(F.col("doc_id"), sim.cast("long").alias("simhash"))
