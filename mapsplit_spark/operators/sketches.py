"""Cardinality / quantile sketches for web-scale corpus statistics
(engine additions; no mapsplit counterpart — the reference counts
distinct elements per tile exactly because a single JVM sees every
element, MapSplit.java stats accumulators; at 10^12 rows an exact
COUNT(DISTINCT) per group is a full shuffle of every distinct value).

HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007) re-expressed as
two grouped aggregations:

    groupBy(group, register).agg(max(rho))      # partial map-side:
                                                #   shuffle ≤ groups × m rows
    groupBy(group).agg(fold registers)          # tiny

— the shuffle volume is bounded by ``groups × m`` REGARDLESS of input
cardinality, which is the whole point at 100 TB: a billion distinct
elements per group still moves at most m = 2^p rows per group.  The
register relation is also a mergeable sketch: max-combining two runs'
registers sketches the union (pytest-pinned), so per-partition /
per-day sketches roll up without touching raw data.

Two hash modes, mirroring the repo's winnow/SimHash portability split:

* ``portable=True``  — p = 8, md5-prefix nibble hash, every formula
  generated once in ``sqlgen`` and shared verbatim with the DuckDB
  oracle (gate ``user_distinct_hll``).  All 2^-rho terms are dyadic
  rationals ≥ 2^-25, so their sums are EXACT in IEEE double — the
  estimate is bit-deterministic across engines and partitionings.
* ``portable=False`` — production: xxhash64 (JVM-side, no md5 string
  churn), any p in [4, 18], rho from the full 64−p-bit tail, plus the
  standard small-range linear-counting correction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sqlgen


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    elem: str,
    p: int = 12,
    salt: str = "",
    portable: bool = False,
) -> DataFrame:
    """Per-(group, register) max-rho relation — the mergeable sketch
    state.  ``elem`` is a SQL expression (column or concat).  One
    shuffle, partial-aggregated map-side; ≤ groups × 2^p output rows.
    NULL elements are dropped first — matching COUNT(DISTINCT)'s NULL
    semantics (and the sqlgen oracle's WHERE ... IS NOT NULL)."""
    df = df.filter(F.expr(elem).isNotNull())
    if portable:
        if p != 8:
            raise ValueError("portable HLL is fixed at p=8 (nibble-aligned)")
        s = f"concat('{salt}', cast({elem} as string))" if salt \
            else f"cast({elem} as string)"
        rows = df.select(
            *group_cols,
            F.expr(sqlgen.hll_reg_sql(s)).alias("reg"),
            F.expr(sqlgen.hll_rho_sql(sqlgen.hll_w_sql(s))).alias("rho"),
        )
    else:
        if not 4 <= p <= 18:
            raise ValueError("hll_registers: p must be in [4, 18]")
        wbits = 64 - p
        hashed = df.select(
            *group_cols,
            F.xxhash64(F.expr(elem).cast("string"), F.lit(salt)).alias("_h"),
        )
        h = F.col("_h")
        w = F.shiftrightunsigned(h, p)
        # rho = leading zeros of the wbits-wide tail + 1 = wbits+1 − bitlength
        rows = hashed.select(
            *group_cols,
            h.bitwiseAND(F.lit((1 << p) - 1)).alias("reg"),
            F.when(w == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin(w)))
            .alias("rho"),
        )
    return rows.groupBy(*group_cols, "reg").agg(F.max("rho").alias("max_rho"))


def hll_merge(registers_a: DataFrame, registers_b: DataFrame) -> DataFrame:
    """Union two sketch-state relations (same group_cols/p/salt/hash):
    register-wise max — sketches the union of the two element sets."""
    cols = registers_a.columns
    key = [c for c in cols if c != "max_rho"]
    return (
        registers_a.unionByName(registers_b)
        .groupBy(*key)
        .agg(F.max("max_rho").alias("max_rho"))
    )


def hll_estimate_from_registers(
    registers: DataFrame,
    group_cols: list[str],
    p: int,
    corrected: bool = True,
) -> DataFrame:
    """Fold sketch state into per-group estimates.  Raw estimate
    α_m·m²/Σ2^−M_j (unseen registers contribute 1.0 each); with
    ``corrected``, the small-range linear-counting switch
    (E ≤ 2.5m and empty registers exist → m·ln(m/V))."""
    m = 1 << p
    am2 = _alpha(m) * m * m
    max_rho = 64 - p + 1
    inv = F.expr(sqlgen.hll_inv_pow2_sql("max_rho", min(max_rho, 64)))
    s = registers.groupBy(*group_cols).agg(
        F.count("*").alias("n_reg"),
        (F.sum(inv) + (F.lit(m) - F.count("*")) * F.lit(1.0)).alias("sum_inv"),
    )
    raw = F.lit(am2) / F.col("sum_inv")
    if corrected:
        v = F.lit(m) - F.col("n_reg")  # empty registers
        est = F.when(
            (raw <= 2.5 * m) & (v > 0), F.lit(m) * F.log(F.lit(m) / v)
        ).otherwise(raw)
    else:
        est = raw
    return s.select(
        *group_cols,
        F.col("n_reg").cast("long").alias("n_reg"),
        F.col("sum_inv"),
        est.alias("hll_estimate"),
    )


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    elem: str,
    p: int = 12,
    salt: str = "",
    portable: bool = False,
    corrected: bool = True,
) -> DataFrame:
    """Per-group approximate COUNT(DISTINCT elem): registers → fold.
    Standard error ≈ 1.04/√(2^p) (~1.6% at p=12, 6.5% at p=8)."""
    regs = hll_registers(df, group_cols, elem, p=p, salt=salt, portable=portable)
    return hll_estimate_from_registers(regs, group_cols, p=p, corrected=corrected)


# ----------------------------------------------------- Count-Min sketch

def cms_sketch(df: DataFrame, elem: str, depth: int = 4, width: int = 256,
               salt: str = "", portable: bool = False) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of the ``elem``
    frequency vector → the mergeable state relation (rw, bucket, cnt),
    ≤ depth × width rows REGARDLESS of the item domain — per-item
    frequency estimates at 100 TB without ever shuffling the full
    domain (the complement of ``frequent_items_mg``: MG answers "which
    items are heavy", CMS answers "how heavy is THIS item" for items
    known up front).

    One partially-aggregated shuffle: each input row map-side expands
    to its ``depth`` (rw, bucket) keys; partial counts combine before
    the exchange, so the shuffle carries ≤ partitions × depth × width
    rows.  NULL elements are dropped (COUNT semantics).

    ``portable=True`` — width fixed at 256, salted-md5 row hashes
    (sqlgen.cms_bucket_sql, shared verbatim with the DuckDB oracle);
    ``portable=False`` — production xxhash64(elem, row-seed) pmod any
    width.  Estimates are upward-biased: est ≥ true, and
    P[est > true + 2n/width] < (1/2)^depth."""
    df = df.filter(F.expr(elem).isNotNull())
    if portable:
        if width != sqlgen.CMS_WIDTH:
            raise ValueError("portable CMS is fixed at width=256 (one md5 byte)")
        s = f"concat('{salt}', cast({elem} as string))" if salt \
            else f"cast({elem} as string)"
        buckets = [F.expr(sqlgen.cms_bucket_sql(s, j)) for j in range(1, depth + 1)]
    else:
        e = F.expr(elem).cast("string")
        buckets = [
            F.pmod(F.xxhash64(e, F.lit(f"{salt}cms{j}")), F.lit(width))
            for j in range(1, depth + 1)
        ]
    rows = df.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(j + 1).alias("rw"), b.cast("int").alias("bucket"))
                for j, b in enumerate(buckets)
            ])
        ).alias("rb")
    ).select(F.col("rb.rw").alias("rw"), F.col("rb.bucket").alias("bucket"))
    return rows.groupBy("rw", "bucket").agg(F.count("*").cast("long").alias("cnt"))


def cms_merge(sketch_a: DataFrame, sketch_b: DataFrame) -> DataFrame:
    """Combine two sketches of the same (depth, width, salt, hash):
    bucket-wise sum — sketches the multiset union, so per-partition /
    per-day sketches roll up without touching raw rows."""
    return (
        sketch_a.unionByName(sketch_b)
        .groupBy("rw", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_query(sketch: DataFrame, probes: DataFrame, probe_col: str,
              depth: int = 4, width: int = 256, salt: str = "",
              portable: bool = False) -> DataFrame:
    """Point-query the sketch for each probe item → (item, cms_est).
    Each probe expands to its ``depth`` (rw, bucket) keys and takes the
    MIN count over the rows it hashes to (missing bucket = 0).  The
    sketch side is ≤ depth × width rows — always broadcastable."""
    if portable:
        if width != sqlgen.CMS_WIDTH:
            raise ValueError("portable CMS is fixed at width=256 (one md5 byte)")
        s = f"concat('{salt}', cast({probe_col} as string))" if salt \
            else f"cast({probe_col} as string)"
        buckets = [F.expr(sqlgen.cms_bucket_sql(s, j)) for j in range(1, depth + 1)]
    else:
        e = F.expr(probe_col).cast("string")
        buckets = [
            F.pmod(F.xxhash64(e, F.lit(f"{salt}cms{j}")), F.lit(width))
            for j in range(1, depth + 1)
        ]
    pr = probes.select(
        F.col(probe_col).alias("item"),
        F.explode(
            F.array(*[
                F.struct(F.lit(j + 1).alias("rw"), b.cast("int").alias("bucket"))
                for j, b in enumerate(buckets)
            ])
        ).alias("rb"),
    ).select("item", F.col("rb.rw").alias("rw"), F.col("rb.bucket").alias("bucket"))
    return (
        pr.join(F.broadcast(sketch), ["rw", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("cms_est"))
    )


# ------------------------------------------------------- frequent items

def exact_top_items(df: DataFrame, group_cols: list[str], item_col: str,
                    k: int) -> DataFrame:
    """EXACT per-group top-k items by frequency, deterministic order
    (cnt DESC, item ASC): one partially-aggregated shuffle on
    (group, item) + the per-group rank window (Spark pushes a partial
    WindowGroupLimit below the window's exchange — the
    weighted_sample TopK pattern).  The gate formulation; at 100 TB
    with a huge item domain, pair with ``frequent_items_mg`` below.
    → group_cols + (item_col, cnt, rk)."""
    from pyspark.sql import Window

    counted = df.groupBy(*group_cols, item_col).agg(
        F.count("*").cast("long").alias("cnt"))
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc("cnt"), F.asc(item_col))
    return (counted.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k))


def frequent_items_mg(df: DataFrame, item_col: str, k: int,
                      capacity: int = 1024) -> DataFrame:
    """Heavy hitters at scale — Misra-Gries candidate generation +
    exact recount (the mergeable-summaries construction, Agarwal et
    al. 2012):

    1. per partition, a bounded MG summary (≤ ``capacity`` counters;
       batch-wise value_counts folded in, pruned by subtracting the
       overflow quantile — the batched MG decrement) streams the
       partition in O(capacity) memory;
    2. the candidate UNION is a superset of the merged MG summary, so
       every item with global count > n/capacity is guaranteed present;
    3. an exact broadcast-semi-join recount over the candidates gives
       true counts; top-k of those is EXACT whenever the k-th item's
       frequency exceeds n/capacity (asserted in tests with planted
       heavy hitters).

    Shuffle cost: the recount groupBy over candidate rows only — the
    full item domain never shuffles (vs exact_top_items, whose first
    shuffle carries every distinct item)."""
    import pandas as pd

    if capacity < k:
        raise ValueError(f"capacity {capacity} must be ≥ k {k}")
    dtype = dict(df.dtypes)[item_col]

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for item, c in pdf[item_col].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > capacity:
                vals = sorted(counters.values())
                delta = vals[len(vals) - capacity - 1]
                counters = {i: c - delta for i, c in counters.items()
                            if c > delta}
        yield pd.DataFrame({item_col: list(counters.keys())})

    candidates = (df.select(item_col)
                  .mapInPandas(mg, schema=f"{item_col} {dtype}")
                  .distinct())
    counted = (df.join(F.broadcast(candidates), item_col, "left_semi")
               .groupBy(item_col).agg(F.count("*").cast("long").alias("cnt")))
    return counted.orderBy(F.desc("cnt"), F.asc(item_col)).limit(k)
