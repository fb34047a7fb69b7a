"""Deterministic sampling / split operators for training-data
pipelines (engine additions; no mapsplit counterpart).

Training corpora need reproducible held-out splits and per-stratum
caps that survive re-runs, repartitions, and engine upgrades —
``df.sample()`` guarantees none of that (its outcome depends on
partitioning).  Both operators here are pure functions of row CONTENT:

* ``deterministic_split`` — hash-bucket each id into named splits by
  weight.  Map-only: NO shuffle, no state, embarrassingly parallel at
  any scale; adding a split column to 100 TB costs one scan.
* ``stratified_cap``     — at most n rows per stratum, chosen in
  portable-hash order (a deterministic uniform sample without
  replacement per stratum).  ONE shuffle (the window partition).  At
  extreme per-stratum cardinality the window sort dominates; the
  standard scale-out is a two-phase quota sample (per-partition top-n
  partial via the same ordering, then a final per-stratum top-n —
  ``n`` small) which this operator applies automatically via Spark's
  window TopK optimization when ``rank <= n`` is pushed (rank filter
  pushdown keeps partial sorts bounded).

The hash is the PORTABLE md5-prefix integer (first 8 hex chars → a
32-bit value) so the DuckDB oracle reproduces selections bit-exactly —
same portability split as sqlgen's SimHash/winnow formulas; xxhash64
would be faster but engine-private.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MOD = 1_000_000


def portable_hash_sql(expr: str, salt: str = "") -> str:
    """Portable uniform bucket in [0, MOD): integer value of the first
    8 hex chars of md5(salt || expr), mod MOD — evaluates identically
    in Spark SQL and DuckDB (both emit lowercase hex; nibbles decoded
    with instr arithmetic, no engine-specific hash or hex-cast)."""
    s = f"concat('{salt}', cast({expr} as string))" if salt else f"cast({expr} as string)"
    # bigint arithmetic: nibble*16^7 exceeds int32 (Spark 4 ANSI aborts
    # on int overflow); DuckDB promotes identically under the cast.
    nibbles = [
        f"cast(instr('0123456789abcdef', substr(md5({s}), {j}, 1)) - 1 as bigint)"
        for j in range(1, 9)
    ]
    acc = " + ".join(
        f"{nib} * {16 ** (8 - j)}" for j, nib in enumerate(nibbles, start=1)
    )
    return f"(({acc}) % {MOD})"


def deterministic_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Assign every row to a named split ('train'/'val'/...) in column
    ``split`` by
    portable hash of its id — stable across runs, partitionings, and
    engines; weights need not sum to 1 (normalized).  Map-only."""
    total = sum(weights.values())
    if total <= 0:
        raise ValueError("deterministic_split: weights must sum > 0")
    bucket = F.expr(portable_hash_sql(id_col, salt))
    expr, acc = None, 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = bucket < int(acc * MOD)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", out)


def stratified_cap(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Keep at most ``n_per_stratum`` rows per stratum, selected in
    portable-hash order of ``id_col`` (ties broken by the id itself) —
    a reproducible uniform per-stratum subsample.  One shuffle; the
    rank filter lets Spark run bounded per-partition partial TopK
    sorts instead of full stratum sorts."""
    h = F.expr(portable_hash_sql(id_col, salt))
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def weighted_key_sql(id_expr: str, weight_expr: str, salt: str = "") -> str:
    """Efraimidis–Spirakis A-ES key u^(1/w) with u the portable-hash
    uniform ((bucket + 0.5)/MOD ∈ (0,1)) — a weighted sample without
    replacement is the top-n rows by this key.  Deterministic given
    (id, weight, salt); shared verbatim with the DuckDB oracle.  pow()
    is engine libm — the one formula here that is identical only to
    ~1 ulp, which cannot flip a selection unless two keys collide at
    ~1e-16 relative (content-hash keys never get that close; verified
    value-exact at two SFs in the gate)."""
    u = f"(({portable_hash_sql(id_expr, salt)}) + 0.5) / {MOD}.0"
    return f"pow({u}, 1.0 / greatest(cast({weight_expr} as double), 1e-12))"


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_expr: str,
    n: int,
    strata_cols: list[str] | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis &
    Spirakis 2006): per stratum (or globally), keep the n rows with the
    largest u^(1/w) keys — inclusion probability rises with weight,
    reproducible across runs/partitionings/engines.  One shuffle; the
    rank-filter pushdown keeps per-partition sorts bounded at top-n
    (same TopK shape as ``stratified_cap``)."""
    key = F.expr(weighted_key_sql(id_col, weight_expr, salt))
    part = strata_cols if strata_cols else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(key.desc(), F.col(id_col).asc())
    return (
        df.withColumn("_wk", F.row_number().over(w))
        .filter(F.col("_wk") <= n)
        .drop("_wk")
    )
