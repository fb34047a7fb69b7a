"""Temporal join + sessionization operators (training-pipeline engine
additions; the reference's only temporal construct is the
appointment-date watermark, MapSplit.java:435-442, covered by P3/A4).

Three operators Spark lacks as built-ins.  The naive formulation of
each is an inequality theta-join, which Catalyst can only plan as a
BroadcastNestedLoopJoin / CartesianProduct — O(|L|*|R|) work no number
of executors fixes.  Each is instead expressed as a composition of
shuffles Spark does well:

* ``asof_join``         — union + running ``last(ignorenulls)`` window:
                          ONE shuffle, NO join node at all.
* ``sessionize_gaps``   — lag + cumulative sum over the same window
                          partitioning: ONE shuffle.
* ``range_join_binned`` — bounded-interval join via a bin-bucketed
                          equi-join + exact refine filter: the classic
                          interval-bucketing rewrite (each left row
                          lands in <= 2 bins when the bin width equals
                          the interval length), so the join is a plain
                          shuffled equi-join that AQE can skew-split.

Scale notes (100 TB): all three shuffle on the entity key.  A single
pathological key serializes into one task's window; the documented
mitigation is time-range chunking — split each key's timeline into
fixed chunks, run the operator per (key, chunk), and stitch chunk
boundaries with a second tiny pass over per-chunk edge rows (the same
carry-forward trick ``sessionize_gaps`` uses within a partition).  The
events tables here are user-keyed clickstreams where keys are many and
small, so the plain form is the right default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MATCH_TS = "_asof_rts"


def _micros(col: F.Column, dtype: T.DataType) -> F.Column:
    """Epoch-microsecond view of a timestamp/numeric event-time column
    (numeric columns are taken as seconds).  TIMESTAMP_NTZ — what
    Spark infers from pyarrow-written parquet — is measured as a NAIVE
    diff from the NTZ epoch, which is exactly DuckDB's ``epoch_us`` on
    its (naive) TIMESTAMP type: no session-timezone dependence."""
    if isinstance(dtype, T.TimestampNTZType):
        return F.timestamp_diff("MICROSECOND", _ntz_epoch(), col)
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(col)
    return (col.cast("double") * 1_000_000).cast("long")


def _ntz_epoch() -> F.Column:
    import datetime

    return F.lit(datetime.datetime(1970, 1, 1)).cast("timestamp_ntz")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    tolerance_s: float | None = None,
    matched_ts_col: str | None = None,
) -> DataFrame:
    """Backward as-of LEFT join on the event-time column ``ts`` of both
    sides: for every left row, the single latest right row with
    ``right.ts <= left.ts`` for the same key (ties at equal timestamps
    match, like DuckDB/pandas ``ASOF``); left rows with no prior right
    row keep NULL right columns.  The right payload is every right
    column other than the keys and ``ts``.

    Plan shape: tag the two sides, union them, and take a running
    ``last(right_payload, ignorenulls=True)`` over a window partitioned
    by key and ordered by ``(event_time, side)`` with the RIGHT side
    sorting first at equal times.  That is ONE hash-partition shuffle
    on the key and zero join operators — the inequality never reaches
    Catalyst as a join predicate, so there is no BNLJ to fall into and
    nothing blocks whole-stage codegen.

    Determinism: if the right side can hold several rows per
    ``(key, ts)``, pre-aggregate it to one (callers own the
    tie-break; any choice is equally "the" as-of row).

    ``tolerance_s`` nulls out matches older than ``left.ts -
    tolerance_s`` (pandas ``merge_asof(tolerance=...)`` semantics) —
    applied AFTER the window, so it costs a filter expression only.
    ``matched_ts_col`` additionally exposes the matched right row's
    event time under that name.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_cols = [c for c in right.columns if c not in (*keys, "ts")]
    clash = set(right_cols) & set(left.columns)
    if clash:
        raise ValueError(f"asof_join: right payload collides with left: {clash}")

    rv_type = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in right_cols]
        + [T.StructField(_MATCH_TS, right.schema["ts"].dataType)]
    )
    lrow_type = T.StructType(
        [T.StructField(c, left.schema[c].dataType) for c in left.columns]
    )

    l2 = left.select(
        *[F.col(k) for k in keys],
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(rv_type).alias("_rv"),
    )
    r2 = right.select(
        *[F.col(k) for k in keys],
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lrow_type).alias("_lrow"),
        F.struct(
            *[F.col(c) for c in right_cols],
            F.col("ts").alias(_MATCH_TS),
        ).alias("_rv"),
    )

    w = (
        Window.partitionBy(*keys)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("_rv", ignorenulls=True).over(w)
    out = (
        l2.unionByName(r2)
        .withColumn("_rvm", matched)
        .filter(F.col("_side") == 1)
    )
    if tolerance_s is not None:
        age = _micros(F.col("_ts"), left.schema["ts"].dataType) - _micros(
            F.col("_rvm")[_MATCH_TS], right.schema["ts"].dataType
        )
        out = out.withColumn(
            "_rvm",
            F.when(age <= int(tolerance_s * 1_000_000), F.col("_rvm")),
        )
    sel = [F.col("_lrow")[c].alias(c) for c in left.columns]
    sel += [F.col("_rvm")[c].alias(c) for c in right_cols]
    if matched_ts_col is not None:
        sel.append(F.col("_rvm")[_MATCH_TS].alias(matched_ts_col))
    return out.select(*sel)


def sessionize_gaps(
    df: DataFrame,
    key: str | list[str],
    ts_col: str = "ts",
    gap_s: float = 1800.0,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: within each key, a new session starts
    at the first row and whenever the time since the previous row
    exceeds ``gap_s`` seconds.  Appends a 1-based ``session_id``
    (key-scoped).  lag + cumulative sum over one window partitioning —
    ONE shuffle, all JVM-side.

    ``order_cols`` breaks timestamp ties deterministically (pass a
    unique id column when duplicate timestamps are possible — the gap
    flags are tie-order-invariant, but downstream per-row consumers
    may not be).
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(ts_col)] + [F.col(c) for c in (order_cols or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    ts_t = df.schema[ts_col].dataType
    gap = _micros(F.col(ts_col), ts_t) - _micros(F.lag(ts_col).over(w), ts_t)
    is_new = F.when(
        gap.isNull() | (gap > int(gap_s * 1_000_000)), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", F.sum(is_new).over(run))


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_s: float = 0.0,
    upper_s: float = 0.0,
    strict_lower: bool = False,
) -> DataFrame:
    """Bounded-interval range join: all (left, right) pairs with the
    same key and ``right_ts`` in ``[left_ts + lower_s, left_ts +
    upper_s]`` (lower bound exclusive when ``strict_lower``).

    Plan shape: bucket both sides into fixed time bins of width
    ``upper_s - lower_s`` (so every left interval spans at most TWO
    bins), explode each left row into its candidate bins, equi-join on
    ``(key, bin)``, then refine with the exact interval predicate.
    Catalyst sees a plain shuffled equi-join — sort-merge or shuffled
    hash, AQE-skew-splittable — instead of the BNLJ the raw inequality
    predicate would force.  Bin math is integer microseconds
    (positive-epoch inputs), so the bucketing is exact.

    Both frames must use disjoint column names apart from the keys
    (pre-rename payload columns; this keeps the operator free of
    silent suffixing).
    """
    keys = [on] if isinstance(on, str) else list(on)
    clash = (set(left.columns) & set(right.columns)) - set(keys)
    if clash:
        raise ValueError(f"range_join_binned: ambiguous columns: {clash}")
    lo_us = int(lower_s * 1_000_000)
    hi_us = int(upper_s * 1_000_000)
    if hi_us < lo_us:
        raise ValueError("range_join_binned: upper_s < lower_s")
    width = max(hi_us - lo_us, 1)

    r_us = _micros(F.col(right_ts), right.schema[right_ts].dataType)
    l_us = _micros(F.col(left_ts), left.schema[left_ts].dataType)
    r2 = right.withColumn("_rus", r_us).withColumn(
        "_bin", F.expr(f"_rus DIV {width}")
    )
    l2 = (
        left.withColumn("_lus", l_us)
        .withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    F.expr(f"(_lus + {lo_us}) DIV {width}"),
                    F.expr(f"(_lus + {hi_us}) DIV {width}"),
                )
            ),
        )
    )
    lower_pred = (
        F.col("_rus") > F.col("_lus") + lo_us
        if strict_lower
        else F.col("_rus") >= F.col("_lus") + lo_us
    )
    out_cols = [c for c in left.columns] + [
        c for c in right.columns if c not in keys
    ]
    return (
        l2.join(r2, keys + ["_bin"])
        .filter(lower_pred & (F.col("_rus") <= F.col("_lus") + hi_us))
        .select(*out_cols)
    )
