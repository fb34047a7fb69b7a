"""One bucketed Python stage for the per-group kernels of hole fill
(§2.6) and the merge walk (§2.5).

Keys hash into ``N_BUCKETS`` buckets and one ``applyInPandas`` call
walks every group of its bucket: a call per group paid the Arrow/pandas
round trip (~1-4 ms) tens of thousands of times, the dominant cost of
both operators at sf0.1 (r6; *Accelerating Python UDFs in Vectorized
Query Execution*, CIDR 2022).  The kernels are Python-CPU-heavy but
byte-light, so AQE's byte-sized coalescing squeezed them into 1-3 tasks
(6 s of 17 s CPU at sf0.1, r6); an explicit repartition on the bucket
is exempt from coalescing, and the groupBy reuses it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 256


def apply_in_buckets(df: DataFrame, keys: list[str], fn, schema: str) -> DataFrame:
    """``fn(pdf)`` → pandas frame of ``schema``, once per hash bucket of
    ``keys``: all rows of one key reach the same call (``pdf`` has
    ``df``'s columns plus ``bucket``)."""
    n_part = min(N_BUCKETS, df.sparkSession.sparkContext.defaultParallelism)
    return (
        df.withColumn("bucket", F.pmod(F.xxhash64(*keys), F.lit(N_BUCKETS)))
        .repartition(n_part, "bucket")
        .groupBy("bucket")
        .applyInPandas(lambda key, pdf: fn(pdf), schema)
    )
