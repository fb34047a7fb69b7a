"""Output sinks.  ``write_parquet`` is the batch CLIs' parquet write: the
counts their summaries print are observed on the write job itself."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, **metrics: Column) -> dict:
    """Write ``df`` to ``path`` as parquet (overwrite mode).  → ``rows``,
    plus each named aggregate of ``metrics``, observed on the write job.
    An aggregate over no rows (a sum of an empty output) reads 0."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows"),
               *[agg.alias(name) for name, agg in metrics.items()]) \
        .write.mode("overwrite").parquet(path)
    return {k: 0 if v is None else v for k, v in obs.get.items()}


def read_back(df: DataFrame, path: str) -> DataFrame:
    """The table ``df`` wrote to ``path``, read with ``df``'s schema (no inference job)."""
    return df.sparkSession.read.schema(df.schema).parquet(path)
