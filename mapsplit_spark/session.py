"""SparkSession factory with the engine's default tuning.

Local testing runs on ``local[N]`` but every default here is chosen for
the 1000-executor / 100 TB target: AQE on (runtime partition coalescing
+ skew-join splitting), shuffle partitions twice the core count (at
least 32; cores default to $SPARK_GRAFT_CPUS) unless the caller passes
``shuffle_partitions``, Arrow enabled for the few pandas-UDF operators
(hole-fill, mosaic assembly).  A running session is returned as it is,
keeping the conf its owner chose.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "mapsplit-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # NOTE on spark.sql.codegen.hugeMethodLimit: we measured (r4,
        # BASELINE.md "codegen vs JIT") that lowering it to HotSpot's
        # 8 KB JIT threshold speeds giant-single-expression stages 3×
        # (the whole-stage method never JITs above 8 KB) but REGRESSES
        # stages where only one helper method exceeds the limit and the
        # rest JIT fine (doc_quality +60%, tile_cellid +28%).  Kept at
        # the Spark default; hot pair-scan expressions are instead kept
        # small by construction (similarity.dot_pair: one dot per pair).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
