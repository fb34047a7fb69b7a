"""One start/wait path for the engine's stateful streams.

Every stream here is a stateful operator feeding an update-mode
``foreachBatch`` sink with a checkpoint.  Starting one goes through
``start_stream``, which fixes two things on the session just for the
start (the query clones the session conf at ``start()``; the caller's
values are restored right after):

* **one task wave of state partitions.**  The stateful shuffle takes
  ``spark.sql.shuffle.partitions`` partitions, and each state partition
  is one task per micro-batch with a fixed cost, whatever its row count
  (about 0.65 s measured on a 4-core ``local[4]`` session, with either
  state store).  The batch default, ``max(2 × cores, 32)``, made a
  1,000-row drain run eight task waves.  A new stream gets
  ``defaultParallelism`` partitions: one wave.  Spark writes the count
  into the checkpoint's offset metadata when the first batch starts and
  takes it from there on every restart, so a checkpoint keeps the count
  it was created with, whoever resumes it.  The sink's own shuffles
  (the dedup sink's ``dropDuplicates``) plan with the start value.
* **drains end.**  A drain (``availableNow``) runs with no-data
  micro-batches off, so it stops once the input present at start is
  committed.  With them on, a processing-time state timeout (the dedup
  state TTL) asks for another empty batch after every batch, and the
  drain never ends; ``processAllAvailable`` waits on the same flag and
  hangs too.  Timeouts still fire in data batches, so TTL eviction
  happens at the next drain that brings data.  Tailing streams keep
  no-data batches, which fire timeouts between arrivals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

Sink = Callable[[DataFrame, int], None]


def start_stream(spark: SparkSession, frame: DataFrame, sink: Sink,
                 checkpoint: str, interval: str | None = None,
                 conf: dict[str, str] | None = None) -> StreamingQuery:
    """Start ``frame`` → ``foreachBatch(sink)`` in update mode.

    ``interval=None`` drains what is present and stops (``availableNow``);
    an interval such as ``"2 seconds"`` tails the input until stopped.
    ``conf`` holds extra session settings the query needs at start (e.g.
    ``dedup_stream.rocksdb_state_conf()``); like the two above, they are
    set for the start only."""
    start_conf = {
        "spark.sql.shuffle.partitions":
            str(spark.sparkContext.defaultParallelism),
        "spark.sql.streaming.noDataMicroBatches.enabled":
            str(interval is not None).lower(),
        **(conf or {}),
    }
    writer = (frame.writeStream.foreachBatch(sink).outputMode("update")
              .option("checkpointLocation", checkpoint))
    writer = (writer.trigger(availableNow=True) if interval is None
              else writer.trigger(processingTime=interval))
    old = {k: spark.conf.get(k, None) for k in start_conf}
    for k, v in start_conf.items():
        spark.conf.set(k, v)
    try:
        return writer.start()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_stream(spark: SparkSession, frame: DataFrame, sink: Sink,
               checkpoint: str, interval: str | None = None,
               timeout_sec: float | None = None,
               conf: dict[str, str] | None = None) -> StreamingQuery:
    """``start_stream``, then wait for the query and return it stopped.

    A drain (``interval=None``) returns once its input is committed; if
    it is still running after ``timeout_sec`` it is stopped and
    ``TimeoutError`` is raised.  A tailing stream runs for
    ``timeout_sec`` (until killed if None) and is then stopped.  A
    query that failed re-raises its error."""
    q = start_stream(spark, frame, sink, checkpoint, interval, conf)
    if timeout_sec is None:
        q.awaitTermination()
        return q
    ended = q.awaitTermination(timeout_sec)
    q.stop()
    q.awaitTermination()
    if interval is None and not ended:
        raise TimeoutError(f"stream drain still running after {timeout_sec} s")
    return q


def state_metrics(q: StreamingQuery) -> dict:
    """State partitions, rows and bytes of ``q``'s stateful operator
    from its last progress that reports one; read from the progress
    Spark already keeps, so no Spark job runs.  Empty when no batch ran."""
    for p in reversed(q.recentProgress):
        if p.stateOperators:
            op = p.stateOperators[0]
            return {"state_partitions": op.numShufflePartitions,
                    "state_rows": op.numRowsTotal,
                    "state_bytes": op.memoryUsedBytes}
    return {}
