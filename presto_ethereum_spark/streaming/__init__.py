"""Structured Streaming surface: chain-head tailing + windowed event aggs.

Every run-to-completion query in the package goes through :func:`drain`
(or :func:`settle_to_memory`, its memory-sink form)."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``, process everything its source has, stop, and
    return the stopped query (``recentProgress`` stays readable).

    One standing query on a zero-interval trigger, not ``availableNow``:
    PySpark 4.1.2 gives Python sources no ``SupportsTriggerAvailableNow``,
    so an ``availableNow`` run captures ``latestOffset`` once and reads a
    single rate-limited micro-batch."""
    q = writer.trigger(processingTime="0 seconds").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def settle_to_memory(
    spark: SparkSession, df: DataFrame, prefix: str, output_mode: str
) -> DataFrame:
    """Drain the streaming ``df`` into a uuid-named memory sink, pin the
    settled result, and DROP the sink — repeated calls in one session
    (bench loops, retries) must not accumulate cached tables."""
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    drain(df.writeStream.format("memory").queryName(sink).outputMode(output_mode))
    out = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return out
