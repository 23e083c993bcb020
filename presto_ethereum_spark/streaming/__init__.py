"""Structured Streaming surface: chain-head tailing + windowed event aggs.

Every run-to-completion query in the package goes through :func:`drain`
(or :func:`settle_to_memory`, its memory-sink form).  A parquet input
replayed as micro-batches is staged by :func:`staged_stream`, and every
``foreachBatch`` state table is kept by :func:`fold_generations`."""

from __future__ import annotations

import glob
import os
import re
import uuid
from collections.abc import Callable, Iterable

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


def staged_stream(
    df: DataFrame, key: str, n: int, root: str, splits: Iterable[int] | None = None
) -> DataFrame:
    """Write ``df`` under ``root`` as ``n`` single-file splits cut at equal
    ranges of the integer column ``key`` (from its min to its max; NULL
    keys go to split 0), and return the stream that reads them one file
    per micro-batch, in split order.

    ``splits`` stages only the listed splits; a later call with the rest
    appends them to the same stream, whose checkpoint skips the files it
    already read.  Ranges, not a hash of the key, so every prefix of the
    splits is a prefix of the key order (a prefix of the chain for block
    numbers)."""
    from pyspark.sql import functions as F

    col = F.col(key)
    cuts: list[int] = []
    if n > 1:
        # one task, like each split's write below: no exchange, one job
        lo, hi = df.coalesce(1).agg(F.min(col), F.max(col)).first()
        lo, hi = lo or 0, hi or 0
        step = max(1, -(-(hi - lo + 1) // n))
        cuts = [lo + i * step for i in range(1, n)]
    for i in range(n) if splits is None else splits:
        # open outer splits: every non-NULL key lands in exactly one
        below = col < cuts[i] if i < n - 1 else F.lit(True)
        part = df.where(below & (col >= cuts[i - 1]) if i else below | col.isNull())
        part.coalesce(1).write.mode("overwrite").parquet(f"{root}/split_{i}")
    return (
        df.sparkSession.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(root)
    )


def fold_generations(
    source: DataFrame,
    fold: Callable[[DataFrame, DataFrame | None], DataFrame],
    root: str,
) -> str | None:
    """Drain ``source`` through ``foreachBatch``: batch ``b`` writes
    ``fold(batch, previous_generation_or_None)`` to the parquet generation
    ``root/gen_b``.  Returns the last generation's path (None when no
    batch ran).

    The stream checkpoint lives at ``root/_chk``, next to the generations:
    the two must be kept or lost together, as either one alone drops or
    double-counts batches.  A call on a ``root`` that already holds generations
    resumes from the ``_SUCCESS``-marked ones, so a torn write from a
    killed run is never read.  A replayed batch id folds from the last
    generation that is not its own, so the write is idempotent per
    (state, batch) pair."""
    root = os.path.abspath(root)
    found = []
    for g in glob.glob(f"{root}/gen_*"):
        m = re.fullmatch(r"gen_(\d+)", os.path.basename(g))
        if m and os.path.exists(f"{g}/_SUCCESS"):
            found.append((int(m.group(1)), g))
    # batch ids keep increasing across restarts: the checkpoint continues
    # the numbering
    gens = [g for _, g in sorted(found)]

    def write(batch: DataFrame, batch_id: int) -> None:
        out = f"{root}/gen_{batch_id}"
        prior = [g for g in gens if g != out]
        prev = batch.sparkSession.read.parquet(prior[-1]) if prior else None
        fold(batch, prev).write.mode("overwrite").parquet(out)
        if out not in gens:
            gens.append(out)

    drain(
        source.writeStream.foreachBatch(write).option(
            "checkpointLocation", f"{root}/_chk"
        )
    )
    return gens[-1] if gens else None
