"""Streaming multimodal ingest: decode media micro-batches as they land.

The standing-pipeline shape for an image crawl: blobs arrive in batches
(here: the fixture parquet re-staged as N files, one per trigger — the
same staging device as run_balance_upsert), each micro-batch runs the REAL
PNG decode (operators/png.decode_png via multimodal.png_decode_stats)
inside foreachBatch, and the decoded stats append to a result table that
must settle to EXACTLY the batch decode of the whole corpus — decode is
per-row pure, so the settled result is split-invariant by construction
(no merge algebra needed, unlike the additive balance ledger).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from presto_ethereum_spark.streaming import drain


def run_png_ingest(spark, path: str, splits: int = 3):
    """Stream ``path`` (an images parquet with media_id + png columns) as
    ``splits`` micro-batches (maxFilesPerTrigger=1), decode each batch
    for real, append to a parquet result, return the settled stats table.

    Scale: per-batch work is the embarrassingly parallel decode kernel;
    the append sink is partition-local writes (no shuffle at all — the
    one pipeline in the streaming family with zero exchanges)."""
    from presto_ethereum_spark.operators.multimodal import png_decode_stats

    path = os.path.abspath(path)
    root = tempfile.mkdtemp(prefix="png_ingest_")
    try:
        imgs = spark.read.parquet(path)
        schema = imgs.schema
        n = imgs.count()
        # split on pmod(media_id, splits) — a total partitioning of the
        # id domain, so sparse / non-dense / negative ids all land in
        # exactly one staged batch (id-RANGE staging silently dropped
        # ids outside [0, splits*step) when ids weren't dense 0..n-1)
        staged = 0
        for i in range(splits):
            part = imgs.where(F.pmod(F.col("media_id"), F.lit(splits)) == i)
            staged += part.count()
            part.coalesce(1).write.mode("overwrite").parquet(
                f"{root}/input/part_{i}"
            )
        if staged != n:
            raise AssertionError(
                f"staging lost rows: staged {staged} of {n}"
            )
        out = f"{root}/decoded"

        def decode_batch(batch_df, batch_id: int) -> None:
            png_decode_stats(batch_df).write.mode("append").parquet(out)

        drain(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .parquet(f"{root}/input")
            .writeStream.foreachBatch(decode_batch)
            .option("checkpointLocation", f"{root}/_chk")
        )
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
