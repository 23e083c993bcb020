"""Streaming multimodal ingest: decode media micro-batches as they land.

The standing-pipeline shape for an image crawl: blobs arrive in batches
(here: the fixture parquet staged by streaming.staged_stream), each
micro-batch runs the REAL PNG decode (operators/png.decode_png via
multimodal.png_decode_stats) inside foreachBatch, and the decoded stats
append to a result table that must settle to EXACTLY the batch decode of
the whole corpus — decode is per-row pure, so the settled result is
split-invariant by construction (no merge algebra needed, unlike the
additive balance ledger).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from presto_ethereum_spark.streaming import drain, staged_stream


def run_png_ingest(spark, path: str, splits: int = 3):
    """Stream ``path`` (an images parquet with media_id + png columns) as
    ``splits`` media_id-range micro-batches, decode each batch for real,
    append to a parquet result, return the settled stats table.

    Scale: per-batch work is the embarrassingly parallel decode kernel;
    the append sink is partition-local writes (no shuffle at all — the
    one pipeline in the streaming family with zero exchanges)."""
    from presto_ethereum_spark.operators.multimodal import png_decode_stats

    path = os.path.abspath(path)
    root = tempfile.mkdtemp(prefix="png_ingest_")
    try:
        source = staged_stream(
            spark.read.parquet(path), "media_id", splits, f"{root}/input"
        )
        out = f"{root}/decoded"

        def decode_batch(batch_df, batch_id: int) -> None:
            png_decode_stats(batch_df).write.mode("append").parquet(out)

        drain(
            source.writeStream.foreachBatch(decode_batch).option(
                "checkpointLocation", f"{root}/_chk"
            )
        )
        return spark.read.parquet(out).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
