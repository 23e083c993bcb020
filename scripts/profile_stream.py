#!/usr/bin/env python3
"""Event-log profile of ONE battery entry: where does the wall time of a
(streaming) entry go — executed jobs, or the gaps between them
(micro-batch planning, Python-source offset negotiation, checkpoint
commits, driver-side sequencing)?

Times one warm run of the entry (after an untimed warmup) in a fresh
session with the Spark event log on, then reports from the log, for the
timed run only:

- per-job wall (submission -> completion) with its job description,
- total covered-by-jobs time vs end-to-end wall, and the time before the
  first job (DataFrame construction, planning, query start),
- the largest inter-job gaps with the jobs they separate,
- the slowest stages.

Usage: python3 scripts/profile_stream.py <query> [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

import harness


def main() -> None:
    query = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out_path = Path(sys.argv[3]) if len(sys.argv) > 3 else None

    with tempfile.TemporaryDirectory(prefix="evlog_") as evdir:
        spark = harness.session(
            extra_conf={
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{evdir}",
                # one plain JSON file, so the parse needs no codec
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
        from presto_ethereum_spark.plans import battery

        fn = battery.queries()[query]
        harness.warm(spark, sf_dir)
        run = harness.time_entry(spark, lambda: harness.noop(fn(spark, sf_dir)), 1)
        app_id = spark.sparkContext.applicationId
        spark.stop()
        lines = next(Path(evdir).glob(f"*{app_id}*")).read_text().splitlines()

    report = {
        "query": query,
        "wall_s": run["median"],
        **harness.timeline(lines, run["t0_ms"]),
    }
    text = json.dumps(report, indent=1)
    print(text)
    if out_path:
        out_path.write_text(text + "\n")


if __name__ == "__main__":
    main()
