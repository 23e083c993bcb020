#!/usr/bin/env python3
"""Environment-robustness audit: the full oracle battery must hash-match
under session configurations the engine does NOT control when the driver
builds its own SparkSession.

Modes (pass one or more as arguments; default: all four):
  tz       — session timezone America/New_York instead of UTC
             (catches TIMESTAMP_LTZ leaks: date_trunc / unix_timestamp /
             timestamp_micros on the wrong type shift values silently)
  shuffle  — spark.sql.shuffle.partitions=7 instead of 32
             (catches partition-order-dependent float accumulation that
             the DECIMAL / fixed-point / round() discipline must prevent)
  ansi     — spark.sql.ansi.enabled=false + legacy.sizeOfNull
             (catches results that silently depend on ANSI guards:
             size(NULL) = -1, wrapping integer arithmetic, lenient casts)
  split    — spark.sql.files.maxPartitionBytes=131072 (+openCostInBytes=0)
             so every scan fans out into many tiny input splits — the
             batch analogue of the streaming micro-batch split-invariance
             tests (catches partition-count/-boundary-dependent results:
             first/any_value without a frame, per-partition RNG or
             monotonically_increasing_id leaks, map-side fold order)

Usage: python3 scripts/audit_robustness.py [tz|shuffle ...] [--sf DIR]
           [--queries q1,q2,...]   (default: the full battery)
"""

from __future__ import annotations

import sys

from check_battery import check

# the Spark confs of each mode, on top of get_spark's defaults
MODES = {
    "tz": {"spark.sql.session.timeZone": "America/New_York"},
    "shuffle": {"spark.sql.shuffle.partitions": "7"},
    # legacy non-ANSI mode: integer overflow wraps silently, size(NULL)
    # returns -1 (legacy.sizeOfNull), casts are lenient — the divergence
    # class the r8 review found in quality_survival_curve's token column
    # (ANSI default hid it); this mode makes the whole battery prove its
    # results don't depend on ANSI guards
    "ansi": {
        "spark.sql.ansi.enabled": "false",
        "spark.sql.legacy.sizeOfNull": "true",
    },
    "split": {
        "spark.sql.files.maxPartitionBytes": "131072",
        "spark.sql.files.openCostInBytes": "0",
    },
}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    queries: list[str] = []
    if "--queries" in args:
        i = args.index("--queries")
        queries = [q for q in args[i + 1].split(",") if q]
        del args[i : i + 2]
    failures = 0
    for mode in args or list(MODES):
        print(f"=== audit mode: {mode} ===")
        # check() stops its session: each mode starts a fresh one
        failures += bool(check(sf_dir, set(queries), MODES[mode]))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
