#!/usr/bin/env python3
"""Warm-median wall time of battery entries (noop write; one untimed
warmup, then N timed runs with a GC drain before each).

    time_battery.py sf_dir [entry ...] [--repeats N] [--out FILE]
        one session on this checkout, the slowest entry first; all entries
        if none are named.
    ... --cpus HIGH,LOW
        a fresh session per core count, both with HIGH shuffle partitions
        (so only the core count differs); reports each entry's LOW/HIGH
        median ratio (well above 1: its work spreads over cores; about 1:
        serial or fixed overhead at this scale) and the partition count.
    ... --baseline COMMIT
        per entry, a fresh session on this checkout, then one on a git
        worktree of COMMIT, back to back.  Reports the paired normalized
        ratio (median / session probe median here, over the same on
        COMMIT): host speed divides out, so about 1.0 means host drift.

Exits 1 if any entry fails.  ``--out`` also writes the report as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

import harness


def measure(root: str, args, probe: bool = False) -> dict:
    """Time the entries (all if none are named) in one session on ``root``;
    with ``probe``, also the session's calibration-probe median and its
    shuffle partition count.  Under ``--cpus HIGH,LOW`` the session shuffles
    into HIGH partitions whatever its core count."""
    conf = {"spark.sql.shuffle.partitions": str(args.cpus[0])} if args.cpus else None
    spark = harness.session(root, conf)
    from presto_ethereum_spark.plans import battery

    qs, sf = battery.queries(), args.sf_dir
    harness.warm(spark, sf)
    out = {}
    if probe:
        out["probe"] = harness.probe_median(spark)
        out["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for name in args.entries or qs:
        try:
            out[name] = harness.time_entry(
                spark, lambda: harness.noop(qs[name](spark, sf)), args.repeats
            )
        except Exception as exc:  # keep timing the rest
            out[name] = {"error": f"{type(exc).__name__}: {str(exc)[:300]}"}
        print(f"# {name}: {out[name]}", file=sys.stderr, flush=True)
    return out


def child(args, root: str, names: list[str], cpus: int | None = None) -> dict:
    """``measure(root, ..., probe=True)`` in a fresh interpreter."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus)) if cpus else None
    argv = [__file__, args.sf_dir, *names, "--repeats", str(args.repeats)]
    if args.cpus:
        argv += ["--cpus", ",".join(map(str, args.cpus))]
    return harness.run_child([*argv, "--child", root], env)


def scaling(args) -> list[dict]:
    high, low = args.cpus
    runs = {c: child(args, harness.ROOT, args.entries, c) for c in (high, low)}
    report = []
    session_keys = ("probe", "shuffle_partitions")
    for q in [q for q in runs[high] if q not in session_keys]:
        hi, lo = runs[high][q].get("median"), runs[low][q].get("median")
        report.append(
            {
                "entry": q,
                "shuffle_partitions": {
                    f"c{c}": runs[c]["shuffle_partitions"] for c in (high, low)
                },
                f"c{high}": runs[high][q],
                f"c{low}": runs[low][q],
                "ratio": round(lo / hi, 3) if lo and hi else None,
            }
        )
    return report


def paired(args) -> list[dict]:
    base_root = tempfile.mkdtemp(prefix="baseline_")
    git = ["git", "-C", harness.ROOT, "worktree"]
    subprocess.run([*git, "add", "--detach", base_root, args.baseline], check=True)
    report = []
    try:
        for q in args.entries:
            # back to back, so both sessions share one host window
            head = child(args, harness.ROOT, [q])
            base = child(args, base_root, [q])
            h, b = head[q].get("median"), base[q].get("median")
            report.append(
                {
                    "entry": q,
                    "baseline": args.baseline,
                    "head": {**head[q], "probe": head["probe"]},
                    "base": {**base[q], "probe": base["probe"]},
                    "ratio": round(h / head["probe"] / (b / base["probe"]), 3)
                    if h and b
                    else None,
                }
            )
            print(json.dumps(report[-1]), file=sys.stderr, flush=True)
    finally:
        subprocess.run([*git, "remove", "--force", base_root], check=True)
    return report


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("entries", nargs="*")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--cpus", type=lambda s: [int(c) for c in s.split(",")])
    ap.add_argument("--baseline")
    ap.add_argument("--out")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.baseline and not args.entries:
        ap.error("--baseline needs the entries to pair")

    if args.child:
        print(json.dumps(measure(args.child, args, probe=True)))
        return
    if args.cpus or args.baseline:
        report = scaling(args) if args.cpus else paired(args)
        failed = [r["entry"] for r in report if r["ratio"] is None]
        print("\n".join(json.dumps(r) for r in report))
    else:
        runs = measure(harness.ROOT, args)
        report = sorted(
            ({"entry": q, **r} for q, r in runs.items()),
            key=lambda r: -r.get("median", 0),
        )
        failed = [r["entry"] for r in report if "error" in r]
        for r in report:
            timing = f"{r['median']:7.2f}s  {r['spread']}" if "median" in r else ""
            print(f"{r['entry']:36s} {timing or 'FAIL ' + r['error']}")
        print(f"\n{len(report)} entries, {len(failed)} failing")
    if args.out:
        with open(args.out, "w") as f:
            f.write(json.dumps(report, indent=1) + "\n")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
