"""The one timing/profiling harness behind the dev scripts.

Each mechanism lives here once: a session on a given checkout, the noop
run contract, the table warm, warm-median timing, the calibration-probe
median, the child interpreter, the event-log timeline and the
formatted-plan text.  ``time_battery.py``, ``plan_audit.py``,
``profile_stream.py`` and ``check_battery.py`` are thin CLIs over it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = str(Path(__file__).resolve().parent.parent)
# full passes over the big tables first: parquet footers, decode and the
# Python worker pool are then warm, so no timed entry pays first touch
WARM_TABLES = ("documents", "embeddings", "lineitem", "events")


def use_tree(root: str = ROOT) -> None:
    """Import ``presto_ethereum_spark`` from ``root``: first on the driver's
    ``sys.path`` and on the ``PYTHONPATH`` that Spark's Python workers
    inherit through the JVM (set before the session starts)."""
    sys.path.insert(0, root)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def session(root: str = ROOT, extra_conf: dict[str, str] | None = None):
    """A Spark session whose driver and workers run the package at ``root``."""
    use_tree(root)
    from presto_ethereum_spark.session import get_spark

    spark = get_spark(extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    """The one run contract: compute every row, collect nothing."""
    df.write.mode("overwrite").format("noop").save()


def warm(spark, sf_dir: str) -> None:
    for name in WARM_TABLES:
        noop(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def time_entry(spark, run, repeats: int) -> dict:
    """One untimed warmup of ``run()``, then ``repeats`` timed runs, each
    after a GC drain of the driver JVM (in local mode every executor lives
    there).  Returns the median, the ``[min, max]`` spread and ``t0_ms``,
    the epoch milliseconds at which the first timed run started."""
    run()
    samples: list[float] = []
    t0_ms = None
    for _ in range(repeats):
        spark.sparkContext._jvm.System.gc()
        t0_ms = t0_ms or int(time.time() * 1000)
        t0 = time.perf_counter()
        run()
        samples.append(round(time.perf_counter() - t0, 3))
    samples.sort()
    return {
        "median": round(statistics.median(samples), 3),
        "spread": [samples[0], samples[-1]],
        "t0_ms": t0_ms,
    }


def load_probe():
    """``bench.calibration_probe`` of this checkout, loaded by path: a
    session on another tree times the identical frozen probe, and loading
    it leaves ``sys.path`` alone."""
    spec = importlib.util.spec_from_file_location("bench", f"{ROOT}/bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench.calibration_probe


def probe_median(spark) -> float:
    """The session's host-speed unit: warm, then 3 timed probe runs."""
    probe = load_probe()
    return time_entry(spark, lambda: probe(spark), 3)["median"]


def run_child(argv: list[str], env: dict[str, str] | None = None) -> dict:
    """Run ``python argv`` and return the JSON object on the last stdout
    line that starts with ``{``; raise with the stderr tail on failure."""
    p = subprocess.run(
        [sys.executable, *argv], capture_output=True, text=True, env=env
    )
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode or not lines:
        raise RuntimeError(f"{argv} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def timeline(lines, t0_ms: int) -> dict:
    """Jobs, gaps and stages from Spark event-log JSON ``lines``, keeping
    only what was submitted at or after ``t0_ms`` (the timed run, not its
    warmup)."""
    jobs: dict[int, dict] = {}
    stages: list[dict] = []
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and ev["Submission Time"] >= t0_ms:
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "job": ev["Job ID"],
                "t0": ev["Submission Time"],
                "desc": props.get(
                    "spark.job.description", props.get("callSite.short", "")
                )[:120],
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time", -1) >= t0_ms:
                stages.append(
                    {
                        "stage": si["Stage ID"],
                        "name": si["Stage Name"][:80],
                        "tasks": si["Number of Tasks"],
                        "ms": si.get("Completion Time", 0) - si["Submission Time"],
                    }
                )

    done = sorted((j for j in jobs.values() if "t1" in j), key=lambda j: j["t0"])
    for j in done:
        j["ms"] = j["t1"] - j["t0"]
    covered = sum(j["ms"] for j in done) / 1000
    gaps = [
        {
            "gap_ms": nxt["t0"] - prev["t1"],
            "after_job": prev["job"],
            "after_desc": prev["desc"],
            "before_job": nxt["job"],
            "before_desc": nxt["desc"],
        }
        for prev, nxt in zip(done, done[1:])
        if nxt["t0"] > prev["t1"]
    ]
    span = (done[-1]["t1"] - done[0]["t0"]) / 1000 if done else 0.0
    return {
        "n_jobs": len(done),
        "jobs_covered_s": round(covered, 3),
        "job_span_s": round(span, 3),
        "inter_job_gap_s": round(max(0.0, span - covered), 3),
        "pre_first_job_s": round((done[0]["t0"] - t0_ms) / 1000, 3) if done else None,
        "top_gaps": sorted(gaps, key=lambda g: -g["gap_ms"])[:15],
        "slowest_jobs": sorted(done, key=lambda j: -j["ms"])[:15],
        "slowest_stages": sorted(stages, key=lambda s: -s["ms"])[:10],
    }


def plan_text(df) -> str:
    """``df.explain("formatted")`` as a string."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
