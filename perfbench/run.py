"""Seeded end-to-end benchmark of presto_ethereum_spark.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload chain_sql --seed 1 --seconds 21 --trace 0

Workloads (see ``workloads.py``): ``chain_sql`` and ``chain_ingest``.  One
client in one process runs a closed loop of ops on ``local[nproc]``; ops
are calls into the package's public functions.

A run:

1. starts the SparkSession (JVM launch), then sets up three times:
   generate the inputs from the seed, register them with the session and
   warm up.  ``setup_s`` is the session start plus the median of the
   three setups; starting a JVM per setup would cost about 20 s each.
   After the first setup the workload primes the op kinds whose first
   touch in a JVM is expensive (``Workload.prime``), so no measured op
   pays it;
2. measures the whole number of cycles of the workload's op mix nearest
   to ``--seconds``: ``round(--seconds / Workload.CYCLE_S)``, at least
   one, where ``CYCLE_S`` is the cycle's measured length on 4 cores
   (about 3 s for ``chain_sql``, 31 s for ``chain_ingest``).  A fixed op
   count keeps the sample count, and so the tail rank, the same in
   every run;
3. checks every op's result against a reference computed outside the
   program's code path (wrong or failed ops count against ``ok_rate``);
4. prints one JSON line last on stdout:
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop with a stream listener attached, reads Spark's status store after
the measured phase, reports the per-layer metrics, and writes every span
(op -> build/plan/exec -> Spark job / stream batch) to
``.perfbench_out/trace-<workload>-seed<seed>.json``.  Tracing overhead is
the untraced ``ops_per_s`` against the traced ``trace.ops_per_s``.

All scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit; every child process (JVM, Python workers, the fake RPC
node) is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

SETUPS = 3
RUN_LIMIT_S = 150  # no new op starts after this much wall time


def _ncpu() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


class Bench:
    def __init__(self, root: str, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.ncpu = _ncpu()
        self.work = os.path.join(
            root, ".perfbench_work", f"{args.workload}-{os.getpid()}"
        )
        self.out_dir = os.path.join(root, ".perfbench_out")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)
        # Spark's Python workers import the package (the ethereum data
        # source, pandas UDFs): they inherit PYTHONPATH from the JVM, which
        # inherits it from here
        path = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.ncpu)
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # every JVM (Spark's launcher and driver JVMs) keeps its temp files
        # (native libraries, perf data) out of /tmp
        java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        prior = os.environ.get("JAVA_TOOL_OPTIONS")
        os.environ["JAVA_TOOL_OPTIONS"] = f"{prior} {java_opts}" if prior else java_opts
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        self.env = dict(os.environ)
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }

    def setup_dir(self, k: int) -> str:
        d = os.path.join(self.work, f"setup{k}")
        os.makedirs(d, exist_ok=True)
        return d

    def start_session(self):
        from presto_ethereum_spark import get_spark

        spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "presto_ethereum_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from harness import RssSampler, descendants, reap
    from measure import measure
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t_run = time.perf_counter()
    bench = Bench(root, args)
    rss = RssSampler().start()
    workload = WORKLOADS[args.workload](bench)
    spark = None
    try:
        setups = []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            if spark is None:
                spark = bench.start_session()
            t1 = time.perf_counter()
            gen_s, warm_s = workload.setup(spark, k)
            t2 = time.perf_counter()
            if k == 0:
                workload.prime(spark)
            setups.append(
                {
                    "total": time.perf_counter() - t0,
                    "session": t1 - t0,
                    "gen": gen_s,
                    "warm": warm_s,
                    "prime": time.perf_counter() - t2,
                }
            )
        result = measure(bench, workload, spark, setups, t_run + RUN_LIMIT_S)
    finally:
        workload.close()
        children = descendants(os.getpid())
        if spark is not None:
            _stop_jvm(spark)
        peak_mb = rss.stop()
        reap(children)
        shutil.rmtree(bench.work, ignore_errors=True)
    if not bench.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
