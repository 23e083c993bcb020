"""The measured phase and the metrics derived from it.

End-to-end metrics (``--trace 0``), per workload:

- ``setup_s``: SparkSession start (JVM launch, once per run) plus the
  median of the run's three setups of input generation, registration
  with the session and warmup (see ``run.py``);
- ``ops_per_s``: ops completed per second of the measured phase;
- ``op_p50_s``: op wall time, median over cycles of each cycle's median
  op (``harness.cycle_median``; on a one-cycle run, the median op);
- ``op_tail_s``: op wall time at the highest percentile with at least ten
  samples beyond it, or the maximum up to 20 samples (rank and n are
  printed to stderr and kept in the summary artifact);
- ``point_p50_s``: median of the workload's narrowest op (chain_sql
  block-range lookups, chain_ingest ``read_ethereum_where`` island reads);
- ``scan_rows_per_s``: rows decoded per second by full-range scan ops,
  one pass over each scan kind at that kind's median time;
- ``ok_rate``: ops that completed with a correct result / ops attempted
  (1 - error rate; kept positive so a ratio against the parent exists);
- ``peak_rss_mb``: peak resident memory of the process tree (run.py).

Per-layer metrics (``--trace 1``) are listed in ``LAYER_METRICS``; a layer
the workload does not use reports 0.
"""

from __future__ import annotations

import json
import os
import sys
import time

from harness import cycle_median, median, phase_of, run_cycles, tail
from spans import StreamRecorder, Tracer, spark_jobs, union_s

LAYER_METRICS = {
    "session.start_s": "s",
    "setup.gen_s": "s",
    "setup.warm_s": "s",
    "plans.build_s": "s",
    "plans.catalyst_s": "s",
    "plans.exec_s": "s",
    "battery.build_s": "s",
    "decode.block_rows_per_s": "1/s",
    "decode.transaction_rows_per_s": "1/s",
    "decode.erc20_rows_per_s": "1/s",
    "pushdown.scan_ratio": "ratio",
    "node.posts": "count",
    "node.calls": "count",
    "node.mb_out": "MB",
    "node.busy_s": "s",
    "node.busy_share": "ratio",
    "rpc.calls_per_block": "ratio",
    "rpc.blocks_per_s": "1/s",
    "stream.query_starts": "count",
    "stream.batches": "count",
    "stream.pre_batch_s": "s",
    "stream.latestOffset_s": "s",
    "stream.addBatch_s": "s",
    "stream.walCommit_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.driver_gap_s": "s",
    "trace.ops_per_s": "1/s",
}

STREAM_ENTRY = "stream_balance_rpc_tail"


def _safe_div(a: float, b: float) -> float:
    return a / b if b else 0.0


def _scan_rate(workload, runs, table: str | None = None) -> float:
    """Rows per second over one pass of each scan kind (of ``table``, or
    of all tables), each kind timed at its median: a kind's rows are a
    constant, so medians make the rate robust to a single slow op."""
    kinds: dict[str, list] = {}
    for r in runs:
        t = r.op.scan_table
        if t and r.rows is not None and table in (None, t):
            kinds.setdefault(r.op.name, [t, []])[1].append(r.wall_s)
    rows = sum(workload.table_rows(t) for t, _ in kinds.values())
    return _safe_div(rows, sum(median(w) for _, w in kinds.values()))


def measure(bench, workload, spark, setups, hard_stop) -> dict:
    tracer = Tracer(bench.trace)
    streams = StreamRecorder(spark) if bench.trace else None
    node = getattr(workload, "node", None)
    if node is not None:
        node.get("reset")

    cycles = max(1, round(bench.seconds / workload.CYCLE_S))
    runs, measured_s = run_cycles(
        spark, workload.cycle, cycles, tracer, hard_stop
    )
    node_stats = node.get("stats") if node is not None else None

    spark.sparkContext.setJobGroup("verify", "reference checks")
    workload.verify(spark, runs)
    attempted = len(runs)
    ok = sum(r.ok for r in runs)
    for r in runs:
        if not r.ok:
            why = r.error or "wrong result"
            print(f"perfbench: {r.op.name} failed: {why}", file=sys.stderr)

    walls = [r.wall_s for r in runs]
    tail_v, tail_rank, n = tail(walls)
    summary = {
        "workload": workload.name,
        "seed": bench.seed,
        "cycles": cycles,
        "measured_s": measured_s,
        "op_tail_rank": tail_rank,
        "op_n": n,
        "setups": setups,
        "ops": [
            {
                "kind": r.op.name,
                "build_s": r.build_s,
                "plan_s": r.plan_s,
                "exec_s": r.exec_s,
                "ok": r.ok,
                "error": r.error,
                **r.op.params,
            }
            for r in runs
        ],
    }

    if not bench.trace:
        metrics = {
            "setup_s": (
                setups[0]["session"] + median(s["gen"] + s["warm"] for s in setups),
                "s",
            ),
            "ops_per_s": (_safe_div(attempted, measured_s), "1/s"),
            "op_p50_s": (cycle_median(runs), "s"),
            "op_tail_s": (tail_v, "s"),
            "point_p50_s": (median(r.wall_s for r in runs if r.op.point), "s"),
            "scan_rows_per_s": (_scan_rate(workload, runs), "1/s"),
            "ok_rate": (_safe_div(ok, attempted), "ratio"),
        }
    else:
        time.sleep(0.5)  # let the listener bus deliver the last events
        metrics = _layers(
            spark, bench, workload, runs, setups, measured_s, cycles,
            tracer, streams, node_stats,
        )
        tracer.write(
            os.path.join(
                bench.out_dir, f"trace-{workload.name}-seed{bench.seed}.json"
            )
        )
    summary["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(
        os.path.join(
            bench.out_dir,
            f"summary-{workload.name}-seed{bench.seed}-trace{int(bench.trace)}.json",
        ),
        "w",
    ) as f:
        json.dump(summary, f, indent=1)
    print(
        f"perfbench: {workload.name} seed={bench.seed} ops={attempted} "
        f"cycles={cycles} measured={measured_s:.2f}s "
        f"op_tail rank=p{tail_rank:.0f} n={n}",
        file=sys.stderr,
    )
    return {
        "correct": ok == attempted,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _layers(spark, bench, workload, runs, setups, measured_s, cycles,
            tracer, streams, node_stats) -> dict:
    vals: dict[str, float] = dict.fromkeys(LAYER_METRICS, 0.0)
    vals["session.start_s"] = setups[0]["session"]  # JVM launch included
    vals["setup.gen_s"] = median(s["gen"] for s in setups)
    vals["setup.warm_s"] = median(s["warm"] for s in setups)
    vals["plans.build_s"] = median(r.build_s for r in runs)
    vals["plans.catalyst_s"] = median(r.plan_s for r in runs)
    vals["plans.exec_s"] = median(r.exec_s for r in runs)
    entries = [r for r in runs if r.op.name == STREAM_ENTRY]
    vals["battery.build_s"] = median(r.build_s for r in entries)

    for table in ("block", "transaction", "erc20"):
        vals[f"decode.{table}_rows_per_s"] = _scan_rate(workload, runs, table)

    # Spark jobs: an op owns the jobs of its job group and any job that
    # started inside its interval (stream batches run under the query's
    # own group)
    jobs = spark_jobs(spark)
    per_op = []
    for r in runs:
        mine = [
            j for j in jobs
            if j["group"] == r.span or r.start - 0.01 <= j["start"] <= r.end + 0.01
        ]
        stages = {s["id"]: s for j in mine for s in j["stages"]}.values()
        for j in mine:
            tracer.add(
                "spark.job", j["start"], j["end"], phase_of(r, j["start"]),
                job=j["id"], tasks=j["tasks"],
                stages=[s["name"].split(" at ")[0] for s in j["stages"]],
            )
        busy = union_s(
            [(max(j["start"], r.start), min(j["end"], r.end)) for j in mine]
        )
        per_op.append(
            {
                "jobs": len(mine),
                "stages": len(stages),
                "tasks": sum(s["tasks"] for s in stages),
                "failures": sum(s["failed"] for s in stages),
                "shuffle_mb": sum(s["shuffle_write"] for s in stages) / 2**20,
                "spill_mb": sum(s["spill"] for s in stages) / 2**20,
                "gap_s": max(0.0, r.wall_s - busy),
                "input_records": sum(s["input_records"] for s in stages),
            }
        )
    k = len(per_op) or 1
    vals["spark.jobs"] = sum(p["jobs"] for p in per_op) / k
    vals["spark.stages"] = sum(p["stages"] for p in per_op) / k
    vals["spark.tasks"] = sum(p["tasks"] for p in per_op) / k
    vals["spark.task_failures"] = sum(p["failures"] for p in per_op)
    vals["spark.shuffle_write_mb"] = sum(p["shuffle_mb"] for p in per_op) / k
    vals["spark.spill_mb"] = sum(p["spill_mb"] for p in per_op) / k
    vals["spark.driver_gap_s"] = median(p["gap_s"] for p in per_op)
    ratios = [
        p["input_records"] / r.op.range_rows
        for r, p in zip(runs, per_op)
        if r.op.range_rows and p["input_records"]
    ]
    vals["pushdown.scan_ratio"] = median(ratios)

    # stream queries and micro-batches, per stream_balance_rpc_tail op
    per_stream = []
    for r in runs:
        starts, batches = streams.between(r.start - 0.01, r.end + 0.01)
        queries = {}
        for s in starts:
            ends = [
                b["t"] + b["ms"].get("triggerExecution", 0) / 1000
                for b in batches if b["run_id"] == s["run_id"]
            ]
            queries[s["run_id"]] = tracer.add(
                "stream.query", s["t"], max(ends, default=s["t"]),
                phase_of(r, s["t"]), run_id=s["run_id"],
            )
        for b in batches:
            tracer.add(
                "stream.batch", b["t"], b["t"] + b["ms"].get("triggerExecution", 0) / 1000,
                queries[b["run_id"]], batch=b["batch"], rows=b["rows"], **b["ms"],
            )
        if r.op.name != STREAM_ENTRY:
            continue
        first = {}
        for b in batches:
            first[b["run_id"]] = min(first.get(b["run_id"], b["t"]), b["t"])
        pre = sum(first[s["run_id"]] - s["t"] for s in starts if s["run_id"] in first)
        per_stream.append(
            {
                "starts": len(starts),
                "batches": sum(1 for b in batches if b["rows"]),
                "pre": pre,
                **{
                    key: sum(b["ms"].get(key, 0) for b in batches) / 1000
                    for key in ("latestOffset", "addBatch", "walCommit")
                },
            }
        )
    if per_stream:
        vals["stream.query_starts"] = median(p["starts"] for p in per_stream)
        vals["stream.batches"] = median(p["batches"] for p in per_stream)
        vals["stream.pre_batch_s"] = median(p["pre"] for p in per_stream)
        for key in ("latestOffset", "addBatch", "walCommit"):
            vals[f"stream.{key}_s"] = median(p[key] for p in per_stream)

    if node_stats is not None:
        c = cycles or 1
        vals["node.posts"] = node_stats["posts"] / c
        vals["node.calls"] = node_stats["calls"] / c
        vals["node.mb_out"] = node_stats["bytes_out"] / 2**20 / c
        vals["node.busy_s"] = node_stats["busy_s"] / c
        vals["node.busy_share"] = _safe_div(node_stats["busy_s"], measured_s)
        rpc = [r for r in runs if r.op.blocks]
        blocks = sum(r.op.blocks for r in rpc)
        vals["rpc.calls_per_block"] = _safe_div(node_stats["calls"], blocks)
        vals["rpc.blocks_per_s"] = _safe_div(blocks, sum(r.wall_s for r in rpc))

    vals["trace.ops_per_s"] = _safe_div(len(runs), measured_s)
    return {k: (v, LAYER_METRICS[k]) for k, v in vals.items()}
