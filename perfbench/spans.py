"""Spans and layer counters for the traced benchmark run.

Everything here is recorded from the benchmark's side of the package
boundary, around its calls into each layer:

- op spans and their build / plan / exec children come from the client's
  own clock (``harness.run_op``);
- Spark job and stage spans come from the Spark driver's status store
  (``AppStatusStore``), read after the measured phase so that reading them
  never sits inside an op;
- stream query and micro-batch spans come from a ``StreamingQueryListener``.

Spans are kept in memory and written as one JSON artifact at the end:
``{"spans": [{"id", "parent", "name", "start", "end", "attrs"}...]}`` with
times in seconds since the epoch.  Spans of one op share the op's id as
their root.
"""

from __future__ import annotations

import datetime as _dt
import json
import threading


def _iso_s(ts: str) -> float:
    """Spark's ISO-8601 UTC event timestamps -> epoch seconds."""
    return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._n = 0

    def new_id(self, prefix: str) -> str:
        self._n += 1
        return f"{prefix}-{self._n}"

    def add(self, name, start, end, parent=None, span_id=None, **attrs) -> str:
        span_id = span_id or self.new_id("s")
        if self.enabled:
            self.spans.append(
                {
                    "id": span_id,
                    "parent": parent,
                    "name": name,
                    "start": start,
                    "end": end,
                    "attrs": attrs,
                }
            )
        return span_id

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


class StreamRecorder:
    """Collects query starts and micro-batch progress from a
    ``StreamingQueryListener`` (events arrive asynchronously)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.lock = threading.Lock()
        self.starts: list[dict] = []
        self.batches: list[dict] = []
        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with rec.lock:
                    rec.starts.append(
                        {"run_id": str(event.runId), "t": _iso_s(event.timestamp)}
                    )

            def onQueryProgress(self, event):
                p = event.progress
                with rec.lock:
                    rec.batches.append(
                        {
                            "run_id": str(p.runId),
                            "batch": p.batchId,
                            "t": _iso_s(p.timestamp),
                            "rows": p.numInputRows,
                            "ms": dict(p.durationMs),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def between(self, t0: float, t1: float) -> tuple[list[dict], list[dict]]:
        """Queries started in [t0, t1] (an op's interval; ops run one at
        a time) and every micro-batch of those queries."""
        with self.lock:
            starts = [s for s in self.starts if t0 <= s["t"] <= t1]
            runs = {s["run_id"] for s in starts}
            batches = [b for b in self.batches if b["run_id"] in runs]
        return starts, batches


def spark_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its stages' counters."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, end = j.submissionTime(), j.completionTime()
        if sub.isEmpty() or end.isEmpty():
            continue
        group = j.jobGroup()
        stage_ids = j.stageIds()
        stages = []
        for k in range(stage_ids.size()):
            try:
                s = store.lastStageAttempt(stage_ids.apply(k))
            except Py4JJavaError:  # evicted from the store
                continue
            if s.submissionTime().isEmpty():
                continue  # skipped: its output was reused
            stages.append(
                {
                    "id": s.stageId(),
                    "name": s.name(),
                    "tasks": s.numTasks(),
                    "failed": s.numFailedTasks(),
                    "input_records": s.inputRecords(),
                    "shuffle_write": s.shuffleWriteBytes(),
                    "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "run_ms": s.executorRunTime(),
                }
            )
        out.append(
            {
                "id": j.jobId(),
                "group": None if group.isEmpty() else group.get(),
                "start": sub.get().getTime() / 1000.0,
                "end": end.get().getTime() / 1000.0,
                "tasks": j.numTasks(),
                "failed": j.numFailedTasks(),
                "stages": stages,
            }
        )
    return sorted(out, key=lambda j: j["id"])


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
