"""scripts/harness.py: the event-log timeline, the probe loaded by path,
and the timing CLI started outside the checkout."""

import json
import re
import subprocess
import sys
from pathlib import Path

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"
sys.path.insert(0, str(SCRIPTS))

import harness  # noqa: E402

from tests.conftest import TESTDATA  # noqa: E402


def _job(job_id, start, end):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": start, "Properties": {"callSite.short": f"job{job_id}"}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end},
    ]


def _stage(stage_id, start, end):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id, "Stage Name": f"stage{stage_id}",
        "Number of Tasks": 4, "Submission Time": start, "Completion Time": end}}


def test_timeline_reports_only_the_timed_run():
    t0 = 10_000
    events = [
        *_job(0, 1_000, 9_000), _stage(0, 1_000, 9_000),  # the untimed warmup
        *_job(1, t0 + 400, t0 + 900), _stage(1, t0 + 400, t0 + 900),
        *_job(2, t0 + 1_200, t0 + 1_500), _stage(2, t0 + 1_200, t0 + 1_500),
    ]
    lines = [json.dumps(e) for e in events] + ["not json"]
    tl = harness.timeline(lines, t0)
    assert [s["stage"] for s in tl["slowest_stages"]] == [1, 2]
    assert [j["job"] for j in tl["slowest_jobs"]] == [1, 2]
    assert tl["pre_first_job_s"] == 0.4
    assert tl["jobs_covered_s"] == 0.8
    assert tl["inter_job_gap_s"] == 0.3
    assert tl["top_gaps"][0]["gap_ms"] == 300


def test_probe_load_keeps_the_tree_package(tmp_path):
    """A session on another tree must import that tree's package even
    after loading this checkout's calibration probe."""
    (tmp_path / "presto_ethereum_spark").mkdir()
    (tmp_path / "presto_ethereum_spark" / "__init__.py").write_text("")
    code = (
        f"import harness; harness.use_tree({str(tmp_path)!r}); "
        "harness.load_probe(); import presto_ethereum_spark as p; print(p.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=SCRIPTS, capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr
    assert Path(out.stdout.strip()).parent.parent == tmp_path


def test_timing_cli_runs_outside_the_checkout(tmp_path):
    """Spark's Python workers must import the package (the stream source
    runs in them) when the CLI is started from another directory."""
    out = subprocess.run(
        [sys.executable, str(SCRIPTS / "time_battery.py"),
         str(TESTDATA / "sf0.001"), "stream_chain_gas", "--repeats", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stdout + out.stderr[-3000:]
    assert re.search(r"^stream_chain_gas +\d+\.\d+s", out.stdout, re.M), out.stdout
