"""The Python worker daemon: Arrow workers fork with pandas already loaded."""

from __future__ import annotations

import subprocess
import sys

import pytest
from pyspark.sql import functions as F

DAEMON = "presto_ethereum_spark.worker_daemon"


@pytest.mark.parametrize(
    "worker_module, preloaded",
    [("pyspark.worker", True), ("pyspark.sql.worker.plan_data_source_read", False)],
)
def test_daemon_preloads_pandas_for_arrow_workers_only(worker_module, preloaded):
    # import the daemon module as ``python -m`` would, without starting it
    code = (
        "import sys\n"
        f"sys.argv = ['{DAEMON}', '{worker_module}']\n"
        f"import {DAEMON}\n"
        "print('pandas' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    ).stdout
    assert out.strip() == str(preloaded)


def test_session_workers_fork_from_the_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == DAEMON

    @F.udf("string")
    def daemon_main(_):
        import sys

        return sys.modules["__main__"].__spec__.name

    assert spark.range(1).select(daemon_main("id")).first()[0] == DAEMON
