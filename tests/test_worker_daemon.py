"""The Python worker daemon: Arrow workers fork with pandas already loaded."""

from __future__ import annotations

import importlib
import subprocess
import sys
import zipfile
import zipimport

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


def _reads_probe():
    """A function returning ``(zip directory reads, zip importers)`` of one
    ``importlib.invalidate_caches()`` in the process that calls it; nested,
    so Spark pickles it by value into planners and workers."""

    def reads_on_invalidate() -> tuple[int, int]:
        import importlib
        import sys
        import zipimport

        read = zipimport._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        return len(reads), importers

    return reads_on_invalidate


def test_zip_directory_is_reread_only_when_the_archive_changes(tmp_path, monkeypatch):
    from presto_ethereum_spark import zipcache

    zipcache.install()
    reads_on_invalidate = _reads_probe()
    archive = tmp_path / "zipcache_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_probe_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zipcache_probe_a", "zipcache_probe_b", "zipcache_probe_c"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipcache_probe_a").X == 1
    importer = sys.path_importer_cache[str(archive)]

    assert reads_on_invalidate()[0] == 0

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipcache_probe_a.py", "X = 1\n")
        z.writestr("zipcache_probe_b.py", "X = 2\n")
    assert reads_on_invalidate()[0] == 1
    assert importlib.import_module("zipcache_probe_b").X == 2
    assert reads_on_invalidate()[0] == 0

    # the stock failure: an empty importer, no cached directory
    archive.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zipcache_probe_c")


def test_planner_calls_and_worker_tasks_reuse_zip_directories(spark):
    from pyspark.sql.datasource import DataSourceReader, InputPartition

    from presto_ethereum_spark.sources.rpc import EthereumDataSource

    reads_on_invalidate = _reads_probe()

    class Planned(InputPartition):
        def __init__(self, reads, importers):
            self.reads, self.importers = reads, importers

    class ZipReadsReader(DataSourceReader):
        def partitions(self):
            return [Planned(*reads_on_invalidate())]

        def read(self, partition):
            yield partition.reads, partition.importers

    # a package data source, as planners see it: unpickling it imports
    # the package, which is what installs zipcache in a planner process
    class ZipReadsSource(EthereumDataSource):
        @classmethod
        def name(cls):
            return "zipcache-probe"

        def schema(self):
            return "reads int, importers int"

        def reader(self, schema):
            return ZipReadsReader()

    @F.udf("struct<reads:int,importers:int>")
    def worker_reads(_):
        return reads_on_invalidate()

    spark.dataSource.register(ZipReadsSource)
    planner = spark.read.format("zipcache-probe").load().first()
    worker = spark.range(1).select(worker_reads("id").alias("r")).first().r
    # both processes hold pyspark.zip importers (about 15 re-reads each
    # without zipcache) and re-read none of them
    assert (planner.reads, worker.reads) == (0, 0)
    assert planner.importers > 0 and worker.importers > 0
