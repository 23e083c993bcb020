"""SparkSession bootstrap tuned for this engine.

Defaults target local[N] testing but are chosen to survive a large cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
explicit shuffle partitioning, Arrow enabled for the few Pandas-UDF paths,
UTC session timezone so timestamp semantics are environment-independent.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "presto-ethereum-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass ``master=None`` with a pre-set spark-submit master
    and these confs act only as app-level tuning.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan/coalesce the output partitioning of cached plans:
        # iterative operators (pagerank, connected components) persist loop
        # invariants, and without this flag every downstream stage inherits
        # the full spark.sql.shuffle.partitions task count even when the
        # cached data is tiny — pure scheduling overhead at bench scale,
        # harmless at cluster scale (AQE only coalesces small outputs)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (block-range transposition in
        # sources/rpc.py) is gated behind this flag in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # 128 MiB input splits: at 100 TB that is ~800k tasks — fine for a
        # 1000-executor cluster; raise for fewer/larger tasks if scheduling
        # overhead dominates.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # local workers run `python -m` in this cwd with this PYTHONPATH; when
    # they can import the package they fork with pandas loaded
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    paths += site.getsitepackages()
    if master.startswith("local") and root in map(os.path.abspath, paths):
        builder = builder.config(
            "spark.python.daemon.module", "presto_ethereum_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def register_chain_views(
    spark: SparkSession,
    block: DataFrame,
    transaction: DataFrame,
    erc20: DataFrame,
) -> None:
    """Register the three public tables as temp views, mirroring the
    reference's fixed catalog (EthereumMetadata.java:71-94): ``SHOW TABLES``
    lists exactly block / erc20 / transaction and ``DESCRIBE`` matches
    README.md:129-187."""
    block.createOrReplaceTempView("block")
    transaction.createOrReplaceTempView("transaction")
    erc20.createOrReplaceTempView("erc20")


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver-provided synthetic tables (TESTDATA.md) as views."""
    for name in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ):
        spark.read.parquet(f"{sf_dir}/{name}.parquet").createOrReplaceTempView(name)
