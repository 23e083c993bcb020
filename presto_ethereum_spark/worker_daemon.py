"""Spark's Python worker daemon, forking workers that need not redo its
imports.

``python -m`` imports the package first, which installs ``zipcache``
before any fork, so a worker task does not re-read ``pyspark.zip``
(125-175 ms per task otherwise).  pyarrow imports pandas on a worker's
first Arrow batch (0.4 s); imported here, no query pays that for a worker
it happens to fork first.

Spark 4.1 starts its planner processes (``create_data_source``,
``plan_data_source_read``, ...) from its stock ``pyspark.daemon``, not
from this module: they install ``zipcache`` when a planner call unpickles
a package data source, which imports the package.  They build no Arrow
batches, so a planner module named here skips pandas."""

import sys

if sys.argv[1:2] in ([], ["pyspark.worker"]):
    import pandas  # noqa: F401

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
