"""Spark's Python worker daemon with pandas imported before it forks
workers.  pyarrow imports pandas on a worker's first Arrow batch (0.4 s);
imported here, no query pays that for a worker it happens to fork first.
Planner daemons (other worker modules) build no Arrow batches."""

import sys

if sys.argv[1:2] in ([], ["pyspark.worker"]):
    import pandas  # noqa: F401

from pyspark.daemon import manager

if __name__ == "__main__":
    manager()
