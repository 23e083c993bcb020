"""bench.py contract pins: list integrity + the frozen calibration probe.

A headline/incoming name that drifts from the battery registry fails at
bench time (the driver's per-round run), which is a round too late — pin
it in CI.  The calibration probe is CODE-FROZEN (SCALE.md §6c): its plan
signature is pinned so an accidental edit that would invalidate every
cross-round normalized comparison turns pytest red.
"""

import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import bench  # noqa: E402

from presto_ethereum_spark.plans import battery  # noqa: E402


def test_headline_and_incoming_are_registered_and_disjoint():
    qs = battery.queries()
    missing = [n for n in bench.HEADLINE + bench.INCOMING if n not in qs]
    assert missing == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert not set(bench.HEADLINE) & set(bench.INCOMING)
    # the frozen set itself: same names, same order
    assert len(bench.HEADLINE) == 134
    digest = hashlib.sha256("\n".join(bench.HEADLINE).encode()).hexdigest()
    assert digest.startswith("ddd7ea68382b40c4")


def test_iterative_set_is_registered():
    qs = battery.queries()
    assert [n for n in bench.ITERATIVE if n not in qs] == []


def test_calibration_probe_is_frozen(spark):
    """The probe's logical plan is the cross-round normalization unit —
    pin its shape (row count, partitioning, group domain, aggregate
    count) so an edit is a deliberate, test-visible act."""
    from pyspark.sql import functions as F

    base = spark.range(0, 8_000_000, 1, 32).select(
        (F.hash(F.col("id")) % 997).alias("k"),
        (F.hash(F.col("id") * 2654435761) % 1_000_000).alias("v"),
    )
    agg = base.groupBy("k").agg(
        F.sum("v"), F.count("*"), F.avg("v"), F.max("v")
    )
    # the probe must run end-to-end and its group domain is the full
    # residue range (997 + negatives -> hash % in Spark keeps sign)
    n_groups = agg.count()
    assert 990 <= n_groups <= 1993
    # and the probe function itself executes without error
    bench.calibration_probe(spark)


def test_adjudication_queue_policy():
    """VERDICT r12 #2: the §6d trigger is code, not prose — >2x raw AND
    >2s median queues; sub-2s swings and sub-2x drifts don't; entries
    missing on either side are skipped."""
    times = {
        "big_mover": 4.9,        # 2.59x, multi-second -> queued
        "small_mover": 1.9,      # 4x but sub-2s -> noise floor, skipped
        "steady": 5.0,           # 1.25x -> skipped
        "new_entry": 9.0,        # no previous recording -> skipped
        "zero_prev": 3.0,        # prev 0.0 (falsy) -> skipped, no div/0
    }
    prev = {
        "big_mover": 1.89,
        "small_mover": 0.47,
        "steady": 4.0,
        "zero_prev": 0.0,
        "gone_entry": 2.0,       # not in this run -> skipped
    }
    orig = bench.HEADLINE
    bench.HEADLINE = list(times) + ["gone_entry"]
    try:
        assert bench.adjudication_queue(times, prev) == ["big_mover"]
        assert bench.adjudication_queue(times, {}) == []
    finally:
        bench.HEADLINE = orig


def test_refresh_baseline_snapshots_previous_round():
    """_refresh_baseline must tag the snapshot with the newest driver
    round (r01..r12 committed) and carry the previous round's per-query
    medians; a second call must read the SAME snapshot back (stable
    within a round, not run-over-run)."""
    n, qmap = bench._refresh_baseline()
    assert n is not None and n >= 12
    assert isinstance(qmap, dict) and "eth_tx_hits" in qmap
    n2, qmap2 = bench._refresh_baseline()
    assert (n2, qmap2) == (n, qmap)
