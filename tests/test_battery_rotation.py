"""Rotating oracle gate: each pytest run re-validates a date-scheduled slice
of battery entries against their DuckDB oracles, using the same comparator
as scripts/check_battery.py (the driver-gate replica).

The driver grades a fixed 50-query subset per round; the other ~260
registered oracle entries are only validated when someone runs
check_battery by hand.  This test closes that hole with a COVERING
schedule (r11, VERDICT r10 #3): the sorted oracle names are shuffled with
a per-week seed and partitioned into 7 disjoint stride slices, one per
day — so EVERY oracle entry passes through CI within any 7 consecutive
days (~44/run over ~310 entries), instead of the old 12-random-per-day
sample whose expected full-coverage time was ~2+ weeks with no guarantee.
test_week_schedule_covers_every_entry proves the invariant over the seed
schedule itself.

Test ids must not depend on the calendar, or the set of collected tests
changes from one day to the next.  So the parametrized cases are a FIXED
slice of the schedule (the one for day ordinal 739906, listed by name so a
growing registry does not reshuffle it), and today's covering slice runs as
one test, test_todays_schedule_slice, which names every failing entry.
Run the full battery explicitly with `python scripts/check_battery.py`.
"""

import datetime
import random
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from check_battery import TABLES, compare  # noqa: E402

from presto_ethereum_spark.plans import battery  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _day_slice(names: list[str], ordinal: int) -> list[str]:
    """The day's slice of the 7-day covering schedule: shuffle the sorted
    names with the week number (ordinal // 7) as seed, take every 7th
    starting at the day index (ordinal % 7).  The 7 day-slices of a week
    are disjoint and their union is ALL names, so each entry is checked
    exactly once per 7-day cycle; the weekly reshuffle varies which
    entries share a run (and a failure's neighbors) across weeks."""
    week, day = divmod(ordinal, 7)
    shuffled = list(names)
    random.Random(week).shuffle(shuffled)
    return shuffled[day::7]


def _todays_sample() -> list[str]:
    return _day_slice(sorted(battery.oracles()), datetime.date.today().toordinal())


def test_week_schedule_covers_every_entry():
    """Schedule proof (VERDICT r10 #3): for any week, the union of the 7
    day-slices is exactly the full oracle registry, pairwise-disjoint —
    i.e. full-battery CI coverage within any 7 consecutive days."""
    names = sorted(battery.oracles())
    assert len(names) >= 300  # the registry this schedule must cover
    for week in (0, 1, 2897, datetime.date.today().toordinal() // 7):
        slices = [_day_slice(names, week * 7 + d) for d in range(7)]
        seen: list[str] = [n for s in slices for n in s]
        assert len(seen) == len(names)  # disjoint: no entry twice
        assert sorted(seen) == names  # covering: no entry missed


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


# The schedule's slice for day ordinal 739906, frozen as the stable
# parametrized set.
PINNED_SLICE = [
    "doc_char_diversity", "doc_cms_token_counts", "doc_count_cosine_pairs",
    "doc_distribution_drift", "doc_jaccard_threshold_curve",
    "doc_minhash_recall_sampled", "doc_quality_classifier",
    "doc_rake_keywords", "doc_select_corpus", "doc_simhash_recall_sampled",
    "doc_tfidf_topk", "doc_token_entropy", "emb_dim_stats",
    "emb_hard_negatives", "emb_ivf_topk", "emb_ivfpq_topk",
    "emb_jl_rerank_topk", "emb_knn_join_ivf", "emb_similar_pairs",
    "eth_address_sessions", "eth_erc20_movement",
    "eth_erc20_movement_getlogs", "eth_gas_utilization",
    "eth_pushdown_window", "eth_token_heavy_hitters", "rel_audience_overlap",
    "rel_basket_lift", "rel_bloom_prefilter", "rel_decile_lift",
    "rel_distinct_segments", "rel_forecast_revenue", "rel_inactive_by_nation",
    "rel_large_orders", "rel_merge_upsert", "rel_ohlc_bars",
    "rel_percentile_cont", "rel_pivot_orders", "rel_semi_join",
    "rel_snapshot_diff", "rel_supplier_cnt_by_part", "rel_union_all_bag",
    "rel_unpivot_metrics", "rel_waiting_supplier", "stream_funnel_firsts",
    "stream_heavy_hitters", "stream_kmv_distinct",
    "stream_u256_balance_restart", "stream_windowed_distinct",
]


def _verdict(spark, duck, sf_dir, name) -> str:
    df = battery.queries()[name](spark, sf_dir)
    return compare(name, df, duck.sql(battery.oracles()[name]))


@pytest.mark.parametrize("name", PINNED_SLICE)
def test_rotating_oracle_gate(spark, duck, name):
    verdict = _verdict(spark, duck, SF_DIR, name)
    assert verdict == "OK", f"{name}: {verdict}"


def test_todays_schedule_slice(spark, duck):
    """Today's covering slice, minus the entries the pinned cases run."""
    todo = [n for n in _todays_sample() if n not in PINNED_SLICE]
    verdicts = {n: _verdict(spark, duck, SF_DIR, n) for n in todo}
    assert {n: v for n, v in verdicts.items() if v != "OK"} == {}


# --- sf0.1 gate for rounded-double outputs ----------------------------------
#
# Entries whose GRADED output keeps a round(double, d>=1) column (the
# audited-SAFE transcendental/scale-bounded set in ROUNDING_AUDIT.md).  A
# shortest-repr-vs-binary rounding tie is scale-dependent — sf0.001 can stay
# green for rounds while sf0.1 diverges (exactly how doc_bigram_fluency hid
# for 5 rounds) — so these entries run at sf0.1, every one on every run
# (about a minute on 4 cores), which also keeps the test ids fixed.

SF01_DIR = "/root/testdata/sf0.1"
ROUNDED_DOUBLE_ENTRIES = [
    "rel_stats",
    "rel_pricing_quantiles",
    "rel_window_navigation",
    "emb_norms",
    "emb_knn_bruteforce",
    "emb_similar_pairs",
    "emb_label_centroids",
    "emb_quantize_mse",
    "doc_top_terms",
    "doc_bm25_topk",
    "doc_rrf_fusion",
    "doc_temperature_mixture",
    "rel_ohlc_bars",
    "rel_gap_fill",
    "rel_market_share",
    # round-6 additions that keep a rounded-double display column
    "rel_mad_anomalies",
    "doc_collocations_pmi",
    "emb_range_search",
    "emb_knn_join_ivf",
    # round-6 late addition: ln of an exact rational, round @6
    "doc_token_entropy",
    # round-6 continuation: ln-based OLS fit, sqrt-based cosines — all in
    # the audited-safe irrational class, gated at sf0.1 regardless
    "doc_zipf_slope",
    "emb_hard_negatives",
    "doc_count_cosine_pairs",
]


@pytest.fixture(scope="module")
def duck_sf01():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF01_DIR}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize(
    "name", [n for n in ROUNDED_DOUBLE_ENTRIES if n in battery.oracles()]
)
def test_rounded_double_entries_at_sf01(spark, duck_sf01, name):
    verdict = _verdict(spark, duck_sf01, SF01_DIR, name)
    assert verdict == "OK", f"{name}: {verdict}"
