"""Plan-shape regression guards: the scale-critical physical-plan
properties the round audits established, pinned as tests so a future
change can't silently reintroduce a shuffle/nested-loop.

Only STABLE invariants live here (ones that don't flap with AQE or data
size at sf0.001): exchange ceilings, no-nested-loop, broadcast dims,
pushed parquet filters.  scripts/plan_audit.py remains the wide
diagnostic sweep.
"""

import ast
from pathlib import Path

import pytest

from presto_ethereum_spark.plans import battery

SF = "/root/testdata/sf0.001"
PYTHON_EVAL = ("ArrowEvalPython", "BatchEvalPython")


def _plan(spark, name: str) -> str:
    return (
        battery.queries()[name](spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_funnel_exchange_ceiling(spark):
    """Single-pass funnel: 2 logical exchanges (user groupBy + global agg);
    allow a small margin for AQE wrappers, never the 22 of the per-step
    formulation."""
    assert _plan(spark, "rel_funnel_steps").count("Exchange") <= 4


def test_chunk_windows_map_only(spark):
    """Overlapping chunking is a pure projection — zero exchanges at any
    scale."""
    assert _plan(spark, "doc_chunk_windows").count("Exchange") == 0


def test_quantize_mse_map_only(spark):
    assert _plan(spark, "emb_quantize_mse").count("Exchange") == 0


def test_star_join_broadcasts_dims(spark):
    """The 4-table star join must broadcast its dimension tables, not
    sort-merge them."""
    plan = _plan(spark, "rel_regional_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_interval_join_no_nested_loop(spark):
    """The time-bin rewrite must keep the range join out of
    BroadcastNestedLoopJoin territory."""
    assert "NestedLoop" not in _plan(spark, "rel_range_join")


def test_block_range_reaches_parquet_scan(spark):
    """A block-range predicate on the fixture path must reach the chain
    parquet scan as a pushed filter (row-group pruning on the nested
    snapshot's `number`); the Python-DataSource path's pruning is pinned
    by partition assertions in test_rpc_source.py instead (its BatchScan
    node doesn't print pushed filters)."""
    plan = _plan(spark, "eth_erc20_movement")
    assert "PushedFilters: [" in plan


def test_top_miners_take_ordered(spark):
    """Top-k must plan TakeOrderedAndProject (or window-group-limit), not a
    global sort materialization."""
    plan = _plan(spark, "eth_top_miners")
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


def test_triangles_no_nested_loop(spark):
    """Degree-ordered triangle enumeration must plan its wedge build and
    closing join as hash/sort-merge joins, never a nested loop (the graded
    emb_pair_triangles pipeline is exempt upstream: its all-pairs cosine
    INPUT is a documented O(N^2) theta join; the triangle stage itself must
    stay equi-joined)."""
    from pyspark.sql import Row

    from presto_ethereum_spark.operators import graph

    edges = spark.createDataFrame(
        [Row(src=i, dst=(i * 7 + 1) % 50) for i in range(200)],
        "src long, dst long",
    )
    plan = (
        graph.triangles(edges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_snapshot_diff_single_join(spark):
    """CDC diff is ONE full-outer join on the key: no extra exchanges
    beyond the two snapshot shuffles + AQE wrappers."""
    plan = _plan(spark, "rel_snapshot_diff")
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1


def test_bpe_merges_topk_pushdown(spark):
    """The top-20 pair cut must ride TakeOrderedAndProject (partial top-k
    per partition), never a global sort of the full pair-count table."""
    assert "TakeOrderedAndProject" in _plan(spark, "doc_bpe_merges")


def test_scd2_single_shuffle(spark):
    """SCD2 build: one exchange on the key; the three window passes and
    the version groupBy must reuse the same (key) partitioning."""
    assert _plan(spark, "rel_scd2_build").count("Exchange") <= 2


def test_kcore_round_reuses_degree_exchange(spark):
    """One k-core peel round inlines the survivor filter on BOTH semi-join
    sides; the two occurrences of the degree aggregation canonicalize to
    the same exchange, which ReuseExchange dedupes — the structural fact
    that makes the fused round ONE materialization job instead of two."""
    from pyspark.sql import functions as F

    live = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "a string, b string"
    ).localCheckpoint(eager=True)
    deg = (
        live.select(F.col("a").alias("n"))
        .union(live.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    keep = deg.where(F.col("deg") >= 2).select("n")
    nxt = live.join(keep.withColumnRenamed("n", "a"), "a", "leftsemi").join(
        keep.withColumnRenamed("n", "b"), "b", "leftsemi"
    )
    nxt.collect()  # AQE finalizes reuse at execution
    plan = nxt._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_ivf_materialized_serve_prunes_partitions(spark, tmp_path):
    """Serving from the cell-partitioned index must read only probed
    cells: the literal cell filter reaches PartitionFilters on the parquet
    scan (storage-layer pruning, the whole point of materializing)."""
    from presto_ethereum_spark.operators.similarity import (
        _ivf_corpus_index,
        ivf_topk,
        ivf_topk_from_index,
        seed_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = seed_centroids(e, n_cells=8)
    idx_dir = str(tmp_path / "ivf_idx")
    _ivf_corpus_index(e, cents, "vec_id", "embedding").write.partitionBy(
        "cell"
    ).parquet(idx_dir)
    q = e.where("vec_id < 3")
    served = ivf_topk_from_index(
        spark.read.parquet(idx_dir), q, cents, nprobe=2, k=5
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    # and identical to the fused in-kernel path
    fused = ivf_topk(e, q, centroids=cents, nprobe=2, k=5)
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, fused.collect())
    )


def test_quality_classifier_map_only(spark):
    """The hashed linear scorer is a map-side projection: no hash/range
    exchange anywhere (the one RoundRobin exchange is t_spread's
    small-input fan-out, a no-op at real scale), and the expensive token
    fold must appear exactly once per consuming projection level — a
    same-level formulation duplicates the whole aggregate into both
    score_e3 and is_quality."""
    plan = _plan(spark, "doc_quality_classifier")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert plan.count("aggregate(transform(split(") == 1


def test_chunk_dedup_no_text_on_count_shuffle(spark):
    """duplicate_chunk_filter's corpus-global frequency count must shuffle
    md5 fingerprints only — the chunk/kept text columns may never appear in
    an Exchange's output schema (raw text stays map-side until the final
    doc_id join)."""
    plan = _plan(spark, "doc_chunk_dedup_filter")
    for line in plan.splitlines():
        if "Exchange hashpartitioning(h#" in line:
            assert "chunk" not in line and "text" not in line


def test_pricing_summary_filter_pushed_and_no_decimal_multiply(spark):
    """Q1: the shipdate filter must reach the parquet scan, and the exact
    disc/charge path must be LONG multiplies feeding a DECIMAL sum — not
    a decimal-multiply chain (the 5x-slower formulation round 6 replaced)."""
    plan = _plan(spark, "rel_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # decimal appears only in the aggregation buffers, not as a per-row
    # CheckOverflow multiply chain over promoted decimal literals
    assert "promote_precision" not in plan.lower()


def test_twap_two_exchanges(spark):
    """TWAP = one window shuffle (lead over the key) + one hash agg; both
    hash exchanges partition on the key."""
    plan = _plan(spark, "rel_twap")
    import re

    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert 1 <= len(parts) <= 2
    assert all("user_id" in p or "key" in p for p in parts)


def test_knn_join_exchanges_on_cell_and_query(spark):
    """IVF k-NN join: hash exchanges only on the cell key (both sides) and
    the per-query rank — never on raw vectors."""
    plan = _plan(spark, "emb_knn_join_ivf")
    import re

    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts
    for p in parts:
        assert ("cell" in p) or ("query_id" in p)


def test_range_search_zero_exchange(spark):
    """Cosine range search is a broadcast-probe map-side scan: no hash
    exchange anywhere in the plan."""
    plan = _plan(spark, "emb_range_search")
    assert "Exchange hashpartitioning" not in plan


def test_journey_strings_single_groupby(spark):
    """Ordered string_agg: ONE hash exchange (the entity groupBy); the sort
    is group-local array work, never a global Sort node before the agg."""
    plan = _plan(spark, "rel_journey_strings")
    assert plan.count("Exchange hashpartitioning") == 1


def test_bucketed_join_no_exchange_under_join(spark):
    """Storage-bucketed fact-fact join: the SortMergeJoin consumes bucket i
    vs bucket i directly — the ONLY hash exchange in the plan is the final
    groupBy(o_orderpriority), never the join keys."""
    import re

    plan = _plan(spark, "rel_bucketed_join")
    assert "SortMergeJoin" in plan
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    for p in parts:
        assert "orderkey" not in p, f"join key shuffled: {p}"
    assert plan.count("Exchange hashpartitioning") <= 1


def test_zipf_windowgrouplimit_partial(spark):
    """Zipf top-k rank: WindowGroupLimit must run in Partial mode BEFORE the
    per-lang exchange so each map task forwards at most k candidate rows."""
    plan = _plan(spark, "doc_zipf_slope")
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_ppjoin_prefix_posting_only(spark):
    """PPJoin candidate exchange carries prefix postings (tok, id) — the
    full token arrays join back by id, so no exchange partitions on an
    array column."""
    import re

    plan = _plan(spark, "doc_ppjoin_pairs")
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts
    for p in parts:
        assert "ts#" not in p and "sorted_toks" not in p


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's skew-join handling is the engine-level complement to the
    manual salting entries (rel_salted_join): with a planted hot key and
    thresholds scaled to the test data, the post-execution SortMergeJoin
    must carry the skew=true marker — evidence the hot partition was
    split at runtime rather than serialized onto one task."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot key 1 carries 300k rows; 200 cold keys carry ~100 each
        left = spark.range(0, 320_000).select(
            F.when(F.col("id") < 300_000, F.lit(1))
            .otherwise((F.col("id") % 200) + 2)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(1, 202).select(F.col("id").alias("k"))
        j = left.hint("MERGE").join(right, "k")
        # the action must run on THIS DataFrame's own queryExecution —
        # wrapping it (count/groupBy/write) plans a separate execution and
        # the inspected AdaptiveSparkPlan stays isFinalPlan=false
        assert len(j.collect()) == 320_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bytes_profile_map_only(spark):
    """The corrupt-payload screen is 16 scalar expressions over hex — no
    hash exchange at any corpus size (its whole reason to exist is running
    BEFORE any shuffle or decode CPU).  The single allowed Exchange is
    t_spread's conditional RoundRobin repartition, a no-op at real scale
    (the scan already has >= cores partitions there)."""
    plan = _plan(spark, "multimodal_bytes_profile")
    assert plan.count("Exchange") <= 1
    assert "hashpartitioning" not in plan


def test_histogram_quantiles_broadcasts_scaffolding(spark):
    """The histogram sketch broadcasts its scalar bounds and the <=64-row
    cumulative table — the corpus side must never sort-merge against
    them, and the only corpus exchanges are the bucket partials and the
    selected-bucket referee."""
    plan = _plan(spark, "rel_histogram_quantiles")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ivf_probe_curve_broadcasts_queries(spark):
    """The probe set rides broadcasts; the corpus is never the build side
    of a sort-merge join."""
    plan = _plan(spark, "emb_ivf_probe_curve")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lsh_band_curve_no_sort_merge(spark):
    plan = _plan(spark, "emb_lsh_band_curve")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_reshingle_in_pushed_filters(spark):
    """r13 optimization pin: InferFiltersFromGenerate + predicate pushdown
    must NOT re-derive the shingle/signature array below t_spread's
    repartition — the duplicated expression runs the whole shingle+md5
    pipeline per row on the unspread single-partition scan stage
    (measured 1.5-2.8 s single-task stages at sf0.1 before the
    explode_outer/token-count-gate fixes).  Pins the optimized plans of
    the inverted-index family: no Filter anywhere in the plan may carry
    the shingle-construction expression (the cheap token-count gate
    `size(split(...))` is allowed; building shingles via
    transform(sequence(...)) inside a Filter is not)."""
    for name in (
        "doc_minhash_recall",
        "doc_containment_pairs",
        "doc_shingle_df_profile",
        "doc_shingle_novelty",
        "doc_dup_rate_by_source",
        "doc_simhash_recall",
    ):
        plan = _plan(spark, name)
        bad = [
            line
            for line in plan.split("\n")
            if "Filter" in line and "transform(sequence(" in line
        ]
        assert not bad, f"{name}: shingle expression re-derived in a Filter:\n" + "\n".join(bad[:2])


def _chain_sql_wei_sql() -> str:
    """``ChainSql.WEI_SQL`` of the benchmark, read from its source: importing
    ``perfbench/workloads.py`` would bring in its own ``harness`` module."""
    src = Path(__file__).resolve().parent.parent / "perfbench" / "workloads.py"
    for node in ast.walk(ast.parse(src.read_text())):
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "WEI_SQL" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("ChainSql.WEI_SQL not found")


def test_wei_conversions_start_no_python_worker(spark, chain_source):
    """fromWei/toWei are SQL functions inlined into the plan: neither the
    benchmark's wei query over the fixture views nor the battery's
    fromWei entry may plan a Python evaluation node.  Nor may the DECIMAL
    ledger entries, whose Transfer values decode from JVM limbs."""
    from presto_ethereum_spark.functions import register_udfs

    chain_source.register_views()
    register_udfs(spark)
    wei = spark.sql(_chain_sql_wei_sql())._jdf.queryExecution().executedPlan()
    for name, plan in (
        ("WEI_SQL", wei.toString()),
        *[
            (name, _plan(spark, name))
            for name in (
                "eth_value_in_ether",
                "eth_erc20_balances",
                "eth_balance_snapshot_merge",
                "eth_erc20_exact_flows",
            )
        ],
    ):
        assert not [n for n in PYTHON_EVAL if n in plan], f"{name}:\n{plan}"
    assert "/ 1.0E18" in wei.toString()  # the literal unit folded to its factor


def test_eth_entries_share_one_fixture_source(spark):
    """One fixture source per session: two entries built in it start from
    the same erc20 DataFrame (its output attributes appear in both
    analysed plans), not from a re-derived copy with new ones."""
    import re

    src = battery._eth_tables(spark)
    assert battery._eth_tables(spark) is src
    erc20 = src.table("erc20")
    out = erc20._jdf.queryExecution().analyzed().output().toString()
    attr = re.search(r"erc20_token#\d+", out).group()
    for name in ("eth_token_flows", "eth_token_concentration"):
        df = battery.queries()[name](spark, SF)
        assert attr in df._jdf.queryExecution().analyzed().toString(), name


def test_fixture_tables_derived_once(spark, chain_source):
    """One derive per table and source: table() hands back the same
    DataFrame whatever the name's case, and the registered view resolves
    to that DataFrame's plan (the same output attributes, not a re-derived
    copy with new ones)."""
    erc20 = chain_source.table("erc20")
    assert erc20 is chain_source.table("ERC20")
    chain_source.register_views()

    def output(df):
        return df._jdf.queryExecution().analyzed().output().toString()

    assert output(spark.table("erc20")) == output(erc20)
