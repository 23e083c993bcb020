"""Windowed streaming aggregation over the events table.

The canonical Structured Streaming shape: file stream -> event-time window
with watermark -> stateful aggregation.  ``run_windowed_counts`` drains it
(process-everything-then-stop, ``streaming.drain``) into a memory sink and
returns the result as a plain DataFrame, which makes the streaming path
batch-comparable: the driver's DuckDB oracle checks it like any other query
(tumbling windows are floor(ts / width)).

At scale this is the standing pipeline for the events firehose: watermark
bounds state, the window key shuffles once, late rows beyond the watermark
drop deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from presto_ethereum_spark.streaming import fold_generations, settle_to_memory


def _events_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over ``events.parquet`` with the schema taken from the
    parquet footer (a timestamp[ns] ``ts`` arrives as epoch-ns long under
    nanosAsLong; timestamp[us]/[ms] arrive as TIMESTAMP(_NTZ)).  Adds a
    normalized epoch-µs ``t_us`` column whatever the physical type, so every
    downstream streaming operator is storage-format independent."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file stream source requires a directory: point at sf_dir and
    # glob-filter down to the events file
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dt = dict(stream.dtypes)["ts"]
    if dt == "bigint":
        t_us = F.expr("ts DIV 1000")
    elif dt == "timestamp":
        # TIMESTAMP_LTZ: read the instant directly — an LTZ->NTZ cast would
        # be session-timezone dependent on non-UTC drivers
        t_us = F.expr("unix_micros(ts)")
    else:
        t_us = F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " cast(ts as timestamp_ntz))"
        )
    return stream.withColumn("t_us", t_us)


def windowed_counts_stream(
    spark: SparkSession, sf_dir: str, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """readStream -> event-time tumbling window (+watermark) aggregation."""
    stream = _events_source(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("t_us"))
    )
    return (
        stream.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.col("value").cast("decimal(18,6)")).cast("double") / F.count("*")).alias("avg_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "avg_value",
        )
    )


SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("session_start_us", LongType()),
        StructField("session_end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

SESSION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("next_session_id", LongType()),
        StructField("open_sid", LongType()),
        StructField("open_start_us", LongType()),
        StructField("open_n", LongType()),
    ]
)


def sessionized_stream(
    spark: SparkSession, sf_dir: str, gap_us: int = 3_600_000_000
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization via
    ``applyInPandasWithState`` (the hook for operators Structured Streaming
    lacks natively).

    Per user the state carries (last event time, next session id, and the
    still-open session's id/start/count), so sessions that straddle
    micro-batches emit exactly once with correct bounds.  The final open
    session of each batch also emits (marked complete) so drained runs
    settle to the batch-equivalent answer — in a continuous deployment you
    would instead hold it and emit on event-time timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _events_source(spark, sf_dir).select("user_id", "t_us")

    def assign(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.exists:
            last_ts, next_sid, open_sid, open_start, open_n = state.get
        else:
            last_ts, next_sid, open_sid, open_start, open_n = None, 0, None, None, 0
        sessions = []  # (sid, start, end, n)
        cur = (
            [open_sid, open_start, last_ts, open_n] if open_sid is not None else None
        )
        for pdf in pdf_iter:
            for t in sorted(pdf["t_us"]):
                t = int(t)
                if last_ts is None or t - last_ts > gap_us:
                    if cur is not None:
                        sessions.append(tuple(cur))
                    cur = [next_sid, t, t, 1]
                    next_sid += 1
                else:
                    cur[2] = t
                    cur[3] += 1
                last_ts = t
        if cur is not None:
            sessions.append(tuple(cur))
            state.update((last_ts, next_sid, cur[0], cur[1], cur[3]))
        else:
            state.update((last_ts, next_sid, None, None, 0))
        if sessions:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(sessions),
                    "session_id": [s[0] for s in sessions],
                    "session_start_us": [s[1] for s in sessions],
                    "session_end_us": [s[2] for s in sessions],
                    "n_events": [s[3] for s in sessions],
                }
            )

    return (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            assign,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_sessionized(
    spark: SparkSession, sf_dir: str, gap_us: int = 3_600_000_000
) -> DataFrame:
    return settle_to_memory(
        spark, sessionized_stream(spark, sf_dir, gap_us), "stream_sessions", "append"
    )


def run_windowed_counts(
    spark: SparkSession, sf_dir: str, window: str = "1 hour"
) -> DataFrame:
    """Drain the stream into a memory sink and return the settled result."""
    return settle_to_memory(
        spark, windowed_counts_stream(spark, sf_dir, window),
        "stream_counts", "complete",
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` over the key
    columns only.

    Projecting the key before deduplicating makes the result deterministic
    under any arrival order (no payload from an arbitrary "first" row), so
    the streaming result equals batch ``SELECT DISTINCT`` exactly.  At scale
    the state store holds one entry per distinct key; bound it with
    ``dropDuplicatesWithinWatermark`` when keys expire."""
    stream = _events_source(spark, sf_dir)
    return stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return settle_to_memory(
        spark, dedup_stream(spark, sf_dir), "stream_dedup", "append"
    )


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against a static
    dimension (customer), then aggregated per segment.

    The static side is broadcast per micro-batch — no stream-side shuffle
    for the join; the aggregation keys on the (tiny) segment domain.  This
    is the standing enrichment shape for a firehose at scale."""
    stream = _events_source(spark, sf_dir)
    dim = F.broadcast(
        spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_mktsegment"
        )
    )
    return (
        stream.join(dim, stream["user_id"] == dim["c_custkey"], "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return settle_to_memory(
        spark, stream_static_join(spark, sf_dir), "stream_enrich", "complete"
    )


def stream_stream_join(
    spark: SparkSession, sf_dir: str, within_us: int = 3_600_000_000
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the remaining Structured
    Streaming join surface: clicks matched to the same user's purchases
    within ``within_us`` (event-time interval condition).

    State stays bounded because BOTH sides carry watermarks and the join
    condition bounds purchase_time relative to click_time: Spark can expire
    a buffered click once the purchase watermark passes click_time +
    within + lateness, and vice versa — without the interval bound the
    state would grow with the stream.  At scale the join co-partitions
    both streams on user_id, one shuffle each."""
    ev = _events_source(spark, sf_dir).withColumn(
        "event_time", F.timestamp_micros(F.col("t_us"))
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("t_us").alias("click_us"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("t_us").alias("purchase_us"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "2 hours")
    )
    return (
        clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_time") >= F.col("click_time"))
            & (
                F.col("purchase_time")
                <= F.col("click_time")
                + F.expr(f"INTERVAL {int(within_us)} MICROSECOND")
            ),
            "inner",
        )
        .select(
            "user_id",
            "click_id",
            "purchase_id",
            (F.col("purchase_us") - F.col("click_us")).alias("delta_us"),
        )
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return settle_to_memory(
        spark, stream_stream_join(spark, sf_dir), "stream_ss_join", "append"
    )


def ivf_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    centroids: list,
) -> DataFrame:
    """STREAMING INDEX INGEST: vectors arrive as a stream, each is
    assigned its IVF cell map-side (codebook literal —
    operators/similarity.ivf_assign works unchanged on a streaming
    DataFrame because it is a pure projection), and per-cell counts
    aggregate in complete mode.  This is the standing shape for keeping
    an ANN index fresh: assignment costs zero state, only the tiny
    per-cell counter aggregates."""
    from presto_ethereum_spark.operators.similarity import ivf_assign

    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    assigned = ivf_assign(stream, centroids)
    return assigned.groupBy("cell").agg(F.count("*").alias("n_vectors"))


def run_ivf_ingest(spark: SparkSession, sf_dir: str, centroids: list) -> DataFrame:
    return settle_to_memory(
        spark, ivf_ingest_stream(spark, sf_dir, centroids), "stream_ivf", "complete"
    )


def _latest_per_key(df: DataFrame) -> DataFrame:
    """Per-user latest event as a struct-max (lexicographic on
    (t_us, event_id) — event_id uniqueness makes the winner unique, so the
    tag-along value is fully determined)."""
    return (
        df.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    F.col("t_us").alias("t_us"),
                    F.col("event_id").alias("event_id"),
                    F.col("value").alias("value"),
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.t_us").alias("last_t_us"),
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.value").alias("last_value"),
        )
    )


def run_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str, source: DataFrame | None = None
) -> DataFrame:
    """Streaming KEYED UPSERT via ``foreachBatch`` compact-and-swap: each
    micro-batch reduces to its per-key latest row, merges with the current
    keyed state, and writes the merged state to a fresh parquet generation
    (then the pointer swaps) — the idempotent-upsert sink pattern for
    stores without native MERGE.  With a MERGE-capable table format the
    body becomes a single ``MERGE INTO``; the batch-side reduction and
    restart semantics are identical.

    The generations are kept by :func:`fold_generations`: a replayed batch
    re-merges the same input onto the same prior generation, so the write
    is idempotent per (state, batch) pair — the contract foreachBatch
    requires for exactly-once results under retries.

    Scale: all heavy work (per-batch reduce, state merge) is distributed
    DataFrame compute; the driver only sequences generations.  State size
    is one row per key; the merge is a union + one re-reduce shuffled on
    the key — at large key cardinality a real deployment buckets the state
    table on the key so generations co-partition.

    Returns the settled state ``(user_id, last_t_us, last_event_id,
    last_value)`` after draining the events file.
    ``source`` overrides the input stream (must carry user_id / t_us /
    event_id / value) — tests use a multi-file source to force the
    multi-batch merge path.
    """
    import shutil
    import tempfile

    def fold(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        rows = batch_df.select("user_id", "t_us", "event_id", "value")
        if prev is not None:
            rows = rows.unionByName(
                prev.select(
                    "user_id",
                    F.col("last_t_us").alias("t_us"),
                    F.col("last_event_id").alias("event_id"),
                    F.col("last_value").alias("value"),
                )
            )
        return _latest_per_key(rows)

    root = tempfile.mkdtemp(prefix="upsert_state_")
    try:
        last = fold_generations(
            source if source is not None else _events_source(spark, sf_dir),
            fold,
            root,
        )
        if last is None:
            schema = "user_id long, last_t_us long, last_event_id long, last_value double"
            return spark.createDataFrame([], schema)
        return spark.read.parquet(last).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def run_trending_topk(
    spark: SparkSession, sf_dir: str, window: str = "1 hour", k: int = 3
) -> DataFrame:
    """Per-window TRENDING top-k event types: the settled windowed counts
    ranked within each window (count desc, type asc for determinism) and
    cut to ``k`` — the leaderboard a monitoring surface keeps per time
    bucket.  The rank runs on the SETTLED aggregate (complete-mode memory
    sink), not inside the stream: per-window top-k over an updating
    aggregation would re-rank every trigger for no benefit when the
    consumer reads the settled board anyway; state stays bounded by the
    windowed aggregation's watermark exactly as in run_windowed_counts."""
    counts = run_windowed_counts(spark, sf_dir, window)
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("window_start", "event_type", "n", "rank")
    )


def quality_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality gate: the validate_expectations scalar rules
    evaluated as conditional counts inside the STREAMING global
    aggregation — the ingest-time monitor that flags a bad upstream batch
    before it lands in the corpus.  Conditional counts are additive, so
    the settled complete-mode result equals the batch suite exactly under
    any micro-batch split (the determinism contract every entry in this
    module pins).  At scale the state is one row of counters — O(rules),
    not O(rows)."""
    stream = _events_source(spark, sf_dir)
    checks = [
        ("value_in_range", ~F.col("value").between(0.0, 1000.0)),
        (
            "type_domain",
            ~F.col("event_type").isin("click", "view", "signup", "purchase", "error"),
        ),
        ("user_not_null", F.col("user_id").isNull()),
    ]
    agg = stream.agg(
        F.count("*").alias("_n"),
        *[
            F.count_if(F.coalesce(bad, F.lit(True))).alias(f"_v{i}")
            for i, (_, bad) in enumerate(checks)
        ],
    )
    stack_args = ", ".join(f"'{name}', _v{i}" for i, (name, _) in enumerate(checks))
    return agg.select(
        F.expr(f"stack({len(checks)}, {stack_args}) AS (rule, n_violations)"),
        F.col("_n").alias("n_rows"),
    ).select(
        "rule",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_violations").cast("long").alias("n_violations"),
    )


def run_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return settle_to_memory(
        spark, quality_gate_stream(spark, sf_dir), "stream_quality", "complete"
    )


def windowed_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour distinct users, streaming: dropDuplicates on (window,
    user) collapses each user to one row per window (state = one entry
    per distinct pair, the exact-distinct price), then the windowed count
    is exact and an HLL++ sketch runs beside it over the deduplicated
    stream.  The graded column is the TOLERANCE VERDICT (|sketch−exact|
    <= 5% of exact), the rel_approx_sketches contract — sketch internals
    are merge-order-dependent, verdicts are not.  At scale the sketch
    column replaces the exact one and the dedup state disappears with
    it."""
    stream = _events_source(spark, sf_dir)
    win = stream.withColumn(
        "window_start", F.expr("t_us DIV 3600000000 * 3600")
    )
    dedup = win.select("window_start", "user_id").dropDuplicates(
        ["window_start", "user_id"]
    )
    agg = dedup.groupBy("window_start").agg(
        F.count("*").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("_acd"),
    )
    # 5% relative gate with a small-cardinality absolute floor: HLL++ at
    # rsd=2% is off by <= 2 on the ~10-user windows small SFs produce
    # (measured max abs err 2 at sf0.01), where 5% of exact rounds to 0
    ok = F.abs(F.col("_acd") - F.col("exact_users")) <= F.greatest(
        F.col("exact_users") * 0.05, F.lit(3.0)
    )
    return agg.select(
        F.col("window_start").cast("long").alias("window_start"),
        F.col("exact_users").cast("long").alias("exact_users"),
        ok.cast("int").alias("distinct_ok"),
    )


def run_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return settle_to_memory(
        spark,
        windowed_distinct_stream(spark, sf_dir),
        "stream_wdistinct",
        "complete",
    )


KMV_OUTPUT_SCHEMA = StructType(
    [
        StructField("window_start", LongType()),
        StructField("n_events", LongType()),
        StructField("n_sk", LongType()),
        StructField("kth_min", LongType()),
        StructField("est_distinct", LongType()),
    ]
)

KMV_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(LongType())),
        StructField("n_events", LongType()),
    ]
)


def kmv_distinct_stream(
    spark: SparkSession,
    sf_dir: str,
    k: int = 64,
    source: DataFrame | None = None,
) -> DataFrame:
    """Per-hour distinct-user KMV sketch in the micro-batch path: the
    mergeable k-minimum-values state from operators/frequency.kmv_distinct
    carried as STREAMING state — ``k`` longs per window, not one state
    entry per distinct user (the dropDuplicates price
    ``windowed_distinct_stream`` pays for exactness).  This closes the
    batch/streaming sketch gap the HLL rollup (rel_hll_partial_merge)
    closes for batch: per micro-batch the window's state merges the
    batch's hashes and keeps the k smallest — KMV merge is commutative
    and associative (the k smallest of a union are among each part's k
    smallest), so the settled drained result is BIT-IDENTICAL to
    the batch KMV under any micro-batch split.

    Hashes are computed JVM-side (dedup.hash60: 60-bit md5 prefix) before
    the stateful operator, so the Python state function only merges
    longs, and a DuckDB oracle replays the identical sketch — the graded
    columns (kth_min, est_distinct) are therefore HASH-gated bit-exact,
    strictly stronger than the tolerance-verdict contract the HLL
    entries need (HLL internals are merge-order-dependent; KMV contents
    are not).  Estimator: ``(k-1) * 2^60 div kth_min`` in exact integer
    arithmetic; windows with fewer than k distinct hashes report the
    exact hash count (n_sk) — the standard small-cardinality fallback.

    Each micro-batch emits the updated windows' current sketch summary;
    ``n_events`` is a monotone per-window row counter so the settle
    wrapper keeps exactly the LAST emit per window.  At scale: state is
    O(k) per open window, the shuffle carries (window, 8-byte hash)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from presto_ethereum_spark.operators.dedup import hash60

    # NULL hashes are filtered JVM-side: one NULL in an Arrow batch would
    # coerce the int64 hv column to float64, which cannot represent 60-bit
    # hashes exactly (2^60 > 2^53)
    stream = (
        (source if source is not None else _events_source(spark, sf_dir))
        .select(
            F.expr("t_us DIV 3600000000 * 3600").alias("window_start"),
            hash60(F.col("user_id").cast("string")).alias("hv"),
        )
        .where(F.col("hv").isNotNull())
    )

    two60 = 1152921504606846976  # 2^60

    def upd(key, pdf_iter, state: GroupState):
        (wstart,) = key
        if state.exists:
            hashes, n_events = state.get
            merged = set(hashes)
        else:
            merged, n_events = set(), 0
        for pdf in pdf_iter:
            n_events += len(pdf)
            merged.update(int(h) for h in pdf["hv"])
        topk = sorted(merged)[:k]
        state.update((topk, n_events))
        n_sk = len(topk)
        kth = topk[k - 1] if n_sk == k else None
        est = (k - 1) * two60 // kth if kth is not None else n_sk
        yield pd.DataFrame(
            {
                "window_start": [int(wstart)],
                "n_events": [n_events],
                "n_sk": [n_sk],
                "kth_min": [kth],
                "est_distinct": [est],
            }
        )

    return stream.groupBy("window_start").applyInPandasWithState(
        upd,
        outputStructType=KMV_OUTPUT_SCHEMA,
        stateStructType=KMV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_kmv_distinct(
    spark: SparkSession,
    sf_dir: str,
    k: int = 64,
    source: DataFrame | None = None,
) -> DataFrame:
    """Settle the KMV stream and keep the last emit per window (max of the
    monotone n_events counter — one row per window whatever the
    micro-batch split)."""
    settled = settle_to_memory(
        spark, kmv_distinct_stream(spark, sf_dir, k, source), "stream_kmv", "append"
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n_events"))
    return (
        settled.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


VH_OUTPUT_SCHEMA = StructType(
    [
        StructField("window_start", LongType()),
        StructField("n_events", LongType()),
        StructField("p50_bucket", IntegerType()),
        StructField("p50_lo_cents", LongType()),
        StructField("p50_hi_cents", LongType()),
        StructField("p50_bucket_n", LongType()),
        StructField("p90_bucket", IntegerType()),
        StructField("p90_lo_cents", LongType()),
        StructField("p90_hi_cents", LongType()),
        StructField("p90_bucket_n", LongType()),
    ]
)

VH_STATE_SCHEMA = StructType(
    [
        StructField("counts", ArrayType(LongType())),
        StructField("n_events", LongType()),
    ]
)

VH_N_BUCKETS = 64  # log2 buckets cover the full positive int64 cent range


def value_histogram_stream(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Per-hour value quantiles from a MERGEABLE log2 histogram in the
    micro-batch path — the streaming counterpart of
    operators/frequency.histogram_quantiles, closing for quantiles the
    batch/streaming sketch gap stream_kmv_distinct closes for distinct
    counts.  Equi-width histograms need global (min, max) before
    bucketing — unavailable in a stream — so the streaming sketch uses
    FIXED power-of-two bucket bounds (HDR-histogram style): bucket =
    floor(log2(cents)), computed JVM-side as ``length(bin(cents)) - 1``
    — exact integer, no float log at bucket boundaries, and the DuckDB
    oracle replays the identical expression.

    State per open window is 64 long counters + a row count; the merge
    is elementwise sum — commutative and associative — so the settled
    drained result is BIT-IDENTICAL to the batch histogram under
    any micro-batch split, and every graded column (bucket ids, exact
    power-of-two bounds, in-bucket counts) is integer hash-gated.  Per
    emit: p50/p90 target rank = (p*n + 99) div 100, bucket found by
    cumulative walk over 64 counters in Python (state-sized, not
    data-sized).  ``n_events`` is the monotone settle counter.

    At scale: state O(64) longs per open window; the shuffle carries
    (window, 6-bit bucket) — never values."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        (source if source is not None else _events_source(spark, sf_dir))
        .select(
            F.expr("t_us DIV 3600000000 * 3600").alias("window_start"),
            # try_cast, not CAST: a single value above ~9.2e16 would
            # overflow the BIGINT cast and, under ANSI (the default),
            # kill the whole STREAMING query — try_cast degrades the
            # out-of-range event to NULL, which the filter drops (the
            # oracle mirrors with DuckDB TRY_CAST)
            F.expr(
                "length(bin(TRY_CAST(round(value * 100) AS BIGINT))) - 1"
            ).alias("bucket"),
        )
        .where(
            F.expr("TRY_CAST(round(value * 100) AS BIGINT) > 0")
            & F.col("bucket").isNotNull()
        )
    )

    def upd(key, pdf_iter, state: GroupState):
        (wstart,) = key
        if state.exists:
            counts, n_events = state.get
            counts = list(counts)
        else:
            counts, n_events = [0] * VH_N_BUCKETS, 0
        for pdf in pdf_iter:
            n_events += len(pdf)
            for b, c in pdf["bucket"].value_counts().items():
                counts[int(b)] += int(c)
        state.update((counts, n_events))

        def pick(p):
            r = (p * n_events + 99) // 100
            cum = 0
            for b, c in enumerate(counts):
                cum += c
                if c and cum >= r:
                    return b, 1 << b, (1 << (b + 1)) - 1, c
            return None, None, None, None

        p50 = pick(50)
        p90 = pick(90)
        yield pd.DataFrame(
            {
                "window_start": [int(wstart)],
                "n_events": [n_events],
                "p50_bucket": [p50[0]],
                "p50_lo_cents": [p50[1]],
                "p50_hi_cents": [p50[2]],
                "p50_bucket_n": [p50[3]],
                "p90_bucket": [p90[0]],
                "p90_lo_cents": [p90[1]],
                "p90_hi_cents": [p90[2]],
                "p90_bucket_n": [p90[3]],
            }
        )

    return stream.groupBy("window_start").applyInPandasWithState(
        upd,
        outputStructType=VH_OUTPUT_SCHEMA,
        stateStructType=VH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_value_histogram(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Settle the histogram stream; keep the last emit per window (max of
    the monotone n_events counter)."""
    settled = settle_to_memory(
        spark,
        value_histogram_stream(spark, sf_dir, source),
        "stream_vhist",
        "append",
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("n_events"))
    return (
        settled.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


MG_OUTPUT_SCHEMA = StructType(
    [
        StructField("window_start", LongType()),
        StructField("n_events", LongType()),
        StructField("value", StringType()),
        StructField("mg_lb", LongType()),
    ]
)

MG_STATE_SCHEMA = StructType(
    [
        StructField("values", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n_events", LongType()),
    ]
)


def heavy_hitters_stream(
    spark: SparkSession,
    sf_dir: str,
    k: int = 96,
    source: DataFrame | None = None,
) -> DataFrame:
    """Per-hour Misra-Gries heavy-hitter CANDIDATE state in the micro-batch
    path — the streaming counterpart of operators/frequency.misra_gries_heavy,
    completing for heavy hitters the batch/stream sketch parity
    stream_kmv_distinct (distinct counts) and stream_value_histogram
    (quantiles) established: every mergeable batch sketch in the family now
    has a bounded-state streaming twin.

    State per open window is <= k (value, count) counters plus an exact row
    counter.  Each micro-batch folds its rows into the counter table and,
    when it exceeds k entries, subtracts the (k+1)-th largest count from
    all and drops the non-positives — the PODS'12 mergeable-summaries
    reduce, the same code path the batch _mg_summary runs per partition.
    Total deduction per element is <= N/(k+1) (each reduce removes >=
    (k+1) x cut of count mass, and removable mass is bounded by N), so the
    settled candidate set is a PROVEN SUPERSET of every value with true
    window frequency > 1/(k+1) — whatever the micro-batch split.  Residual
    counts (``mg_lb``) are split-DEPENDENT (MG merge order moves them), so
    they are emitted as diagnostics and never graded; the graded result is
    produced by run_heavy_hitters' exact verify, which is split-invariant
    by construction.

    Every batch emits the window's full current candidate table plus one
    value=NULL sentinel row carrying the monotone ``n_events`` counter, so
    the settle step can always identify the LAST emit even if a reduce
    empties the candidate table.

    At scale: state O(k) per open window; the shuffle carries
    (window, value) pairs — the same keys the exact verify joins on."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        (source if source is not None else _events_source(spark, sf_dir))
        .select(
            F.expr("t_us DIV 3600000000 * 3600").alias("window_start"),
            F.col("user_id").cast("string").alias("v"),
        )
        .where(F.col("v").isNotNull())
    )

    def upd(key, pdf_iter, state: GroupState):
        (wstart,) = key
        if state.exists:
            values, counts, n_events = state.get
            tab = dict(zip(values, (int(c) for c in counts)))
        else:
            tab, n_events = {}, 0
        for pdf in pdf_iter:
            n_events += len(pdf)
            for v, c in pdf["v"].value_counts().items():
                tab[v] = tab.get(v, 0) + int(c)
            if len(tab) > k:
                # PODS'12 reduce: subtract the (k+1)-th largest count from
                # every counter, keep the strictly-positive ones
                cut = sorted(tab.values(), reverse=True)[k]
                tab = {v: c - cut for v, c in tab.items() if c > cut}
        vals = sorted(tab)
        state.update((vals, [tab[v] for v in vals], n_events))
        yield pd.DataFrame(
            {
                "window_start": [int(wstart)] * (len(vals) + 1),
                "n_events": [n_events] * (len(vals) + 1),
                "value": vals + [None],
                "mg_lb": [tab[v] for v in vals] + [0],
            }
        )

    return stream.groupBy("window_start").applyInPandasWithState(
        upd,
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    k: int = 96,
    source: DataFrame | None = None,
    verify_df: DataFrame | None = None,
) -> DataFrame:
    """Settle the MG candidate stream and EXACT-VERIFY on window close:
    keep the last emit per window (max of the monotone n_events counter),
    then recount ONLY the candidate (window, value) pairs over the batch
    table and keep values with exact count strictly above n_total/(k+1)
    — the frequency.misra_gries_heavy contract carried into Structured
    Streaming.  Because the candidate set provably contains every true
    heavy hitter (see heavy_hitters_stream), the verified output equals
    the exact closed form regardless of how micro-batches split the
    window: the graded columns are hash-gated, not tolerance-gated.

    ``n_total`` is the stream's own exact row counter; the verify join is
    candidate-sized (<= k rows per window, broadcast) against a single
    linear scan — at 100 TB the verify prices one pass over the closed
    window's slice (a log replay in a real deployment), never a full
    groupBy of the corpus."""
    settled = settle_to_memory(
        spark,
        heavy_hitters_stream(spark, sf_dir, k, source),
        "stream_mg",
        "append",
    )
    w = Window.partitionBy("window_start")
    last = settled.withColumn("_mx", F.max("n_events").over(w)).where(
        F.col("n_events") == F.col("_mx")
    )
    cand = last.where(F.col("value").isNotNull()).select(
        "window_start", "value", F.col("n_events").alias("n_total")
    )
    if verify_df is not None:
        ev = verify_df
    else:
        # batch twin of _events_source's normalization (battery.t applies
        # the same epoch-ns handling the streaming reader does)
        from presto_ethereum_spark.plans.battery import t as _battery_t

        ev = _battery_t(spark, sf_dir, "events").select(
            F.expr("(ts DIV 1000) DIV 3600000000 * 3600").alias("window_start"),
            F.col("user_id").cast("string").alias("value"),
        )
    exact = (
        ev.where(F.col("value").isNotNull())
        .join(F.broadcast(cand), ["window_start", "value"])
        .groupBy("window_start", "value", "n_total")
        .agg(F.count("*").alias("n"))
    )
    return exact.where(F.col("n") * (k + 1) > F.col("n_total")).select(
        "window_start",
        "value",
        F.col("n").cast("long").alias("n"),
        F.col("n_total").cast("long").alias("n_total"),
        # round-half-up integer share in parts-per-million via exact
        # DECIMAL(38,0) div (the eth_token_heavy_hitters column contract;
        # a double `/` could round UP across an integer boundary where
        # the oracle's integral `//` floors)
        F.expr(
            "CAST((2 * CAST(n AS DECIMAL(38,0)) * 1000000 + n_total)"
            " div (2 * CAST(n_total AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("share_e6"),
    )


SW_GAP_US = 3_600_000_000  # 1-hour session gap, matching run_sessionized


def session_window_stream(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """NATIVE session windows (F.session_window): the engine-delegated twin
    of sessionized_stream's applyInPandasWithState operator — Spark merges
    per-key event-time intervals that overlap under the gap inside the
    streaming state store, so the operator needs no custom Python state at
    all.  A session window's end is defined as last-event + gap; the
    select subtracts the gap back out so ``session_end_us`` is the last
    event's timestamp, directly comparable to the custom operator and to
    the batch lag/cumsum closed form the oracle runs.

    unix_micros(window.start/end) reads instants — session-timezone
    independent (the tz robustness audit covers this entry like any
    other).  At scale: one shuffle on user_id; state is one (start, end,
    count) interval per OPEN session per user, merged and expired by the
    watermark — the custom operator holds the same interval in its own
    state row, so the two differ in WHERE the merge logic runs (JVM state
    store vs Arrow-batch Python), not in state size."""
    stream = (
        source if source is not None else _events_source(spark, sf_dir)
    ).withColumn("event_time", F.timestamp_micros(F.col("t_us")))
    return (
        stream.withWatermark("event_time", "2 hours")
        .groupBy(
            F.col("user_id"),
            F.session_window("event_time", "1 hour").alias("w"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            (F.unix_micros("w.end") - F.lit(SW_GAP_US)).alias("session_end_us"),
            "n_events",
        )
    )


def run_session_window(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Settle the native session-window stream.  COMPLETE mode on purpose:
    the drain's final watermark stops delay-behind-max-event-time, so
    append mode would hold back sessions ending inside the last watermark
    window (measured: 903 of 906 sessions at sf0.001) — complete mode
    emits the full settled state, making the result batch-equal."""
    return settle_to_memory(
        spark,
        session_window_stream(spark, sf_dir, source),
        "stream_swin",
        "complete",
    )


EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("n_seen", LongType()),
        StructField("n_obs", LongType()),
        StructField("ewma_num", LongType()),
        StructField("ewma_den", LongType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("t_us", ArrayType(LongType())),
        StructField("event_id", ArrayType(LongType())),
        StructField("cents", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)

EWMA_WINDOW = 20  # newest-m dyadic EWMA window (operators/temporal.ewma_last)


def ewma_stream(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Per-user streaming EWMA (alpha = 1/2 over the newest 20
    observations) — the batch rel_ewma_value smoother carried into
    Structured Streaming with BOUNDED per-key state.

    The naive streaming EWMA folds arrival order into the state
    (s' = (s + x)/2), which makes the result micro-batch-split dependent
    the moment events arrive out of event-time order.  This operator
    instead keeps the newest-20 observation BUFFER keyed by
    (t_us, event_id): top-k-by-timestamp is a commutative, associative,
    idempotent merge (the newest 20 of a union are among each part's
    newest 20), so the settled buffer — and therefore the dyadic
    weighted sum computed from it — is bit-identical to the batch
    closed form under ANY split.  Same design move as
    stream_kmv_distinct: replace an order-sensitive fold with a
    mergeable summary of identical size.

    State: <= 20 (t_us, event_id, cents) triples + one counter per user.
    Weights are exact powers of two (num <= cents * 2^20 << 2^53), so
    both engines report the identical BIGINT rational; the graded double
    is computed from it outside the stream.  ``n_seen`` is the monotone
    total-events counter the settle wrapper keys on."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        source if source is not None else _events_source(spark, sf_dir)
    ).select(
        F.col("user_id").alias("key"),
        F.col("t_us"),
        F.col("event_id"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    ).where(F.col("key").isNotNull() & F.col("cents").isNotNull())

    def upd(key, pdf_iter, state: GroupState):
        (k,) = key
        if state.exists:
            ts, ids, cs, n_seen = state.get
            rows = list(zip(ts, ids, cs))
        else:
            rows, n_seen = [], 0
        for pdf in pdf_iter:
            n_seen += len(pdf)
            rows.extend(
                zip(
                    (int(x) for x in pdf["t_us"]),
                    (int(x) for x in pdf["event_id"]),
                    (int(x) for x in pdf["cents"]),
                )
            )
        # newest EWMA_WINDOW by (t_us, event_id) desc — the mergeable top-k
        rows.sort(key=lambda r: (r[0], r[1]), reverse=True)
        rows = rows[:EWMA_WINDOW]
        state.update(
            ([r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows], n_seen)
        )
        m = len(rows)
        # rows[0] is newest (rn=1): weight 2^(m-1) .. oldest weight 2^0
        num = sum(c << (m - 1 - i) for i, (_, _, c) in enumerate(rows))
        yield pd.DataFrame(
            {
                "key": [int(k)],
                "n_seen": [n_seen],
                "n_obs": [m],
                "ewma_num": [num],
                "ewma_den": [(1 << m) - 1],
            }
        )

    return stream.groupBy("key").applyInPandasWithState(
        upd,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_ewma(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Settle the EWMA stream, keep the last emit per user (max of the
    monotone n_seen counter), and derive the graded double from the exact
    BIGINT rational — the identical division sequence the oracle runs."""
    settled = settle_to_memory(
        spark, ewma_stream(spark, sf_dir, source), "stream_ewma", "append"
    )
    w = Window.partitionBy("key").orderBy(F.desc("n_seen"))
    return (
        settled.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn(
            "ewma",
            F.col("ewma_num").cast("double")
            / F.col("ewma_den").cast("double")
            / F.lit(100),
        )
    )


FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_seen", LongType()),
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
        StructField("steps_completed", IntegerType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t_view", LongType()),
        StructField("t_click", LongType()),
        StructField("t_purchase", LongType()),
        StructField("n_seen", LongType()),
    ]
)

FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_stream(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Streaming first-occurrence funnel: per user, the earliest timestamp
    of each step and how many steps were completed in order — the CEP-style
    pattern detector run as standing state over the event firehose.

    State is THREE nullable longs + a counter per user (min timestamp per
    step), merged by MIN — commutative, associative, idempotent, so the
    settled verdict is split-invariant by construction.  The funnel
    definition is strict ordering of FIRST occurrences
    (t_view < t_click < t_purchase), deliberately different from
    rel_funnel_steps' conditional chain (min click AFTER first view):
    the conditional chain is not computable from O(1) mergeable state —
    a late-arriving earlier view can invalidate a conditioned click min
    that only a full event replay could repair — while first-occurrence
    mins absorb late data exactly.  That trade (restart-safe O(1) state
    vs replay semantics) is the standard streaming-funnel design choice,
    and having BOTH graded pins each contract."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = (
        source if source is not None else _events_source(spark, sf_dir)
    ).select(
        "user_id",
        F.col("event_type"),
        F.col("t_us"),
    ).where(
        F.col("user_id").isNotNull() & F.col("event_type").isin(*FUNNEL_STEPS)
    )

    def upd(key, pdf_iter, state: GroupState):
        (uid,) = key
        if state.exists:
            tv, tc, tp, n_seen = state.get
        else:
            tv = tc = tp = None
            n_seen = 0
        mins = {"view": tv, "click": tc, "purchase": tp}
        for pdf in pdf_iter:
            n_seen += len(pdf)
            for step, t in zip(pdf["event_type"], pdf["t_us"]):
                t = int(t)
                cur = mins[step]
                if cur is None or t < cur:
                    mins[step] = t
        tv, tc, tp = mins["view"], mins["click"], mins["purchase"]
        state.update((tv, tc, tp, n_seen))
        if tv is None:
            steps = 0
        elif tc is None or tc <= tv:
            steps = 1
        elif tp is None or tp <= tc:
            steps = 2
        else:
            steps = 3
        yield pd.DataFrame(
            {
                "user_id": [int(uid)],
                "n_seen": [n_seen],
                "t_view": [tv],
                "t_click": [tc],
                "t_purchase": [tp],
                "steps_completed": [steps],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        upd,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_funnel(
    spark: SparkSession,
    sf_dir: str,
    source: DataFrame | None = None,
) -> DataFrame:
    """Settle the funnel stream and keep the last emit per user."""
    settled = settle_to_memory(
        spark, funnel_stream(spark, sf_dir, source), "stream_funnel", "append"
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    return (
        settled.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
