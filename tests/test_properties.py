"""Property-based tests (SURVEY.md §5.4): hypothesis drives the engine's
actual worker-side callables (the pandas batches Spark ships to executors),
the wei conversions and the pushdown-invariance contract.

The pandas-level properties run hundreds of examples with no JVM round-trip
— the callable under test is byte-for-byte the one the pandas UDF executes.
The wei conversions are Catalyst expressions, so their hundreds of drawn
examples are collected first and checked in one Spark job.  The
Spark-level invariance property keeps examples few but end-to-end.
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from presto_ethereum_spark.constants import WEI_UNIT_FACTORS, hex_to_double

UNITS = sorted(WEI_UNIT_FACTORS)


# ---------------------------------------------------------------------------
# Unit conversion round trip — toWei(fromWei(x, u), u) ≈ x for every unit
# ---------------------------------------------------------------------------


def _wei_forms():
    """(fromWei, toWei) pairs: the Column form and the registered SQL
    function called by name."""
    from presto_ethereum_spark.functions.web3 import from_wei, to_wei

    return [
        (from_wei, to_wei),
        (
            lambda x, u: F.call_function("fromWei", x, u),
            lambda x, u: F.call_function("toWei", x, u),
        ),
    ]


def _drawn(strategy, max_examples: int) -> list:
    """Every example hypothesis draws from ``strategy``, collected without
    Spark, so all of them can be checked in one Spark job."""
    out: list = []

    @given(strategy)
    @settings(max_examples=max_examples, deadline=None, database=None)
    def collect(example):
        out.append(example)

    collect()
    return out


def test_wei_round_trip(spark):
    from presto_ethereum_spark.functions.web3 import register_udfs

    register_udfs(spark)
    draws = _drawn(
        st.tuples(
            st.lists(
                st.floats(
                    min_value=1e-9, max_value=1e30, allow_nan=False, allow_infinity=False
                ),
                min_size=1,
                max_size=64,
            ),
            st.sampled_from(UNITS),
        ),
        max_examples=200,
    )
    rows = [(v, unit) for vals, unit in draws for v in vals]
    df = spark.createDataFrame(rows, "v double, unit string")
    v, u = F.col("v"), F.col("unit")
    out = df.select(
        "v", "unit", *(fw(tw(v, u), u) for fw, tw in _wei_forms())
    ).collect()  # one job
    assert len(out) == len(rows)
    for r in out:
        assert all(
            math.isclose(rt, r.v, rel_tol=1e-12) for rt in r[2:]
        ), f"round trip drifted for unit {r.unit}: {r.v!r} -> {list(r[2:])}"


def test_from_wei_one_wei_is_inverse_factor(spark):
    from presto_ethereum_spark.functions.web3 import register_udfs

    register_udfs(spark)
    df = spark.createDataFrame([(1.0, u) for u in UNITS], "v double, unit string")
    v, u = F.col("v"), F.col("unit")
    out = df.select("unit", *(fw(v, u) for fw, _ in _wei_forms())).collect()
    assert sorted(r.unit for r in out) == UNITS
    for r in out:
        assert list(r[1:]) == [1.0 / WEI_UNIT_FACTORS[r.unit]] * 2, r.unit


# ---------------------------------------------------------------------------
# hex -> double decode: parity with Python's arbitrary-precision parse and
# the reference's failure semantics (EthereumERC20Utils.java:8-14)
# ---------------------------------------------------------------------------


@given(n=st.integers(min_value=0, max_value=(1 << 256) - 1))
@settings(max_examples=300, deadline=None)
def test_hex_to_double_matches_bigint_narrowing(n):
    # BigInteger(hex,16).doubleValue() == Python float(int) for values in
    # double range (both round-to-nearest-even).  The contract takes
    # "0x"-prefixed data only — the reference does substring(2) unguarded
    # (EthereumERC20Utils.java:11), so prefixless input is out of contract.
    assert hex_to_double(f"0x{n:x}") == float(n)


@given(junk=st.text(alphabet=" \t\r\n\x0b\f", max_size=12))
@settings(max_examples=20, deadline=None)
def test_hex_to_double_blank_is_zero(junk):
    assert hex_to_double(junk) == 0.0


def test_hex_to_double_erc721_guard():
    # non-numeric payload -> 0.0, never an exception
    assert hex_to_double("0xzznot-hex") == 0.0
    assert hex_to_double(None) == 0.0


# ---------------------------------------------------------------------------
# Pushdown invariance: pruning the chain scan never changes query results
# (the reference's unenforced-constraint contract, EthereumMetadata.java:236)
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("spark")
@given(
    bounds=st.tuples(
        st.integers(min_value=0, max_value=3000),
        st.integers(min_value=0, max_value=3000),
    ).map(lambda t: (min(t), max(t)))
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pushdown_never_changes_results(spark, chain_source, bounds):
    lo, hi = bounds
    pruned = (
        chain_source.table_for_block_range("block", lo, hi)
        .where(F.col("block_number").between(lo, hi))
        .select("block_number", "block_hash", "block_miner")
    )
    plain = (
        chain_source.table("block")
        .where(F.col("block_number").between(lo, hi))
        .select("block_number", "block_hash", "block_miner")
    )
    assert pruned.exceptAll(plain).count() == 0
    assert plain.exceptAll(pruned).count() == 0


# ---------------------------------------------------------------------------
# Funnel monotonicity + as-of direction duality (round-3 operators)
# ---------------------------------------------------------------------------


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),   # user
            st.sampled_from(["a", "b", "c"]),        # step type
            st.integers(min_value=0, max_value=50),  # time
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_funnel_counts_monotone_nonincreasing(spark, events):
    """Ordered-funnel invariant: users reaching step i+1 can never exceed
    users reaching step i, for ANY event set — pins the single-pass
    array-recurrence rewrite against ordering bugs the example tests
    might miss."""
    from pyspark.sql import Row

    from presto_ethereum_spark.operators.temporal import funnel_counts

    df = spark.createDataFrame(
        [Row(user_id=u, event_type=ty, t_us=t) for u, ty, t in events]
    )
    out = {
        r.stage: r.users
        for r in funnel_counts(df, ["a", "b", "c"]).collect()
    }
    assert out[1] >= out[2] >= out[3] >= 0


@given(
    lefts=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 40)), min_size=1, max_size=12
    ),
    rights=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 40)), min_size=1, max_size=12
    ),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_forward_is_backward_on_negated_time(spark, lefts, rights):
    """Direction duality: forward as-of on t equals backward as-of on -t
    (with the right side unique per (key, time)).  An algebraic identity
    every correct implementation must satisfy — catches tie-order and
    window-frame regressions in either direction."""
    from pyspark.sql import Row

    from presto_ethereum_spark.operators.temporal import asof_join

    rights = list({(k, t) for k, t in rights})  # unique per (key, time)
    L = spark.createDataFrame([Row(k=k, lt=t) for k, t in lefts])
    R = spark.createDataFrame([Row(k=k, rt=t, payload=k * 100 + t) for k, t in rights])
    fwd = {
        (r.k, r.lt): r.asof_payload
        for r in asof_join(
            L, R, on_left="k", left_time="lt", right_time="rt",
            right_value_cols=["payload"], direction="forward",
        ).collect()
    }
    Ln = L.select("k", (-F.col("lt")).alias("lt"))
    Rn = R.select("k", (-F.col("rt")).alias("rt"), "payload")
    bwd = {
        (r.k, -r.lt): r.asof_payload
        for r in asof_join(
            Ln, Rn, on_left="k", left_time="lt", right_time="rt",
            right_value_cols=["payload"], direction="backward",
        ).collect()
    }
    assert fwd == bwd


# ---------------------------------------------------------------------------
# Disjunctive (multi-island) pushdown invariance through the live source
# ---------------------------------------------------------------------------


@given(
    islands=st.lists(
        st.integers(min_value=1, max_value=2400), min_size=1, max_size=8
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_disjunctive_pushdown_never_changes_results(spark, islands):
    """For ANY set of block islands, the ordered-ranges pruning through
    the pushdown DataSource returns exactly the rows a plain filtered
    fixture scan returns — the reference's unenforced-constraint contract
    (EthereumMetadata.java:236) held under the getOrderedRanges extension
    (:190-199)."""
    from presto_ethereum_spark.sources.rpc import EthereumPushdownDataSource

    spark.dataSource.register(EthereumPushdownDataSource)
    chain = "fixtures/eth/chain_blocks.parquet"
    pruned = (
        spark.read.format("ethereum-pushdown")
        .option("table", "block")
        .option("path", chain)
        .load()
        .where(F.col("block_number").isin(*islands))
        .select("block_number", "block_miner")
    )
    plain = (
        spark.read.parquet(chain)
        .where(F.col("number").isin(*islands))
        .select(
            F.col("number").alias("block_number"),
            F.col("miner").alias("block_miner"),
        )
    )
    assert pruned.exceptAll(plain).count() == 0
    assert plain.exceptAll(pruned).count() == 0


# ---------------------------------------------------------------------------
# Round-3 operators: triangles vs brute force, budget-cap prefix law,
# SCD2 interval laws, heavy hitters vs naive groupBy
# ---------------------------------------------------------------------------


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        max_size=30,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_triangles_match_brute_force(spark, edges):
    from itertools import combinations

    from presto_ethereum_spark.operators import graph

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = sorted({n for e in und for n in e})
    want = {
        (x, y, z)
        for x, y, z in combinations(nodes, 3)
        if {(x, y), (x, z), (y, z)} <= und
    }
    if not und:
        return
    df = spark.createDataFrame(list(und), "src long, dst long")
    got = {(r["x"], r["y"], r["z"]) for r in graph.triangles(df).collect()}
    assert got == want


@given(
    costs=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25),
    budget=st.integers(min_value=0, max_value=120),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cap_by_budget_prefix_law(spark, costs, budget):
    """Kept rows are EXACTLY the maximal hash-order prefix whose cumulative
    cost fits the budget — replayed by an independent Python reference
    using the same md5 ordering."""
    import hashlib

    from presto_ethereum_spark.operators import sampling

    rows = [(i, c) for i, c in enumerate(costs)]
    df = spark.createDataFrame(rows, "k int, cost int").withColumn(
        "s", F.lit("g")
    )
    got = {
        r["k"]
        for r in sampling.cap_by_budget(df, "s", "k", "cost", budget).collect()
        if r["kept"]
    }
    order = sorted(rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    want, run = set(), 0
    for k, c in order:
        run += c
        if run > budget:
            break
        want.add(k)
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # key
            st.integers(min_value=0, max_value=20),   # time
            st.sampled_from(["x", "y"]),              # attr
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_scd2_interval_laws(spark, events):
    """Versions per key are 0..m consecutive; valid_from strictly
    increases; valid_to chains to the next valid_from (NULL last);
    adjacent versions never repeat the attr."""
    from presto_ethereum_spark.operators import temporal

    rows = [(k, t, a, i) for i, (k, t, a) in enumerate(events)]
    df = spark.createDataFrame(rows, "k int, t int, a string, eid int")
    out = temporal.scd2_build(df, "k", "t", "a", tiebreak_col="eid").collect()
    by_key: dict = {}
    for r in out:
        by_key.setdefault(r["key"], []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(len(vs)))
        for prev, cur in zip(vs, vs[1:]):
            assert prev["valid_to"] == cur["valid_from"]
            # equal valid_from is legal: simultaneous conflicting events
            # (tiebroken) yield a zero-length version [t, t)
            assert prev["valid_from"] <= cur["valid_from"]
            assert prev["attr"] != cur["attr"]
        assert vs[-1]["valid_to"] is None


@given(
    vals=st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=60),
)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_heavy_hitters_equal_naive(spark, vals):
    from presto_ethereum_spark.operators import frequency

    frac = 0.15
    df = spark.createDataFrame([(str(v),) for v in vals], "v string").repartition(3)
    got = {
        (r["value"], r["n"])
        for r in frequency.heavy_hitters(df, "v", frac).collect()
    }
    from collections import Counter

    cnt = Counter(str(v) for v in vals)
    floor_thresh = int(len(vals) * 0.15)
    want = {(v, c) for v, c in cnt.items() if c > floor_thresh}
    assert got == want


# ---------------------------------------------------------------------------
# SQL OR-of-ranges rewrite — soundness property: for ANY predicate tree the
# parser accepts, the produced range list COVERS every block the predicate
# can match (the rewrite may only narrow the scan, never lose a block).
# ---------------------------------------------------------------------------

_N_BLOCKS = 60


@st.composite
def _pred_tree(draw, depth=0):
    node = draw(
        st.sampled_from(
            ["cmp", "between", "in", "other"]
            + (["and", "or"] if depth < 3 else [])
        )
    )
    B = st.integers(min_value=1, max_value=_N_BLOCKS)
    if node == "cmp":
        op = draw(st.sampled_from([">", ">=", "<", "<=", "="]))
        v = draw(B)
        sql = f"block_number {op} {v}"
        fn = {
            ">": lambda b: b > v,
            ">=": lambda b: b >= v,
            "<": lambda b: b < v,
            "<=": lambda b: b <= v,
            "=": lambda b: b == v,
        }[op]
        return sql, fn
    if node == "between":
        a, b2 = sorted([draw(B), draw(B)])
        return f"block_number BETWEEN {a} AND {b2}", lambda x: a <= x <= b2
    if node == "in":
        vals = draw(st.lists(B, min_size=1, max_size=5, unique=True))
        vs = set(vals)
        return (
            "block_number IN (" + ", ".join(map(str, sorted(vals))) + ")",
            lambda x: x in vs,
        )
    if node == "other":
        # a non-block predicate: range-neutral; truth unknown to the
        # parser, so model it as "can be true anywhere"
        return "tx_value = 5", lambda x: True
    l_sql, l_fn = draw(_pred_tree(depth=depth + 1))
    r_sql, r_fn = draw(_pred_tree(depth=depth + 1))
    if node == "and":
        return f"({l_sql} AND {r_sql})", lambda x: l_fn(x) and r_fn(x)
    return f"({l_sql} OR {r_sql})", lambda x: l_fn(x) or r_fn(x)


@given(tree=_pred_tree())
@settings(max_examples=200, deadline=None)
def test_sql_ranges_cover_every_matching_block(tree):
    from presto_ethereum_spark.plans.pushdown import OPEN_END, ranges_from_sql

    sql, fn = tree
    ranges = ranges_from_sql(sql)

    def covered(b):
        return any(
            r.start <= b and (r.end == OPEN_END or b <= r.end) for r in ranges
        )

    for b in range(1, _N_BLOCKS + 1):
        if fn(b):
            assert covered(b), f"{sql!r} matches block {b} but ranges {ranges} drop it"
    # and the list is normalized: ordered, disjoint, non-empty members
    for r in ranges:
        assert r.end == OPEN_END or r.start <= r.end
    for a, b2 in zip(ranges, ranges[1:]):
        assert a.end != OPEN_END and a.end + 1 < b2.start


# ---------------------------------------------------------------------------
# As-of tolerance law: asof(tolerance=T) == asof() with matches further
# than T nulled out — for ANY data.
# ---------------------------------------------------------------------------


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=12, unique=True,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)),
        min_size=1, max_size=12, unique=True,
    ),
    tol=st.integers(0, 300),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_asof_tolerance_equals_postfiltered_asof(spark, lefts, rights, tol):
    from presto_ethereum_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(lefts, "k long, t long")
    rdf = spark.createDataFrame(
        [(k, t, f"v{k}_{t}") for k, t in rights], "k long, rt long, v string"
    )
    kw = dict(on_left="k", left_time="t", right_time="rt", on_right="k")
    with_tol = {
        (r["k"], r["t"]): (r["asof_rt"], r["asof_v"])
        for r in asof_join(ldf, rdf, tolerance=tol, **kw).collect()
    }
    plain = {
        (r["k"], r["t"]): (r["asof_rt"], r["asof_v"])
        for r in asof_join(ldf, rdf, **kw).collect()
    }
    for key, (rt, v) in plain.items():
        expect = (rt, v) if rt is not None and key[1] - rt <= tol else (None, None)
        assert with_tol[key] == expect


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("a b c d".split()), min_size=1, max_size=12
        ).map(" ".join),
        min_size=1,
        max_size=10,
    ),
    w=st.integers(min_value=1, max_value=4),
    t=st.integers(min_value=2, max_value=3),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chunk_filter_reconstruction_law(spark, docs, w, t):
    """For every doc: ceil-coverage chunking (n_chunks == ceil(tokens/w)),
    and re-interleaving kept spans with the independently recomputed
    removed spans at their positions reconstructs the original text — i.e.
    the operator removes exactly the corpus-frequent spans and nothing
    else, preserving order."""
    import math as m
    from collections import Counter

    from presto_ethereum_spark.operators.dedup import duplicate_chunk_filter

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in duplicate_chunk_filter(df, chunk_tokens=w, max_count=t).collect()
    }

    def chunks(text):
        toks = text.split(" ")
        return [
            " ".join(toks[i : i + w]) for i in range(0, len(toks), w)
        ]

    freq = Counter(c for _, d in rows for c in chunks(d))
    for i, d in rows:
        want_chunks = chunks(d)
        kept = [c for c in want_chunks if freq[c] < t]
        r = out[i]
        assert r["n_chunks"] == m.ceil(len(d.split(" ")) / w)
        assert r["n_removed"] == len(want_chunks) - len(kept)
        assert r["kept_text"] == " ".join(kept)


def test_hex_to_double_jvm_bit_identity_adversarial(spark):
    """The pure-JVM hex->double decode (decode.hex_to_double_col) must be
    BIT-identical to Python's float(int(h,16)) (constants.hex_to_double,
    what the Arrow path ships to executors).  The generator targets the
    guard/sticky boundary: V = ((m*2+1) << r) + s puts a 1 exactly in the
    round-guard position with the sticky decided ONLY by the low tail —
    the one place a naive truncate-to-64-bit conversion mis-rounds."""
    import random
    import struct

    from presto_ethereum_spark.constants import hex_to_double
    from presto_ethereum_spark.sources.decode import (
        hex_to_double_col,
        hex_to_double_col_arrow,
    )

    rng = random.Random(20260814)
    cases = [
        "0x", "0x0", "0x00", "0xff", None, "0x" + "f" * 64, "0x" + "0" * 64,
        "0xdeadbeef", "0xDEADBEEF", "garbage", "0xzz", "", "0",
        "0x1" + "0" * 63,
    ]
    for _ in range(1200):
        m = rng.getrandbits(53)
        r = rng.randint(1, 180)
        s = rng.choice([0, 1, rng.getrandbits(max(r - 1, 1))])
        cases.append("0x%x" % (((m * 2 + 1) << r) + s))
    for _ in range(800):
        nd = rng.randint(1, 68)
        cases.append("0x" + "".join(rng.choice("0123456789abcdef") for _ in range(nd)))

    df = spark.createDataFrame([(c,) for c in cases], "h string")
    out = df.select(
        "h",
        hex_to_double_col(F.col("h")).alias("jvm"),
        hex_to_double_col_arrow(F.col("h")).alias("arrow"),
    ).collect()
    for r in out:
        want = struct.pack("d", hex_to_double(r["h"]))
        assert struct.pack("d", r["jvm"]) == want, r["h"]
        assert struct.pack("d", r["arrow"]) == want, r["h"]


def test_hex_to_double_jvm_matches_arrow_on_fixture(spark):
    """Fixture-wide: the JVM and Arrow decode paths agree bit-for-bit on
    every ERC-20 value hex in the golden chain snapshot."""
    from presto_ethereum_spark.sources.decode import hex_to_double_col_arrow
    from presto_ethereum_spark.sources.fixture import EthereumFixtureSource

    src = EthereumFixtureSource(spark, "fixtures/eth/chain_blocks.parquet")
    chain = src.chain
    logs = chain.select(F.explode("transactions").alias("t")).select(
        F.explode("t.logs").alias("l")
    )
    both = logs.select(
        F.col("l.data").alias("h")
    ).select(
        "h",
        F.col("h").alias("h2"),
    )
    from presto_ethereum_spark.sources.decode import hex_to_double_col

    diff = (
        both.select(
            hex_to_double_col(F.col("h")).alias("jvm"),
            hex_to_double_col_arrow(F.col("h2")).alias("arrow"),
        )
        .where(
            ~(
                (F.col("jvm") == F.col("arrow"))
                | (F.isnan("jvm") & F.isnan("arrow"))
            )
        )
        .count()
    )
    assert diff == 0


def test_round_ratio_halfway_adversarial(spark):
    """Portable-rounding contract (ROUNDING_AUDIT.md): round6_ratio /
    roundN_ratio must equal the exact Fraction half-up AND DuckDB's
    integer formulation on tie-adversarial inputs — ratios whose exact
    decimal expansion terminates at digit scale+1 with a trailing 5, the
    one place Spark's round(double) (shortest-repr half-up) and DuckDB's
    (binary-value round) can each go either way.  The generator emits
    dyadic ties (den = 2^(d+1)), non-dyadic 10-smooth ties (den contains
    2^(d+1)*5^j), and exact j/10^(d+1) ties in lowest terms; a final
    assert pins that the legacy round(num/den, 6) formulation DOES
    diverge between the engines on this set — proving the hazard the
    integer path removes is real, not hypothetical."""
    import random
    from fractions import Fraction
    from math import gcd

    import duckdb

    from presto_ethereum_spark.operators.dedup import round6_ratio

    rng = random.Random(20260814)
    cases: list[tuple[int, int]] = [(442127, 14_000_000)]  # the r5 failure shape
    # dyadic ties: num odd, den = 128 * 2^k -> exact binary value, both
    # engines must agree on the exact .5
    for _ in range(400):
        den = 128 << rng.randint(0, 8)
        num = rng.randrange(1, den, 2)
        cases.append((num, den))
    # non-dyadic 10-smooth ties: den = 2^7 * 5^j * odd-cofactor-free
    for _ in range(400):
        den = 128 * 5 ** rng.randint(1, 4)
        num = rng.randrange(1, den, 2)
        cases.append((num, den))
    # exact j/10^7 ties in lowest terms (j ends in 5)
    for _ in range(400):
        j = rng.randrange(5, 10_000_000, 10)
        g = gcd(j, 10**7)
        cases.append((j // g, 10**7 // g))
    # generic ratios (no tie targeting) as a control
    for _ in range(800):
        den = rng.randint(1, 1_000_000)
        cases.append((rng.randint(0, den), den))

    df = spark.createDataFrame(cases, "num long, den long")
    got = (
        df.select(
            "num",
            "den",
            round6_ratio(F.col("num"), F.col("den")).alias("sim"),
            F.round(F.col("num") / F.col("den"), 6).alias("legacy"),
        )
        .collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (num BIGINT, den BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", cases)
    duck = {
        (n, d): (v, lv)
        for n, d, v, lv in con.execute(
            "SELECT num, den,"
            " CAST((2*num*1000000 + den) // (2*den) AS DOUBLE) / 1000000,"
            " round(CAST(num AS DOUBLE) / den, 6) FROM t"
        ).fetchall()
    }
    legacy_diverged = 0
    for r in got:
        n, d = r["num"], r["den"]
        # exact half-up oracle in rational arithmetic
        q = Fraction(n, d) * 10**6
        e6 = q.numerator // q.denominator
        if Fraction(n, d) * 10**6 - e6 >= Fraction(1, 2):
            e6 += 1
        want = e6 / 1e6
        assert r["sim"] == want == duck[(n, d)][0], (n, d, r["sim"], want)
        if r["legacy"] != duck[(n, d)][1]:
            legacy_diverged += 1
    # the hazard is real: the legacy double formulation disagrees between
    # engines somewhere in this adversarial set
    assert legacy_diverged > 0


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["g0", "g1"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=60,
    ),
    q=st.tuples(
        st.integers(min_value=1, max_value=99),
        st.just(100),
    ),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_percentile_disc_matches_sorted_scan(spark, data, q):
    """grouped_percentile_disc == the definitional sorted scan (smallest
    value whose cumulative frequency reaches num/den) for random multisets
    and a random rational quantile."""
    from presto_ethereum_spark.operators.stats import grouped_percentile_disc

    num, den = q
    df = spark.createDataFrame(data, "grp string, v int")
    got = {
        r["grp"]: (r["n"], r["p"])
        for r in grouped_percentile_disc(
            df, ["grp"], "v", [("p", num, den)]
        ).collect()
    }
    by_g = {}
    for g, v in data:
        by_g.setdefault(g, []).append(v)
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        want = next(v for i, v in enumerate(vs, 1) if i * den >= num * n)
        assert got[g] == (n, want)


@given(
    vals=st.lists(st.integers(min_value=0, max_value=30), min_size=2, max_size=40),
    shift=st.integers(min_value=1, max_value=10),
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_ks_drift_identity_and_shift(spark, vals, shift):
    """KS axioms on the exact integer statistic: identical slices have
    ks_num == 0; a strictly shifted copy has ks_num > 0."""
    from presto_ethereum_spark.operators.text import ks_drift

    rows = (
        [("a", v) for v in vals]
        + [("b", v) for v in vals]
        + [("c", v + shift) for v in vals]
    )
    df = spark.createDataFrame(rows, "source string, n_chars int")
    got = {
        (r["slice_a"], r["slice_b"]): r["ks_num"]
        for r in ks_drift(df, "source", "n_chars").collect()
    }
    assert got[("a", "b")] == 0
    assert got[("a", "c")] > 0
    assert got[("b", "c")] == got[("a", "c")]  # symmetry in the copy
