"""UDF surface tests (SURVEY.md §2.C): all 15 unit names of fromWei/toWei
incl. aliases and case-insensitivity, round-trip property, unknown-unit
error, and the 5 chain-state functions over the hermetic fixture backend."""

import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import Row

from presto_ethereum_spark.constants import WEI_UNIT_FACTORS
from presto_ethereum_spark.functions.web3 import (
    FixtureBackend,
    from_wei,
    make_chain_state_udfs,
    register_udfs,
    to_wei,
)

ONE_ETHER = 1e18


@pytest.fixture(scope="module")
def unit_df(spark):
    rows = [
        Row(unit=u, factor=f, value=123.456 * f)
        for u, f in WEI_UNIT_FACTORS.items()
    ]
    return spark.createDataFrame(rows)


def test_from_wei_all_units(spark, unit_df):
    out = unit_df.select(
        "unit", "factor", from_wei(F.col("value"), F.col("unit")).alias("v")
    ).collect()
    assert len(out) == 16  # 11 factors, 16 names incl. aliases
    for r in out:
        assert r.v == pytest.approx(123.456), r.unit


def test_to_wei_inverse(spark, unit_df):
    out = unit_df.select(
        "unit", to_wei(F.lit(123.456), F.col("unit")).alias("v"), "value"
    ).collect()
    for r in out:
        assert r.v == r.value, r.unit


def test_case_insensitive_units(spark):
    df = spark.createDataFrame([Row(v=ONE_ETHER)])
    out = df.select(
        from_wei(F.col("v"), F.lit("ether")).alias("a"),
        from_wei(F.col("v"), F.lit("Ether")).alias("b"),
        from_wei(F.col("v"), F.lit("SHANNON")).alias("c"),
        from_wei(F.col("v"), F.lit("shannon")).alias("d"),
    ).first()
    assert out.a == out.b == 1.0
    assert out.c == out.d == 1e9


def test_round_trip_property(spark):
    import random

    rng = random.Random(7)
    rows = [
        Row(v=rng.uniform(1e-6, 1e24), unit=rng.choice(list(WEI_UNIT_FACTORS)))
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows)
    out = df.select(
        "v", from_wei(to_wei(F.col("v"), F.col("unit")), F.col("unit")).alias("rt")
    ).collect()
    for r in out:
        assert r.rt == pytest.approx(r.v, rel=1e-12)


def test_unknown_unit_raises(spark):
    df = spark.createDataFrame([Row(v=1.0)])
    with pytest.raises(Exception, match="Unknown wei unit"):
        df.select(from_wei(F.col("v"), F.lit("PARSEC"))).collect()


def _wei_forms(value: str, unit: str) -> list:
    """fromWei/toWei over the SQL operands ``value`` and ``unit``, each as
    the Column form and as the registered SQL function."""
    v, u = F.expr(value), F.expr(unit)
    return [
        from_wei(v, u),
        F.expr(f"fromWei({value}, {unit})"),
        to_wei(v, u),
        F.expr(f"toWei({value}, {unit})"),
    ]


@pytest.mark.parametrize(
    "value, unit",
    [
        ("CAST(NULL AS DOUBLE)", "'PARSEC'"),
        ("1.0D", "CAST(NULL AS STRING)"),
        ("CAST(NULL AS DOUBLE)", "CAST(NULL AS STRING)"),
    ],
)
def test_bad_unit_raises_on_every_row(spark, value, unit):
    """An unknown or NULL unit is an error (enum valueOf semantics), also on
    a row whose value is NULL: the unit is checked before the value."""
    register_udfs(spark)
    for col in _wei_forms(value, unit):
        with pytest.raises(Exception, match="Unknown wei unit"):
            spark.range(1).select(col).collect()


def test_null_value_with_valid_unit_is_null(spark):
    register_udfs(spark)
    row = spark.range(1).select(
        *_wei_forms("CAST(NULL AS DOUBLE)", "'eTher'"),
        *_wei_forms("2e18", "'eTher'"),
    ).first()
    assert list(row) == [None] * 4 + [2.0, 2.0, 2e36, 2e36]


D33 = "123456789012345678901234567890123"  # a 33-digit DECIMAL literal
# SQL operand -> its Python value: the conversions must equal double math
# on float(value), bit for bit, whatever the operand's SQL type
BIT_CASES = [
    ("123.456D", 123.456),
    ("9007199254740993L", 2**53 + 1),  # BIGINT above 2^53: rounds on cast
    ("0.1", Decimal("0.1")),
    (D33, Decimal(D33)),
    ("'4.2e21'", "4.2e21"),  # numeric STRING
]


def test_wei_bit_identical_to_double_math(spark):
    register_udfs(spark)
    units = spark.createDataFrame([(u,) for u in WEI_UNIT_FACTORS], "unit string")
    cols = [
        c.alias(f"c{i}_{j}")
        for i, (sql, _) in enumerate(BIT_CASES)
        for j, c in enumerate(_wei_forms(sql, "unit"))
    ]
    rows = units.select("unit", *cols).collect()  # one job
    assert len(rows) == len(WEI_UNIT_FACTORS)
    for r in rows:
        f = WEI_UNIT_FACTORS[r.unit]
        for i, (_, x) in enumerate(BIT_CASES):
            want = [float(x) / f] * 2 + [float(x) * f] * 2
            got = [r[f"c{i}_{j}"] for j in range(4)]
            assert got == want, (r.unit, BIT_CASES[i][0])


@pytest.fixture(scope="module")
def backend():
    return FixtureBackend(
        state={
            "0xAAA0000000000000000000000000000000000001": {
                "balance": 5 * ONE_ETHER,
                "tx_count": 7,
                "code": "0x",
            },
            "0xbbb0000000000000000000000000000000000002": {
                "balance": 0.0,
                "tx_count": 0,
                "code": "0x6060604052",
            },
        },
        head=4_147_350,
        gas_price_wei=21e9,
    )


def test_chain_state_udfs(spark, backend):
    udfs = make_chain_state_udfs(backend)
    df = spark.createDataFrame(
        [
            Row(addr="0xaaa0000000000000000000000000000000000001"),
            Row(addr="0xBBB0000000000000000000000000000000000002"),
            Row(addr="0xccc0000000000000000000000000000000000003"),
        ]
    )
    out = df.select(
        "addr",
        udfs["eth_getBalance"](F.col("addr"), F.lit("latest")).alias("bal"),
        udfs["eth_getTransactionCount"](F.col("addr"), F.lit("latest")).alias("n"),
        udfs["isContract"](F.col("addr"), F.lit("latest")).alias("c"),
        udfs["eth_gasPrice"](F.col("addr")).alias("gp"),
        udfs["eth_blockNumber"](F.col("addr")).alias("head"),
    ).collect()
    by = {r.addr[:5].lower(): r for r in out}
    assert by["0xaaa"].bal == 5 * ONE_ETHER and by["0xaaa"].n == 7
    assert by["0xaaa"].c is False
    assert by["0xbbb"].c is True  # code != "0x" => contract
    assert by["0xccc"].bal == 0.0 and by["0xccc"].n == 0  # unknown address
    assert all(r.gp == 21e9 and r.head == 4_147_350 for r in out)


def test_sql_registration(spark, backend):
    register_udfs(spark, backend)
    out = spark.sql(
        """SELECT fromWei(3e18, 'ETHER') AS eth,
                  toWei(2.0, 'GWEI') AS wei,
                  eth_blockNumber('x') AS head"""
    ).first()
    assert out.eth == 3.0
    assert out.wei == 2e9
    assert out.head == 4_147_350


def test_nondeterministic_flag(spark, backend):
    udfs = make_chain_state_udfs(backend)
    df = spark.createDataFrame([Row(addr="0xa")])
    for name, udf in udfs.items():
        if name in ("eth_gasPrice", "eth_blockNumber"):
            col = udf(F.col("addr"))
        else:
            col = udf(F.col("addr"), F.lit("latest"))
        jdf = df.select(col.alias("x"))._jdf
        det = jdf.queryExecution().analyzed().expressions().head().deterministic()
        assert det is False, name


def test_historical_checkpoint_resolution(spark):
    """The reference's historical overloads (udfs/EthereumUDFs.java:75-94):
    a numeric block resolves to the greatest checkpoint <= block, blocks
    before the first checkpoint see genesis defaults, 'earliest' is the
    first checkpoint, and 'latest'/None are the head state."""
    a = "0xaaa0000000000000000000000000000000000001"
    be = FixtureBackend(
        state={a: {"balance": 30.0, "tx_count": 9}},
        head=300,
        checkpoints={
            100: {a: {"balance": 10.0, "tx_count": 3}},
            200: {a: {"balance": 20.0, "tx_count": 6}},
        },
    )
    udfs = make_chain_state_udfs(be)
    df = spark.createDataFrame([Row(addr=a)])

    def bal_at(block):
        return df.select(
            udfs["eth_getBalance"](F.col("addr"), F.lit(block)).alias("b")
        ).first().b

    assert bal_at(50) == 0.0        # pre-genesis
    assert bal_at(100) == 10.0      # exact checkpoint
    assert bal_at(150) == 10.0      # between checkpoints -> previous
    assert bal_at(250) == 20.0
    assert bal_at(300) == 30.0      # head block == head state
    assert bal_at(9999) == 30.0     # past head
    assert bal_at("earliest") == 10.0
    assert bal_at("latest") == 30.0
    n = df.select(
        udfs["eth_getTransactionCount"](F.col("addr"), F.lit(150)).alias("n")
    ).first().n
    assert n == 3


def test_udaf_module_imports_without_session():
    """The UDAF/UDTF factories must be import-safe with no SparkSession:
    string returnTypes parse DDL through the active session, so
    construction is deferred to first call."""
    import importlib

    import presto_ethereum_spark.functions.udaf as m

    importlib.reload(m)  # would raise at decoration time if eager
    assert callable(m.median_udaf) and callable(m.split_sentences_udtf)


class TestUdtfs:
    def test_chunks_lateral_and_edges(self, spark):
        from presto_ethereum_spark.functions.udtfs import register_udtfs

        register_udtfs(spark)
        rows = spark.sql(
            "SELECT * FROM chunks('abcdefghij', 4, 1) ORDER BY chunk_id"
        ).collect()
        assert [(r["chunk_id"], r["chunk"]) for r in rows] == [
            (0, "abcd"), (1, "defg"), (2, "ghij"),
        ]
        # exact-fit text yields one chunk; bad params yield none
        assert spark.sql("SELECT * FROM chunks('abcd', 4, 1)").count() == 1
        assert spark.sql("SELECT * FROM chunks('abc', 0, 0)").count() == 0
        assert spark.sql("SELECT * FROM chunks('abc', 2, 2)").count() == 0

    def test_ngrams(self, spark):
        from presto_ethereum_spark.functions.udtfs import register_udtfs

        register_udtfs(spark)
        rows = spark.sql(
            "SELECT * FROM ngrams('a b  c d', 2) ORDER BY pos"
        ).collect()
        assert [(r["pos"], r["gram"]) for r in rows] == [
            (0, "a b"), (1, "b c"), (2, "c d"),
        ]


class TestRpcBackend:
    """RpcBackend posts through HttpJsonRpcTransport: block numbers go out
    as hex quantities and a rejected call raises instead of reading as 0."""

    def _backend(self, monkeypatch, reply):
        from presto_ethereum_spark.functions.web3 import RpcBackend

        sent = []

        def post_once(body):
            calls = json.loads(body)
            sent.extend(calls)
            return reply(calls)

        backend = RpcBackend("http://unused/")
        monkeypatch.setattr(backend.transport, "_post_once", post_once)
        return backend, sent

    def test_numpy_int_block_is_hex(self, monkeypatch):
        import pandas as pd

        backend, sent = self._backend(
            monkeypatch,
            lambda calls: [{"id": c["id"], "result": "0x2a"} for c in calls],
        )
        # the scalar a pandas UDF batch yields for F.lit(4000000)
        block = pd.Series([4_000_000], dtype="int32").iloc[0]
        out = backend.get_balance(pd.Series(["0xa", "0xb"]), block)
        assert [c["params"][1] for c in sent] == ["0x3d0900", "0x3d0900"]
        assert out.tolist() == [42.0, 42.0]

    @pytest.mark.parametrize("whole_batch", [False, True])
    def test_error_member_raises(self, monkeypatch, whole_batch):
        import pandas as pd

        from presto_ethereum_spark.sources.rpc import RpcError

        err = {"code": -32602, "message": "invalid argument 1"}

        def reply(calls):
            if whole_batch:  # one error object (id null) for the whole batch
                return {"id": None, "error": err}
            return [{"id": c["id"], "error": err} for c in calls]

        backend, _ = self._backend(monkeypatch, reply)
        addrs = pd.Series(["0xa"])
        for call in (
            backend.get_balance,
            backend.get_transaction_count,
            backend.get_code,
        ):
            with pytest.raises(RpcError, match="-32602"):
                call(addrs, "latest")
