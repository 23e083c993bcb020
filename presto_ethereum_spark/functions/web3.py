"""The reference's 9 scalar web3 SQL functions (udfs/EthereumUDFs.java:61-140),
re-expressed Spark-first.

Two classes:

- **Pure math** (``fromWei``/``toWei``): plain Catalyst expressions — no
  RPC, no Python worker, deterministic, safe anywhere in a plan.
  ``register_udfs`` registers them as SQL functions (``CREATE TEMPORARY
  FUNCTION``), which Spark inlines into the plan; ``from_wei``/``to_wei``
  build the same expression as a Column.  Both come from the one
  ``WEI_UNIT_FACTORS`` table, so a literal unit folds to a constant
  factor.  Unit names are matched case-insensitively; an unknown or NULL
  unit raises ``Unknown wei unit`` on every row, NULL values included
  (EthereumUDFs.java:121-122 / enum valueOf semantics).

- **Chain state** (``eth_gasPrice``, ``eth_blockNumber``, ``eth_getBalance``,
  ``eth_getTransactionCount``, ``isContract``): each call in the reference is
  one synchronous RPC per row (udfs/EthereumUDFs.java:75-94) — the worst cost
  profile in the system.  Here they run as Arrow-batched pandas UDFs over a
  pluggable :class:`ChainStateBackend`:

  * ``RpcBackend`` — JSON-RPC with **request batching** (one HTTP POST
    per Arrow batch instead of one per row: >=100x fewer round-trips than
    the reference at scale);
  * ``FixtureBackend`` — hermetic chain_state lookup table for tests
    (FIXTURES.md §2).

  All chain-state UDFs are registered ``asNondeterministic()`` so Catalyst
  never collapses, reorders across barriers, or re-executes them on the
  assumption of purity — results depend on chain head (SURVEY.md §7 risk
  list).

The three ``eth_getBalance``/``eth_getTransactionCount`` overloads (address),
(address, block-number), (address, block-name) collapse into one Python
signature with an optional second argument accepting int | str | None.
"""

from __future__ import annotations

import numbers
import operator
import os
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType, LongType

from presto_ethereum_spark.constants import WEI_UNIT_FACTORS

__all__ = [
    "from_wei",
    "to_wei",
    "eth_gas_price",
    "eth_block_number",
    "make_chain_state_udfs",
    "register_udfs",
    "ChainStateBackend",
    "FixtureBackend",
    "RpcBackend",
]


# ---------------------------------------------------------------------------
# Pure unit conversions — EthereumUDFs.java:117-133, EthereumUnit.java:3-27
# ---------------------------------------------------------------------------


_UNKNOWN_UNIT = "Unknown wei unit: "


def _wei_sql(op: str) -> str:
    """The SQL body of ``fromWei`` (``op`` ``/``) or ``toWei`` (``*``) over
    the parameters ``num`` and ``unit``.  The factor is checked before
    ``num`` is read, so a bad unit raises even where the value is NULL."""
    pairs = ", ".join(f"'{u}', {f!r}D" for u, f in WEI_UNIT_FACTORS.items())
    factor = f"map({pairs})[upper(unit)]"
    return (
        f"CASE WHEN {factor} IS NULL THEN raise_error(concat("
        f"'{_UNKNOWN_UNIT}', coalesce(upper(unit), 'NULL'))) "
        f"ELSE num {op} {factor} END"
    )


def _wei_col(num: Column | str, unit: Column | str, op) -> Column:
    """:func:`_wei_sql` as a Column; string arguments name columns."""
    num, unit = (F.col(c) if isinstance(c, str) else c for c in (num, unit))
    pairs = [F.lit(x) for kv in WEI_UNIT_FACTORS.items() for x in kv]
    factor = F.create_map(*pairs)[F.upper(unit)]
    error = F.raise_error(
        F.concat(F.lit(_UNKNOWN_UNIT), F.coalesce(F.upper(unit), F.lit("NULL")))
    )
    return F.when(factor.isNull(), error).otherwise(op(num.cast("double"), factor))


def from_wei(num: Column | str, unit: Column | str) -> Column:
    """fromWei(value, unit) -> value / unit_factor (EthereumUDFs.java:117-124)."""
    return _wei_col(num, unit, operator.truediv)


def to_wei(num: Column | str, unit: Column | str) -> Column:
    """toWei(value, unit) -> value * unit_factor (EthereumUDFs.java:126-133)."""
    return _wei_col(num, unit, operator.mul)


# ---------------------------------------------------------------------------
# Chain-state backends
# ---------------------------------------------------------------------------


class ChainStateBackend:
    """Answers point chain-state queries for a batch of addresses.

    ``block`` is the reference's third argument: None/'latest'/'earliest'/
    'pending' or a block number (udfs/EthereumUDFs.java:75-94)."""

    def get_balance(self, addresses: pd.Series, block) -> pd.Series:
        raise NotImplementedError

    def get_transaction_count(self, addresses: pd.Series, block) -> pd.Series:
        raise NotImplementedError

    def get_code(self, addresses: pd.Series, block) -> pd.Series:
        raise NotImplementedError

    def gas_price(self) -> float:
        raise NotImplementedError

    def block_number(self) -> int:
        raise NotImplementedError


class FixtureBackend(ChainStateBackend):
    """Hermetic backend over a ``chain_state`` mapping (FIXTURES.md §2):
    address -> {balance, tx_count, code}.  Used by tests and offline demos.

    ``checkpoints`` (block_number -> state mapping) enables the reference's
    HISTORICAL overloads (udfs/EthereumUDFs.java:75-94: ``eth_getBalance
    (addr, blockNumber)`` / ``(addr, blockName)``): a numeric ``block``
    resolves to the greatest checkpoint <= block (chain semantics — account
    state persists until the next state-changing block), blocks before the
    first checkpoint see genesis defaults (balance 0, nonce 0, no code),
    and ``head``/'latest'/'pending' resolve to ``state``."""

    def __init__(
        self,
        state: dict,
        head: int = 0,
        gas_price_wei: float = 2e10,
        checkpoints: dict | None = None,
    ):
        self._state = {k.lower(): v for k, v in state.items()}
        self._head = head
        self._gas_price = gas_price_wei
        # timeline: sorted (block, state) pairs; the head state is itself
        # the checkpoint at `head`
        timeline = {
            int(b): {k.lower(): v for k, v in st.items()}
            for b, st in (checkpoints or {}).items()
        }
        timeline[int(head)] = self._state
        self._timeline = sorted(timeline.items())

    def _state_at(self, block) -> dict:
        if block is None or block in ("latest", "pending"):
            return self._state
        if block == "earliest":
            return self._timeline[0][1]
        import bisect

        keys = [b for b, _ in self._timeline]
        i = bisect.bisect_right(keys, int(block)) - 1
        return self._timeline[i][1] if i >= 0 else {}

    def _col(self, addresses: pd.Series, field: str, default, block=None):
        st = self._state_at(block)
        return addresses.str.lower().map(
            lambda a: st.get(a, {}).get(field, default)
        )

    def get_balance(self, addresses, block):
        return self._col(addresses, "balance", 0.0, block).astype("float64")

    def get_transaction_count(self, addresses, block):
        return self._col(addresses, "tx_count", 0, block).astype("int64")

    def get_code(self, addresses, block):
        return self._col(addresses, "code", "0x", block)

    def gas_price(self):
        return self._gas_price

    def block_number(self):
        return self._head


class RpcBackend(ChainStateBackend):
    """JSON-RPC 2.0 batch client.  One HTTP POST per pandas batch (vs the
    reference's one RPC per row), sent through the chain source's
    :class:`~presto_ethereum_spark.sources.rpc.HttpJsonRpcTransport`: transient
    failures retry there, and a response carrying an ``error`` member raises
    ``RpcError`` instead of reading as a zero balance.

    Endpoint selection mirrors EthereumConnectorConfig.java:6-39: a single
    ``url`` option covers the http/infura variants (both are HTTP POST); ipc
    sockets are out of scope for a distributed engine.
    """

    def __init__(self, url: str | None = None, timeout: float = 30.0):
        from presto_ethereum_spark.sources.rpc import HttpJsonRpcTransport

        self.url = url or os.environ.get("ETH_RPC_URL", "http://localhost:8545/")
        self.transport = HttpJsonRpcTransport(self.url, timeout=timeout)

    @staticmethod
    def _block_param(block) -> str:
        if block is None:
            return "latest"
        # numbers.Integral also covers the numpy ints a pandas batch yields
        if isinstance(block, numbers.Integral):
            return hex(int(block))
        return str(block)  # 'latest' | 'earliest' | 'pending'

    def _batch(self, method: str, addresses: pd.Series, block) -> list:
        tag = self._block_param(block)
        return self.transport._call(method, [[addr, tag] for addr in addresses])

    def get_balance(self, addresses, block):
        res = self._batch("eth_getBalance", addresses, block)
        return pd.Series(
            [float(int(r, 16)) if r else 0.0 for r in res], index=addresses.index
        )

    def get_transaction_count(self, addresses, block):
        res = self._batch("eth_getTransactionCount", addresses, block)
        return pd.Series(
            [int(r, 16) if r else 0 for r in res], index=addresses.index
        )

    def get_code(self, addresses, block):
        res = self._batch("eth_getCode", addresses, block)
        return pd.Series([r or "0x" for r in res], index=addresses.index)

    def gas_price(self):
        [r] = self.transport._call("eth_gasPrice", [[]])
        return float(int(r, 16))

    def block_number(self):
        return self.transport.block_number()


# ---------------------------------------------------------------------------
# Chain-state UDF factory
# ---------------------------------------------------------------------------


def make_chain_state_udfs(backend: ChainStateBackend):
    """Build the 5 chain-state UDFs bound to a backend.

    Returns a dict of name -> pandas UDF (all nondeterministic).  The
    ``block`` argument is passed as a column (use ``F.lit(...)``); the first
    value of the batch selects the block tag, matching the scalar-argument
    shape of the reference's overloads.
    """

    @F.pandas_udf(DoubleType())
    def eth_getBalance(addr: pd.Series, block: pd.Series) -> pd.Series:
        return backend.get_balance(addr, block.iloc[0] if len(block) else None)

    @F.pandas_udf(LongType())
    def eth_getTransactionCount(addr: pd.Series, block: pd.Series) -> pd.Series:
        return backend.get_transaction_count(
            addr, block.iloc[0] if len(block) else None
        )

    @F.pandas_udf(BooleanType())
    def isContract(addr: pd.Series, block: pd.Series) -> pd.Series:
        # eth_getCode != "0x" (udfs/EthereumUDFs.java:135-140)
        return backend.get_code(addr, block.iloc[0] if len(block) else None) != "0x"

    @F.pandas_udf(DoubleType())
    def eth_gasPrice(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one RPC per partition, value repeated — vs one per row in the
        # reference (udfs/EthereumUDFs.java:61-66)
        price = backend.gas_price()
        for batch in it:
            yield pd.Series(price, index=batch.index)

    @F.pandas_udf(LongType())
    def eth_blockNumber(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        head = backend.block_number()
        for batch in it:
            yield pd.Series(head, index=batch.index)

    return {
        "eth_getBalance": eth_getBalance.asNondeterministic(),
        "eth_getTransactionCount": eth_getTransactionCount.asNondeterministic(),
        "isContract": isContract.asNondeterministic(),
        "eth_gasPrice": eth_gasPrice.asNondeterministic(),
        "eth_blockNumber": eth_blockNumber.asNondeterministic(),
    }


def eth_gas_price(backend: ChainStateBackend):
    return make_chain_state_udfs(backend)["eth_gasPrice"]


def eth_block_number(backend: ChainStateBackend):
    return make_chain_state_udfs(backend)["eth_blockNumber"]


def register_udfs(
    spark: SparkSession, backend: ChainStateBackend | None = None
) -> None:
    """SQL-name registration for parity with EthereumPlugin.getFunctions()
    (EthereumPlugin.java:17-20): ``SELECT fromWei(tx_value, 'ETHER') ...``.
    ``fromWei``/``toWei`` are SQL functions, so they start no Python worker;
    the chain-state UDFs are registered only with a ``backend``."""
    for name, op in (("fromWei", "/"), ("toWei", "*")):
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(num DOUBLE, unit STRING)"
            f" RETURNS DOUBLE RETURN {_wei_sql(op)}"
        )
    if backend is not None:
        for name, udf in make_chain_state_udfs(backend).items():
            spark.udf.register(name, udf)
