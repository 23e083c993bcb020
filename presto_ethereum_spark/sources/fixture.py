"""Fixture-backed chain source: the offline equivalent of the reference's
JSON-RPC connector.

A nested ``chain_blocks`` parquet (FIXTURES.md §1) stands in for the node:
one row per block with embedded transactions and receipt logs — the exact
information one ``eth_getBlockByNumber(n, true)`` plus per-tx
``eth_getTransactionReceipt`` round-trip yields (EthereumRecordSet.java:48-56,
EthereumLogLazyIterator.java:29-61).  The three public tables are *derived*
(sources/decode.py), so predicate pushdown, column pruning, and partition
pruning all come from the parquet scan via Catalyst:

- ``block_number`` range predicates prune parquet row groups on ``number``
  (the reference's only documented pushdown, README.md:15);
- ``block_timestamp`` ranges prune via parquet min/max on ``timestamp`` —
  replacing the reference's planning-time RPC binary search
  (EthereumMetadata.java:293-318) with storage statistics;
- queries that never touch log-derived columns never deserialize the
  ``transactions.logs`` subtree (columnar pruning ≈ the reference's lazy
  receipt fetch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_ethereum_spark.schemas import TABLE_BLOCK, TABLE_ERC20, TABLE_TRANSACTION
from presto_ethereum_spark.sources.decode import (
    blocks_from_chain,
    erc20_from_chain,
    transactions_from_chain,
    truncate_varchar_bounds,
)

_DERIVE = {
    TABLE_BLOCK: blocks_from_chain,
    TABLE_TRANSACTION: transactions_from_chain,
    TABLE_ERC20: erc20_from_chain,
}


class EthereumFixtureSource:
    """Loads the nested chain snapshot and exposes the three tables.

    Each table is derived once per source: :meth:`table` returns the same
    DataFrame on every call, and :meth:`register_views` registers those
    DataFrames, so the decode tree (the ERC-20 token map and hex decode
    included) is built and analysed once, not per query.  A derived table
    is a pure function of :attr:`chain` and ``strict_varchar``, which are
    fixed for the source's lifetime."""

    def __init__(
        self, spark: SparkSession, chain_path: str, strict_varchar: bool = False
    ):
        """``strict_varchar=True`` applies the reference's varchar(n)
        truncation widths to every bounded column
        (decode.truncate_varchar_bounds) — exact Presto-engine parity for
        malformed inputs; off by default since well-formed chain data never
        exceeds the declared widths."""
        self.spark = spark
        self.chain_path = chain_path
        self.strict_varchar = strict_varchar
        self._chain: DataFrame | None = None
        self._tables: dict[str, DataFrame] = {}

    @property
    def chain(self) -> DataFrame:
        if self._chain is None:
            if self.chain_path.rstrip("/").endswith((".json", ".jsonl")):
                # JSON-lines chain snapshot (the shape an eth_getBlockByNumber
                # dump produces) — read with the explicit nested schema so
                # types match the parquet path exactly (no inference drift)
                from presto_ethereum_spark.schemas import CHAIN_BLOCK_SCHEMA

                self._chain = self.spark.read.schema(CHAIN_BLOCK_SCHEMA).json(
                    self.chain_path
                )
            else:
                self._chain = self.spark.read.parquet(self.chain_path)
        return self._chain

    def _derive(self, chain: DataFrame, name: str) -> DataFrame:
        """The one table dispatch of :meth:`table` and
        :meth:`table_for_block_range`: decode ``name`` from ``chain`` and
        apply the varchar truncation when ``strict_varchar`` is on."""
        name = name.lower()
        derive = _DERIVE.get(name)
        if derive is None:
            # Unknown table -> error, mirroring EthereumTable.java:7-14 /
            # EthereumMetadata.java:71-81.
            raise ValueError(
                f"Unknown table: {name!r} (expected block|transaction|erc20)"
            )
        out = derive(chain)
        return truncate_varchar_bounds(out, name) if self.strict_varchar else out

    def table(self, name: str) -> DataFrame:
        key = name.lower()
        if key not in self._tables:
            self._tables[key] = self._derive(self.chain, key)
        return self._tables[key]

    def table_for_block_range(
        self, name: str, lo: int | None = None, hi: int | None = None
    ) -> DataFrame:
        """Block-range pushdown, the reference's only documented predicate
        transposition (EthereumMetadata.java:179-199, README.md:15): a range
        on block_number / tx_blocknumber / erc20_blocknumber restricts the
        *chain scan* itself (parquet row-group pruning on ``number``) instead
        of filtering after the explode.  Matches the reference's unenforced
        contract: every row of the pruned scan is still produced, and the
        caller's own filter re-applies the predicate (EthereumMetadata.java:236).
        """
        chain = self.chain
        if lo is not None:
            chain = chain.where(F.col("number") >= lo)
        if hi is not None:
            chain = chain.where(F.col("number") <= hi)
        return self._derive(chain, name)

    def register_views(self) -> None:
        """``SHOW TABLES`` parity: block / erc20 / transaction."""
        for name in (TABLE_BLOCK, TABLE_TRANSACTION, TABLE_ERC20):
            self.table(name).createOrReplaceTempView(name)
