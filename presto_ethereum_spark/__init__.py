"""presto_ethereum_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``Crypto-comet/presto-ethereum`` Presto connector.

The reference exposes the Ethereum chain as three SQL tables (``block``,
``transaction``, ``erc20``) plus 9 scalar web3 functions, and delegates all
relational execution to the Presto engine.  Here the equivalent surface is
expressed Spark-first:

- fixed :class:`~pyspark.sql.types.StructType` schemas (``schemas``),
- a fixture-backed source deriving all three tables from one nested chain
  snapshot (``sources.fixture``), mirroring the reference's
  one-``eth_getBlockByNumber``-serves-all design
  (reference: EthereumRecordCursor.java:49-196),
- a live JSON-RPC source on the PySpark 4 Python DataSource API with
  block-range partitions and planning-time predicate transposition
  (``sources.rpc``, ``plans.pushdown``),
- the 9 UDFs (``functions.web3``),
- the documented query corpus (``plans.golden``),
- plus large-scale training-data-pipeline operators (``operators.*``).
"""

from presto_ethereum_spark import zipcache

# first, so every directory read below is stamped: Spark's Python workers
# and planners import this package when they unpickle its code
zipcache.install()

from presto_ethereum_spark.schemas import (  # noqa: E402
    BLOCK_SCHEMA,
    ERC20_SCHEMA,
    TRANSACTION_SCHEMA,
)
from presto_ethereum_spark.session import get_spark, register_chain_views  # noqa: E402

__all__ = [
    "BLOCK_SCHEMA",
    "TRANSACTION_SCHEMA",
    "ERC20_SCHEMA",
    "get_spark",
    "register_chain_views",
]

__version__ = "0.1.0"
