"""Derivation of the three public tables from a nested chain DataFrame.

The reference materializes all three tables from ONE upstream fetch per block
(``eth_getBlockByNumber(n, fullTx=true)`` + lazy per-tx receipts); rows are
produced one at a time by a pull cursor (EthereumRecordCursor.java:101-194).
Here the same derivation is declared over a nested ``chain_blocks`` DataFrame
(one row per block, embedded transactions, embedded receipt logs — see
FIXTURES.md §1) so Catalyst plans it: the explodes are narrow (no shuffle),
column pruning reaches the parquet scan, and everything except the >64-bit
hex value decode stays inside whole-stage codegen.

Scale notes (100 TB): all three derivations are shuffle-free projections of
the chain table, so they inherit its partitioning; filters on
``block_number`` / ``tx_blocknumber`` / ``erc20_blocknumber`` push down to
the parquet scan because they are generated before the explode where
possible (the exploded-row filters are re-derived from the parent column by
Catalyst's nested-pruning; we additionally keep the parent ``number`` column
in the explode output so range predicates prune row groups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from presto_ethereum_spark.constants import (
    ERC20_TOKEN_BY_ADDRESS,
    TRANSFER_EVENT_TOPIC,
    hex_to_double,
)

__all__ = [
    "blocks_from_chain",
    "transactions_from_chain",
    "erc20_from_chain",
    "h32_to_h20_col",
    "hex_to_double_col",
    "hex_to_u256_limb_cols",
    "u256_limb_sums_to_hex",
    "u256_limb_sums_to_signed_hex",
    "block_number_col",
    "erc20_transfers",
    "erc20_transfers_decimal",
    "ledger_legs",
    "erc20_transfer_deltas",
    "erc20_transfer_deltas_u256",
    "token_symbol_col",
    "truncate_varchar_bounds",
    "VARCHAR_BOUNDS",
]

# Declared varchar(n) widths per table (EthereumMetadata.java:48-51 constants
# H8=18 / H20=42 / H32=66 / H256=514, applied at :104-147).  Unbounded
# columns (extraData, tx_input, erc20_token) are absent.
VARCHAR_BOUNDS: dict[str, dict[str, int]] = {
    "block": {
        "block_hash": 66,
        "block_parenthash": 66,
        "block_nonce": 18,
        "block_sha3uncles": 66,
        "block_logsbloom": 514,
        "block_transactionsroot": 66,
        "block_stateroot": 66,
        "block_miner": 42,
    },
    "transaction": {
        "tx_hash": 66,
        "tx_blockhash": 66,
        "tx_from": 42,
        "tx_to": 42,
    },
    "erc20": {
        "erc20_from": 42,
        "erc20_to": 42,
        "erc20_txhash": 66,
    },
}


def truncate_varchar_bounds(df: DataFrame, table: str) -> DataFrame:
    """Reproduce the reference's varchar(n) TRUNCATION semantics: Presto's
    engine truncates any over-long string to the declared column width
    (EthereumRecordCursor.java:263-268 emits slices typed varchar(n);
    EthereumMetadata.java:104-147 declares the widths).  Spark's StringType
    is unbounded, so by default this repo passes malformed/over-long values
    through unchanged (a documented divergence, SURVEY §1.3); this opt-in
    applies ``substring(col, 1, n)`` per bounded column for exact parity.
    Well-formed chain data is never affected — the bound only bites on
    corrupt input."""
    for col, n in VARCHAR_BOUNDS.get(table.lower(), {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.substring(F.col(col), 1, n))
    return df


def h32_to_h20_col(col: Column) -> Column:
    """32-byte topic -> 20-byte address: ``"0x" + last 40 hex chars``
    (EthereumRecordCursor.java:433-435).  Pure string ops — JVM-side."""
    return F.concat(F.lit("0x"), F.substring(col, -40, 40))


@F.pandas_udf(DoubleType())
def _hex_to_double_udf(s):  # type: ignore[no-untyped-def]
    """Arbitrary-precision hex -> double (EthereumERC20Utils.java:8-14).

    Python ints parse unbounded hex natively; kept as the differential
    REFERENCE for the JVM expression below (bit-identity property-tested)
    and for callers that need Python's full int() lexical tolerance.
    """
    return s.map(hex_to_double)


def hex_to_double_col_arrow(col: Column) -> Column:
    """The Arrow/pandas-UDF decode path (reference implementation)."""
    return _hex_to_double_udf(col)


def hex_to_double_col(col: Column) -> Column:
    """Arbitrary-precision hex -> double, PURE JVM expressions — no Python
    in the scan pipeline (measured: the pandas-UDF version roughly doubled
    the erc20 aggregation's wall time; this keeps the whole decode inside
    WholeStageCodegen).

    Bit-exact to Python's ``float(int(h, 16))`` (EthereumERC20Utils.java's
    BigInteger -> double narrowing) by the guard/sticky argument:

    - strip the 2-char prefix, validate ``[0-9a-f]+``, strip leading zeros;
    - HIGH = first 15 hex digits as BIGINT via ``conv`` (exact: < 2^60);
      a leading nonzero digit makes HIGH >= 2^56, i.e. 57-60 significant
      bits, so rounding HIGH to double's 53-bit mantissa drops >= 4 bits —
      the round-guard bit lives strictly above bit 0;
    - STICKY: if any remaining digit is nonzero, set bit 0 of HIGH (odd?
      already set : +1).  Bit 0 is below the guard bit, so this changes
      only the sticky contribution — exactly what the dropped low digits
      contribute to correct rounding of the full integer;
    - scale by ``pow(2, 4k)`` (k = dropped digit count): an exact power of
      two, so the multiply shifts the exponent without re-rounding the
      mantissa.  CAST(BIGINT AS DOUBLE) is round-half-even (JLS 5.1.2),
      matching CPython exactly.

    Values past double range overflow the pow to +inf — same as the
    reference's BigInteger.doubleValue() and the Python fallback.  Parse
    failures -> 0.0 (the ERC-721 id-in-data guard).  Deliberate divergence
    from ``int()``'s lexical quirks (underscore separators, surrounding
    whitespace, sign prefixes): those parse as 0.0 here — none are valid
    JSON-RPC hex quantities."""
    h = F.lower(F.substring(col, 3, 1 << 30))
    t = F.regexp_replace(h, "^0+", "")
    n = F.length(t)
    high = F.conv(F.substring(t, 1, 15), 16, 10).cast("bigint")
    k = F.greatest(n - 15, F.lit(0))
    sticky = F.substring(t, 16, 1 << 30).rlike("[1-9a-f]")
    high_adj = F.when(sticky & (high % 2 == 0), high + 1).otherwise(high)
    return (
        F.when(col.isNull() | ~h.rlike("^[0-9a-f]+$"), F.lit(0.0))
        .when(n == 0, F.lit(0.0))
        .otherwise(
            high_adj.cast("double") * F.pow(F.lit(2.0), (k * 4).cast("double"))
        )
    )


U256_LIMB_BASE = 16**15  # 2^60: each limb exact in BIGINT/conv, 5 limbs = 2^256

# 1-based (pos, len) slices over the lpad-64 hex body, LOW limb first:
# l0 = hex[50:65) (bits 0-59), l1, l2, l3 (15 hex each), l4 = hex[1:5) (top
# 16 bits).  Binary-aligned on purpose: base 16^15 limbs carry-normalize and
# render back to hex with 64-bit arithmetic only — no 256-bit type needed on
# either engine (the DuckDB oracles use the same slices in HUGEINT).
U256_LIMB_SLICES = [(50, 15), (35, 15), (20, 15), (5, 15), (1, 4)]
U256_LIMBS = [f"l{i}" for i in range(5)]

# mint source and burn sink of the Transfer ledger
ZERO_ADDRESS = "0x" + "0" * 40


def hex_to_u256_limb_cols(col: Column) -> list[Column]:
    """FULL-RANGE exact uint256 decode: hex quantity -> five base-16^15
    limbs [l0 (low) .. l4 (top)], each DECIMAL(38,0), pure JVM expressions
    (conv on <=15 hex digits is exact; no Python in the scan path — the
    hex_to_double_col design argument).  Retires the exact family's
    >2^120 exclusion: any uint256 a real token can emit decodes exactly.
    Signed arithmetic distributes over limbs (-v == per-limb negation), so
    ledger deltas sum per-limb with map-side partials and re-normalize
    once per GROUP at read-out (u256_limb_sums_to_hex).  Unparseable or
    over-long hex -> all-NULL limbs (the exact path's honest failure;
    callers filter wire shapes beforehand, as erc20_transfers does)."""
    body = F.lower(F.substring(col, 3, 1 << 30))
    h = F.lpad(body, 64, "0")
    ok = body.rlike("^[0-9a-f]{1,64}$")
    return [
        F.when(ok, F.conv(F.substring(h, pos, ln), 16, 10).cast("decimal(38,0)"))
        for pos, ln in U256_LIMB_SLICES
    ]


def _u256_carry_normalize(limbs: list[Column]) -> tuple[Column, Column]:
    """Floored carry normalization of SIGNED per-limb sums (low->top,
    DECIMAL(38,0)): pmod gives the non-negative residue and the exactly-
    divisible quotient propagates (possibly negative) carries upward, so
    after the chain every rendered limb is in [0, 16^15) and only the TOP
    limb can be negative — iff the total is negative.  Returns
    (rendered_hex_without_sign_check, top_limb): the 0x+64-hex string
    assuming top in [0, 16^4), and the raw top limb for the caller's
    sign/overflow policy (strict vs signed read-out)."""
    B = F.lit(U256_LIMB_BASE).cast("decimal(38,0)")
    parts: list[Column] = []
    carry: Column = F.lit(0).cast("decimal(38,0)")
    for limb in limbs[:4]:
        v = limb + carry
        m = F.pmod(v, B)
        carry = ((v - m) / B).cast("decimal(38,0)")
        parts.append(F.lpad(F.lower(F.conv(m.cast("string"), 10, 16)), 15, "0"))
    top = limbs[4] + carry
    top_hex = F.lpad(F.lower(F.conv(top.cast("string"), 10, 16)), 4, "0")
    return F.concat(F.lit("0x"), top_hex, *reversed(parts)), top


def u256_limb_sums_to_hex(limbs: list[Column]) -> Column:
    """STRICT carry-normalized canonical ``0x`` + 64-hex-digit uint256
    read-out of signed per-limb sums (see _u256_carry_normalize).  A
    negative or >=2^256 total raises (raise_error) rather than rendering
    a wrong wrap-around — correct for FULL-HISTORY consistent ledgers
    (mint-from-zero, zero address excluded), where a negative position is
    data corruption, not a result.  For PARTIAL-RANGE scans (the
    reference's canonical ``BETWEEN x AND y`` access pattern,
    README.md:15), where outflows legitimately precede in-range inflows,
    use u256_limb_sums_to_signed_hex instead."""
    rendered, top = _u256_carry_normalize(limbs)
    bad = (top < 0) | (top >= F.lit(16**4).cast("decimal(38,0)"))
    return F.when(
        bad,
        F.raise_error(
            F.format_string(
                "u256 read-out outside [0, 2^256): top limb %s", top.cast("string")
            )
        ).cast("string"),
    ).otherwise(rendered)


def u256_limb_sums_to_signed_hex(limbs: list[Column]) -> Column:
    """SIGNED carry-normalized read-out: sign + magnitude hex, for
    partial-range ledger scans (VERDICT r12 #1).  A block-range predicate
    (``BETWEEN x AND y``) routinely sees a holder's outflows before its
    in-range inflows, so the net position is legitimately negative; the
    strict read-out's raise_error would kill the whole query.  Here a
    negative total renders as ``-0x`` + 64-hex MAGNITUDE (two's-
    complement-free: the magnitude normalization runs over the negated
    limbs, which is exact because limb negation distributes over the
    value), non-negative totals render identically to the strict path.
    Totals at or beyond ±2^256 still raise — sums of valid uint256
    deltas over a range can only reach that with >2^60-row groups, at
    which point an honest failure beats a silent wrap.  Pure JVM
    expressions; both normalizations are branch arms of one projection
    (no extra shuffle, no UDF)."""
    pos_hex, pos_top = _u256_carry_normalize(limbs)
    neg_hex, neg_top = _u256_carry_normalize([-limb for limb in limbs])
    is_neg = pos_top < 0
    lim = F.lit(16**4).cast("decimal(38,0)")
    overflow = F.when(is_neg, neg_top).otherwise(pos_top) >= lim
    return F.when(
        overflow,
        F.raise_error(
            F.format_string(
                "u256 magnitude >= 2^256: top limb %s",
                F.when(is_neg, neg_top).otherwise(pos_top).cast("string"),
            )
        ).cast("string"),
    ).when(is_neg, F.concat(F.lit("-"), neg_hex)).otherwise(pos_hex)


def block_number_col(df: DataFrame) -> str:
    """Block-number column of a Transfer source: ``number`` in the nested
    chain shape (one row per block, embedded transactions and receipt
    logs), ``blocknumber`` in the wire-log shape."""
    return "number" if "transactions" in df.columns else "blocknumber"


def erc20_transfers(df: DataFrame) -> DataFrame:
    """The one exact ERC-20 Transfer decode of the ledger family
    (EthereumRecordCursor.java:151-189, standard 3-topic events).  ``df``
    is the nested chain shape or the wire-log shape (address, topics
    array<string>, data, blocknumber) — what ``eth_getLogs`` returns and
    the streaming source's table=log emits; its schema picks which.

    One guard: the Transfer topic (case-insensitive), at least 3 topics,
    and a value word of exactly ``0x`` + 64 hex digits after lowercasing.
    A right-length but non-hex word is EXCLUDED (ADVICE r12 #3): decoded,
    it would be a NULL-valued row that still counts as a transfer, and
    the DuckDB oracles' CAST hard-errors on it.  Addresses narrow
    h32->h20 as the connector decode does (EthereumRecordCursor.java:
    433-435); the value decodes to five base-16^15 limbs in the JVM
    (hex_to_u256_limb_cols).  Output: token_address, from_addr, to_addr,
    l0..l4, block_number."""
    if block_number_col(df) == "number":
        df = (
            df.select(F.explode("transactions").alias("t"))
            .select(F.explode("t.logs").alias("l"))
            .select("l.address", "l.topics", "l.data", "l.blocknumber")
        )
    limbs = hex_to_u256_limb_cols(F.col("data"))
    return df.where(
        (F.lower(F.col("topics")[0]) == TRANSFER_EVENT_TOPIC)
        & (F.size("topics") >= 3)
        & F.lower(F.col("data")).rlike("^0x[0-9a-f]{64}$")
    ).select(
        F.col("address").alias("token_address"),
        h32_to_h20_col(F.col("topics")[1]).alias("from_addr"),
        h32_to_h20_col(F.col("topics")[2]).alias("to_addr"),
        *[limb.alias(n) for n, limb in zip(U256_LIMBS, limbs)],
        F.col("blocknumber").alias("block_number"),
    )


def erc20_transfers_decimal(df: DataFrame) -> DataFrame:
    """:func:`erc20_transfers` under the EXACT-DECIMAL contract (SURVEY
    §1.3 / §7: "optional Decimal mode"): values below 2^120 — ``l2 = l3 =
    l4 = 0``, the value word's 34 leading zero digits — as ``wei = l1·2^60
    + l0`` in DECIMAL(38,0), exact where the reference's double
    (EthereumERC20Utils.java:8-14) is not.  Larger values are excluded on
    both engines; :func:`erc20_transfer_deltas_u256` covers them.  Output:
    token_address, from_addr, to_addr, wei, block_number."""
    base = F.lit(U256_LIMB_BASE).cast("decimal(38,0)")
    return (
        erc20_transfers(df)
        .where((F.col("l2") == 0) & (F.col("l3") == 0) & (F.col("l4") == 0))
        .select(
            "token_address",
            "from_addr",
            "to_addr",
            (F.col("l1") * base + F.col("l0")).cast("decimal(38,0)").alias("wei"),
            "block_number",
        )
    )


def ledger_legs(transfers: DataFrame, values: list[str]) -> DataFrame:
    """Two signed ledger rows per transfer: credit ``to_addr`` with the
    ``values`` columns (is_in 1) and debit ``from_addr`` with their
    negation (is_in 0).  ``transfers`` needs token_address, from_addr,
    to_addr, ``values`` and block_number.  Output: token_address, holder,
    ``values``, is_in, block_number."""
    return transfers.select(
        "token_address",
        F.col("to_addr").alias("holder"),
        *values,
        F.lit(1).alias("is_in"),
        "block_number",
    ).unionByName(
        transfers.select(
            "token_address",
            F.col("from_addr").alias("holder"),
            *[(-F.col(v)).alias(v) for v in values],
            F.lit(0).alias("is_in"),
            "block_number",
        )
    )


def erc20_transfer_deltas(df: DataFrame) -> DataFrame:
    """Exact DECIMAL(38,0) ledger deltas, shared by the balance family
    (batch eth_erc20_balances / eth_balance_snapshot_merge and the
    streaming balance upsert, over chain dumps or streamed wire logs
    alike): token_address, holder, delta DECIMAL(38,0), is_in,
    block_number."""
    return ledger_legs(
        erc20_transfers_decimal(df).withColumnRenamed("wei", "delta"), ["delta"]
    )


def erc20_transfer_deltas_u256(df: DataFrame) -> DataFrame:
    """FULL-RANGE exact ledger deltas: the same decode with NO magnitude
    bound, so >2^120 transfers (outside the DECIMAL(38,0) contract) are
    in scope.  Output: token_address, holder, l0..l4 signed limb deltas,
    is_in, block_number; aggregate with per-limb SUM (commutative,
    map-side partial) and read out via u256_limb_sums_to_hex."""
    return ledger_legs(erc20_transfers(df), U256_LIMBS)


def token_symbol_col(address: Column) -> Column:
    """Known-token symbol via a 42-entry literal map (broadcast by value into
    the plan — no join, no shuffle); miss -> ``ERC20(<original-case addr>)``
    (EthereumRecordCursor.java:173-174, EthereumERC20Token.java:9-54)."""
    mapping = F.create_map(
        *[F.lit(x) for kv in ERC20_TOKEN_BY_ADDRESS.items() for x in kv]
    )
    return F.coalesce(
        mapping[F.lower(address)],
        F.format_string("ERC20(%s)", address),
    )


def blocks_from_chain(chain: DataFrame) -> DataFrame:
    """``block`` table (18 columns, EthereumMetadata.java:104-122) from the
    nested snapshot.  ``block_transactions`` is the embedded tx list mapped to
    its hashes (EthereumRecordCursor.java:128-133)."""
    return chain.select(
        F.col("number").alias("block_number"),
        F.col("hash").alias("block_hash"),
        F.col("parenthash").alias("block_parenthash"),
        F.col("nonce").alias("block_nonce"),
        F.col("sha3uncles").alias("block_sha3uncles"),
        F.col("logsbloom").alias("block_logsbloom"),
        F.col("transactionsroot").alias("block_transactionsroot"),
        F.col("stateroot").alias("block_stateroot"),
        F.col("miner").alias("block_miner"),
        F.col("difficulty").alias("block_difficulty"),
        F.col("totaldifficulty").alias("block_totaldifficulty"),
        F.col("size").alias("block_size"),
        F.col("extradata").alias("block_extradata"),
        F.col("gaslimit").alias("block_gaslimit"),
        F.col("gasused").alias("block_gasused"),
        F.col("timestamp").alias("block_timestamp"),
        F.transform("transactions", lambda t: t["hash"]).alias("block_transactions"),
        F.col("uncles").alias("block_uncles"),
    )


def transactions_from_chain(chain: DataFrame) -> DataFrame:
    """``transaction`` table (11 columns, EthereumMetadata.java:124-134): one
    row per embedded tx (EthereumRecordCursor.java:136-150).  The explode is a
    narrow op; no extra fetch, mirroring the reference's zero-extra-RPC
    design for this table."""
    tx = chain.select(F.explode("transactions").alias("t"))
    return tx.select(
        F.col("t.hash").alias("tx_hash"),
        F.col("t.nonce").alias("tx_nonce"),
        F.col("t.blockhash").alias("tx_blockhash"),
        F.col("t.blocknumber").alias("tx_blocknumber"),
        F.col("t.transactionindex").alias("tx_transactionindex"),
        F.col("t.from").alias("tx_from"),
        F.col("t.to").alias("tx_to"),
        F.col("t.value").alias("tx_value"),
        F.col("t.gas").alias("tx_gas"),
        F.col("t.gasprice").alias("tx_gasprice"),
        F.col("t.input").alias("tx_input"),
    )


def erc20_from_chain(chain: DataFrame) -> DataFrame:
    """``erc20`` table (6 columns): ERC-20 Transfer decode over receipt logs.

    Semantics mirrored from EthereumRecordCursor.java:151-189 +
    EthereumLogLazyIterator.java:29-61:

    1. flatten blocks -> txs -> logs (lazy receipt fetch in the reference;
       here log arrays are embedded and pruned columns never load);
    2. keep logs whose ``topics[0]`` equals the Transfer topic
       case-insensitively (:157);
    3. "weird event" drop: if ``len(topics) < 3`` and
       ``len(topics) + (len(data)-2)/64 != 4`` the log is skipped (:160-161);
    4. unindexed-param promotion: with < 3 topics, 64-char fields of ``data``
       stand in for the missing topics and the NEXT field becomes the value
       (:163-169); with >= 3 topics the WHOLE remaining data string is the
       value (:180 uses the untouched ``data``);
    5. addresses narrow h32 -> h20; value decodes hex -> double with 0.0 on
       parse failure (ERC-721 guard); token symbol via registry lookup.
    """
    logs = chain.select(
        F.explode("transactions").alias("t")
    ).select(F.explode("t.logs").alias("l"))

    n_topics = F.size("l.topics")
    # (len(data) - 2) / 64, integer division — count of 64-hex-char fields.
    n_data_fields = F.floor((F.length("l.data") - F.lit(2)) / F.lit(64))

    is_transfer = F.lower(F.col("l.topics")[0]) == F.lit(TRANSFER_EVENT_TOPIC)
    not_weird = (n_topics >= 3) | (n_topics + n_data_fields == 4)

    # data field k (0-based) = substr(data, 3 + 64k, 64), "0x"-prefixed.
    def data_field(k: Column | int) -> Column:
        pos = F.lit(3) + F.lit(64) * (F.lit(k) if isinstance(k, int) else k)
        return F.concat(F.lit("0x"), F.substring(F.col("l.data"), pos, 64))

    from_h32 = F.when(n_topics >= 2, F.col("l.topics")[1]).otherwise(data_field(0))
    to_h32 = F.when(n_topics >= 3, F.col("l.topics")[2]).otherwise(
        # promotion consumes fields in order: with 2 topics the first data
        # field is `to`; with 1 topic the second is.
        F.when(n_topics == 2, data_field(0)).otherwise(data_field(1))
    )
    value_hex = F.when(n_topics >= 3, F.col("l.data")).otherwise(
        F.when(n_topics == 2, data_field(1)).otherwise(data_field(2))
    )

    return (
        logs.where(is_transfer & not_weird)
        .select(
            token_symbol_col(F.col("l.address")).alias("erc20_token"),
            h32_to_h20_col(from_h32).alias("erc20_from"),
            h32_to_h20_col(to_h32).alias("erc20_to"),
            hex_to_double_col(value_hex).alias("erc20_value"),
            F.col("l.transactionhash").alias("erc20_txhash"),
            F.col("l.blocknumber").alias("erc20_blocknumber"),
        )
    )
