"""Live Ethereum source on the PySpark 4 Python DataSource API, and the
chain-read core every Ethereum reader shares (the ``ethereum-stream``
readers and ``rescan_reorged`` in streaming/chain.py read through it too).

The reference connector's execution shape (SURVEY.md §3):

  coordinator: constraint -> block ranges -> one split PER BLOCK
               (EthereumSplitManager.java:55-68)
  worker:      one eth_getBlockByNumber RPC per split
               (EthereumRecordSet.java:48-56), plus one
               eth_getTransactionReceipt per tx for erc20
               (EthereumLogLazyIterator.java:29-61)

Spark re-expression, with the round-trip economics fixed:

  driver:   ``pushFilters`` transposes predicates to a BlockRange
            (plans/pushdown.py — incl. the reference's planning-time
            hash->number and timestamp->number resolutions), then
            ``partitions()`` cuts the range with ``block_partitions`` into
            ``blocks_per_partition`` blocks per InputPartition (default 200
            vs the reference's 1 — a Spark task is far heavier than a
            Presto split);
  executor: ``read(partition)`` runs ``table_rows``, which issues BATCHED
            JSON-RPC posts (``rpc_batch_size`` blocks per POST, receipts
            batched likewise) — >=100x fewer HTTP round-trips than the
            reference's 1 + |txs| per block; receipts are only fetched for
            the erc20 table and only for blocks that contain transactions
            (the empty-receipt skip, EthereumLogLazyIterator.java:43-45);
            with ``logs_mode=eth_getLogs`` the erc20 table instead issues
            ONE filtered ``eth_getLogs`` per partition (Transfer topic,
            server-side) — no block bodies, no receipts: O(ranges) RPCs
            instead of O(blocks)+O(txs).

The core has one implementation of each decision: ``ChainReadOptions``
parses the options, ``block_partitions`` cuts a block range into
partitions, ``table_rows`` turns a block range into rows of any table, and
``HttpJsonRpcTransport._call`` builds every JSON-RPC request.

Transports:
  - ``HttpJsonRpcTransport``: real JSON-RPC 2.0 batch client (hex-quantity
    decoding per the Ethereum wire format);
  - ``ParquetChainTransport``: serves the same interface from a nested
    chain parquet — hermetic tests of the full DataSource machinery.

Usage::

    spark.dataSource.register(EthereumDataSource)
    df = (spark.read.format("ethereum")
          .option("table", "transaction")
          .option("url", "http://localhost:8545/")
          .option("start_block", 4_000_000)
          .option("end_block", 4_100_000)
          .load())
"""

from __future__ import annotations

import json
import weakref
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    InputPartition,
)
from pyspark.sql.types import StructType

from presto_ethereum_spark.plans.pushdown import (
    OPEN_END,
    BlockRange,
    intersect_range_lists,
    parse_ranges_option,
    ranges_from_filters,
)
from presto_ethereum_spark.constants import TRANSFER_EVENT_TOPIC
from presto_ethereum_spark.schemas import SCHEMAS, TABLES
from presto_ethereum_spark.sources import pyrows

DEFAULT_BLOCKS_PER_PARTITION = 200
DEFAULT_RPC_BATCH = 50


class RpcError(RuntimeError):
    """A JSON-RPC response carried an ``error`` member.  Distinct from
    transport failures (those retry in ``_post``): the node REJECTED the
    request — silently treating it as an empty result would drop data."""

    def __init__(self, code: int | None, message: str):
        super().__init__(f"JSON-RPC error {code}: {message}")
        self.code = code
        self.message = message

    def is_result_too_large(self) -> bool:
        """Node-side RESULT/RANGE caps that a smaller block range can cure
        (Infura -32005 "query returned more than 10000 results", geth
        "query exceeds response size limit", geth/BSC/Alchemy block-RANGE
        caps "eth_getLogs ... exceed maximum block range") — the caller
        should split the block range and retry.  Deliberately narrow:
        -32005 alone is ambiguous (Infura also uses it for request-RATE
        limiting, where bisection would AMPLIFY the load), and generic
        phrases like "more than" appear in rate-limit and argument errors
        too — so a generic phrase only counts when a size-context word
        (result/response/logs/range) appears alongside it."""
        m = self.message.lower()
        # unambiguous phrasings: result-size and block-range caps
        if any(
            t in m
            for t in (
                "too many results",
                "response size",
                "result set",
                "returned more",
                "block range",   # "exceed maximum block range" (geth/BSC)
                "blocks range",  # Alchemy variant
            )
        ):
            return True
        # generic quantity phrases need a size-context word next to them:
        # "more than 10000 results" splits; "more than 100 requests/s"
        # (rate limit) must NOT — bisection would double the request rate
        if "more than" in m:
            return any(w in m for w in ("result", "logs", "response"))
        return False


# ---------------------------------------------------------------------------
# Transports
# ---------------------------------------------------------------------------


def _hex_int(v) -> int:
    return int(v, 16) if isinstance(v, str) else int(v)


def _hex_float(v) -> float:
    return float(int(v, 16)) if isinstance(v, str) else float(v)


class HttpJsonRpcTransport:
    """JSON-RPC 2.0 batch client over urllib (stdlib-only, picklable by
    construction: the connection is opened lazily per process).

    Transient failures retry in-transport with bounded exponential backoff:
    letting the exception escape would fail the Spark *task*, and a task
    retry re-fetches the whole block-range partition — hundreds of RPCs to
    repeat one flaky POST.  Non-transient errors (4xx, malformed response)
    raise immediately."""

    def __init__(self, url: str, timeout: float = 60.0, retries: int = 4):
        self.url = url
        self.timeout = timeout
        self.retries = retries

    def _post_once(self, body: bytes) -> list | dict:
        import urllib.request

        req = urllib.request.Request(
            self.url,
            data=body,
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            return json.loads(resp.read())

    def _post(self, calls: list[dict]) -> list:
        import time
        import urllib.error

        body = json.dumps(calls).encode()
        attempt = 0
        while True:
            try:
                out = self._post_once(body)
                break
            except urllib.error.HTTPError as e:
                # 5xx/429 are node-side transients; 4xx are our bug — raise
                if e.code not in (429, 500, 502, 503, 504) or attempt >= self.retries:
                    raise
            except (urllib.error.URLError, TimeoutError, ConnectionError):
                if attempt >= self.retries:
                    raise
            time.sleep(0.5 * (2**attempt))
            attempt += 1
        # a batch the node rejects as a whole comes back as ONE object
        # (id null), not a list
        out = out if isinstance(out, list) else [out]
        for r in out:
            if r.get("error"):
                err = r["error"]
                # an error member is a REJECTION, not an empty result —
                # swallowing it would silently drop the call's data
                raise RpcError(err.get("code"), str(err.get("message", err)))
        by_id = {r["id"]: r.get("result") for r in out}
        return [by_id[c["id"]] for c in calls]

    def _call(self, method: str, params_list: Sequence[list]) -> list:
        """One JSON-RPC 2.0 batch POST calling ``method`` once per params
        list; results come back in ``params_list`` order.  The one place a
        request dict is built."""
        return self._post(
            [
                {"jsonrpc": "2.0", "id": i, "method": method, "params": params}
                for i, params in enumerate(params_list)
            ]
        )

    def block_number(self) -> int:
        [r] = self._call("eth_blockNumber", [[]])
        return _hex_int(r)

    def block_number_by_hash(self, block_hash: str) -> int | None:
        [r] = self._call("eth_getBlockByHash", [[block_hash, False]])
        return _hex_int(r["number"]) if r else None

    def block_timestamp(self, number: int) -> int:
        [r] = self._call("eth_getBlockByNumber", [[hex(number), False]])
        return _hex_int(r["timestamp"])

    def get_blocks(self, numbers: Sequence[int]) -> list[dict]:
        """Batched eth_getBlockByNumber(n, fullTx=True): one POST for the
        whole batch (vs one RPC per block, EthereumRecordSet.java:51)."""
        results = self._call(
            "eth_getBlockByNumber", [[hex(n), True] for n in numbers]
        )
        return [self._wire_block(r) for r in results if r]

    def get_receipt_logs(self, tx_hashes: Sequence[str]) -> dict[str, list[dict]]:
        """Batched eth_getTransactionReceipt; returns tx_hash -> logs."""
        results = self._call("eth_getTransactionReceipt", [[h] for h in tx_hashes])
        return {
            h: [self._wire_log(lg) for lg in (r or {}).get("logs") or []]
            for h, r in zip(tx_hashes, results)
        }

    def get_logs(
        self, start: int, end: int, topic0: str, addresses: list[str] | None = None
    ) -> list[dict]:
        """Bulk ``eth_getLogs`` over an inclusive block range: ONE filtered
        RPC replaces one ``eth_getTransactionReceipt`` per transaction (the
        reference's lazy per-tx cost model, EthereumLogLazyIterator.java:39-42)
        — at ~150 tx/block that is two-plus orders of magnitude fewer calls.
        ``topic0`` (the ERC-20 Transfer signature) and ``addresses``
        (emitting token contracts) filter SERVER-side, so non-matching logs
        never cross the wire — "scan one token's transfers over the whole
        chain" costs the matching logs only.  Nodes match topics against
        the canonical lowercase hex; the client-side weird-event /
        case-insensitive decode still runs on what comes back."""
        params = {"fromBlock": hex(start), "toBlock": hex(end), "topics": [topic0]}
        if addresses:
            params["address"] = list(addresses)
        [r] = self._call("eth_getLogs", [[params]])
        return [self._wire_log(lg) for lg in (r or [])]

    @staticmethod
    def _wire_log(lg: dict) -> dict:
        """Ethereum wire log JSON -> the normalized log dict both log
        paths (receipts and eth_getLogs) serve."""
        return {
            "address": lg.get("address"),
            "topics": list(lg.get("topics") or []),
            "data": lg.get("data") or "0x",
            "transactionhash": lg.get("transactionHash"),
            "blocknumber": _hex_int(lg.get("blockNumber", 0)),
        }

    @staticmethod
    def _wire_block(b: dict) -> dict:
        """Ethereum wire JSON (hex quantities, camelCase) -> nested chain
        dict (the decode contract of sources/pyrows.py)."""
        txs = []
        for t in b.get("transactions") or []:
            txs.append(
                {
                    "hash": t.get("hash"),
                    "nonce": _hex_int(t.get("nonce", 0)),
                    "blockhash": t.get("blockHash"),
                    "blocknumber": _hex_int(t.get("blockNumber", 0)),
                    "transactionindex": _hex_int(t.get("transactionIndex", 0)),
                    "from": t.get("from"),
                    "to": t.get("to"),
                    "value": _hex_float(t.get("value", 0)),
                    "gas": _hex_float(t.get("gas", 0)),
                    "gasprice": _hex_float(t.get("gasPrice", 0)),
                    "input": t.get("input") or "0x",
                    "logs": None,  # fetched lazily for erc20 only
                }
            )
        return {
            "number": _hex_int(b.get("number", 0)),
            "hash": b.get("hash"),
            "parenthash": b.get("parentHash"),
            "nonce": b.get("nonce"),
            "sha3uncles": b.get("sha3Uncles"),
            "logsbloom": b.get("logsBloom"),
            "transactionsroot": b.get("transactionsRoot"),
            "stateroot": b.get("stateRoot"),
            "miner": b.get("miner"),
            "difficulty": _hex_int(b.get("difficulty", 0)),
            "totaldifficulty": _hex_int(b.get("totalDifficulty", 0)),
            "size": _hex_int(b.get("size", 0)),
            "extradata": b.get("extraData") or "",
            "gaslimit": _hex_float(b.get("gasLimit", 0)),
            "gasused": _hex_float(b.get("gasUsed", 0)),
            "timestamp": _hex_int(b.get("timestamp", 0)),
            "uncles": list(b.get("uncles") or []),
            "transactions": txs,
        }


class IpcJsonRpcTransport(HttpJsonRpcTransport):
    """JSON-RPC over a geth-style UNIX domain socket
    (EthereumWeb3jProvider.java:26 builds a ``UnixIpcService``; the
    protocol is the same JSON-RPC 2.0 payloads, framed only by JSON
    completeness).  One connection per batched request; the response is
    accumulated until it parses as a complete JSON value.

    SINGLE-NODE ONLY: a socket path is meaningful only on the machine
    that runs the node, so this transport requires the explicit
    ``local_ipc=true`` opt-in (valid for ``local[*]`` sessions or a
    cluster whose every executor host runs a node at the same path —
    the operator is asserting that, not the engine).  Inherits all RPC
    methods and the retry envelope from the HTTP transport; only the
    wire send differs."""

    def __init__(self, sock_path: str, timeout: float = 60.0, retries: int = 4):
        super().__init__(url=f"ipc://{sock_path}", timeout=timeout, retries=retries)
        self.sock_path = sock_path

    def _post_once(self, body: bytes) -> list | dict:
        import socket

        with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
            s.settimeout(self.timeout)
            s.connect(self.sock_path)
            s.sendall(body)
            buf = b""
            while True:
                chunk = s.recv(65536)
                if not chunk:
                    break
                buf += chunk
                # Re-parsing the whole buffer per 64 KB chunk is quadratic
                # on multi-MB responses; a JSON document can only END at
                # '}'/']' (modulo trailing whitespace), so skip the parse
                # attempt for chunks that provably leave it open.
                if chunk.rstrip()[-1:] not in (b"}", b"]"):
                    continue
                try:
                    obj, _ = json.JSONDecoder().raw_decode(buf.decode())
                    return obj
                except (ValueError, UnicodeDecodeError):
                    continue  # incomplete JSON (or split multibyte); keep reading
        # connection closed: one last parse in case the final chunk ended
        # on a byte the fast-path heuristic skipped (valid JSON-RPC always
        # ends '}'/']', but be lenient about what we accept)
        try:
            obj, _ = json.JSONDecoder().raw_decode(buf.decode())
            return obj
        except (ValueError, UnicodeDecodeError):
            pass
        raise ConnectionError(
            f"ipc {self.sock_path}: connection closed before a complete "
            f"JSON response ({len(buf)} bytes buffered)"
        )


class ParquetChainTransport:
    """Same interface served from a nested chain_blocks parquet — hermetic
    stand-in for a node (tests, offline demos).  Lazy-loads per process so
    instances pickle cheaply to executors."""

    def __init__(self, path: str):
        self.path = path
        self._by_number: dict[int, dict] | None = None
        self._by_hash: dict[str, int] | None = None

    def _load(self) -> dict[int, dict]:
        if self._by_number is None:
            import pyarrow.parquet as pq

            rows = pq.read_table(self.path).to_pylist()
            self._by_number = {b["number"]: b for b in rows}
        return self._by_number

    def block_number(self) -> int:
        return max(self._load())

    def block_number_by_hash(self, block_hash: str) -> int | None:
        # index dict, built once with the block dict (the HTTP transport
        # does one eth_getBlockByHash RPC; a planning-time linear scan
        # here was harmless but off-pattern)
        if self._by_hash is None:
            self._by_hash = {b["hash"]: n for n, b in self._load().items()}
        return self._by_hash.get(block_hash)

    def block_timestamp(self, number: int) -> int:
        return self._load()[number]["timestamp"]

    def get_blocks(self, numbers: Sequence[int]) -> list[dict]:
        by = self._load()
        return [by[n] for n in numbers if n in by]

    def get_receipt_logs(self, tx_hashes: Sequence[str]) -> dict[str, list[dict]]:
        # fixture blocks embed their logs; the rpc read path only calls this
        # for wire-shaped blocks whose logs are None
        return {}

    def get_logs(
        self, start: int, end: int, topic0: str, addresses: list[str] | None = None
    ) -> list[dict]:
        """eth_getLogs served from the embedded receipt logs.  A real node
        matches topics/addresses against canonical lowercase hex; mirrored
        here with case-insensitive compares so fixture blocks that exercise
        the reference's case-insensitivity path behave identically."""
        by = self._load()
        addr_set = {a.lower() for a in addresses} if addresses else None
        out: list[dict] = []
        for n in range(start, end + 1):
            b = by.get(n)
            if b is None:
                continue
            for t in b["transactions"]:
                for lg in t.get("logs") or []:
                    topics = lg.get("topics") or []
                    if not topics or topics[0].lower() != topic0.lower():
                        continue
                    if addr_set is not None and (
                        (lg.get("address") or "").lower() not in addr_set
                    ):
                        continue
                    out.append(lg)
        return out


def fetch_logs_adaptive(
    transport, start: int, end: int, addresses: list[str] | None = None
) -> Iterator[dict]:
    """Bulk getLogs with ADAPTIVE range splitting: production nodes cap
    eth_getLogs response sizes (Infura -32005 at 10k logs, geth response
    byte limits), so a dense range must bisect and retry rather than fail
    the Spark task.  Recursion floor is a single block — if ONE block's
    logs exceed the node cap the error is real and propagates.  Batch and
    stream reads alike come through :func:`table_rows` (a stream that
    cannot split would replay the identical failing range forever).
    Filters on the ERC-20 Transfer topic."""
    stack = [(start, end)]
    while stack:
        lo, hi = stack.pop()
        try:
            yield from transport.get_logs(
                lo, hi, TRANSFER_EVENT_TOPIC, addresses=addresses
            )
        except RpcError as e:
            if lo >= hi or not e.is_result_too_large():
                raise
            mid = (lo + hi) // 2
            # LIFO with the upper half pushed first keeps emission in
            # ascending block order (not semantically required — rows are
            # unordered — but it keeps retries cache-friendly)
            stack.append((mid + 1, hi))
            stack.append((lo, mid))


def make_transport(options: dict):
    """Transport selection, mirroring the reference's config surface
    (EthereumConnectorConfig.java:6-39: jsonrpc / ipc / infura).  http and
    infura are both HTTP POST (one ``url`` option); ``path`` selects the
    parquet fixture.  Unix IPC sockets (EthereumWeb3jProvider.java:26)
    require the explicit ``local_ipc=true`` opt-in: a socket path on the
    driver's filesystem is meaningless on remote executors, so honoring it
    silently would mis-read on any real cluster — the opt-in is the
    operator asserting every executor host can reach the path (trivially
    true for ``local[*]``)."""
    path = options.get("path")
    if path:
        return ParquetChainTransport(path)
    url = options.get("url", "http://localhost:8545/")
    ipc_path = None
    if url.startswith("ipc://"):
        ipc_path = url[len("ipc://"):]
    elif options.get("ipc"):
        ipc_path = options["ipc"]
    elif url.endswith(".ipc"):
        ipc_path = url
    if ipc_path:
        if str(options.get("local_ipc", "")).lower() in ("true", "1", "yes"):
            return IpcJsonRpcTransport(ipc_path)
        raise ValueError(
            f"ipc:// endpoints are not supported in distributed mode "
            f"(got {url!r}): executors cannot reach a driver-local unix "
            f"socket; use an HTTP(S) JSON-RPC url instead, or pass "
            f"local_ipc=true to assert a single-node (local[*]) deployment "
            f"where every task host runs the node at this path"
        )
    return HttpJsonRpcTransport(url)


def table_option(options: dict) -> str:
    return options.get("table", "block").lower()


def positive_int_option(options: dict, name: str, default: int) -> int:
    """A sizing option that must be >= 1: a zero or negative size would
    plan no partitions, fetch no blocks or never advance a stream — a
    wrong answer without an error."""
    value = int(options.get(name, default))
    if value < 1:
        raise ValueError(f"{name} must be >= 1 (got {value})")
    return value


# ---------------------------------------------------------------------------
# The chain-read core: one partition chunker, one row producer
# ---------------------------------------------------------------------------


@dataclass
class BlockRangePartition(InputPartition):
    start: int
    end: int  # inclusive


def block_partitions(start: int, end: int, step: int) -> list[BlockRangePartition]:
    """The inclusive range ``[start, end]`` cut into ``step``-block
    partitions (vs 1 split/block, EthereumSplitManager.java:57-59); empty
    when ``start > end``."""
    return [
        BlockRangePartition(lo, min(lo + step - 1, end))
        for lo in range(start, end + 1, step)
    ]


def table_rows(
    transport,
    table: str,
    start: int,
    end: int,
    columns: Sequence[str],
    logs_mode: str = "receipts",
    addresses: list[str] | None = None,
    value_hex: bool = False,
    rpc_batch: int = DEFAULT_RPC_BATCH,
) -> Iterator[tuple]:
    """Rows of ``table`` (``columns`` in order) for the INCLUSIVE block
    range ``[start, end]``: the one row producer behind every chain reader,
    batch and stream (RPC cost model in the module docstring).  ``erc20``
    applies the reference-parity double decode per log, plus the exact
    ``erc20_value_hex`` column when ``value_hex``; ``log`` (streaming only)
    serves the wire log untouched for exact downstream decodes
    (sources/decode.erc20_transfers)."""
    if table == "log" or (table == "erc20" and logs_mode == "eth_getlogs"):
        for lg in fetch_logs_adaptive(transport, start, end, addresses=addresses):
            if table == "log":
                yield tuple(lg.get(c) for c in columns)
                continue
            row = pyrows.erc20_row_from_log(lg, value_hex=value_hex)
            if row is not None:
                yield tuple(row[c] for c in columns)
        return
    for lo in range(start, end + 1, rpc_batch):
        blocks = transport.get_blocks(list(range(lo, min(lo + rpc_batch, end + 1))))
        if table == "erc20":
            # one batched receipt call for the txs whose logs are not
            # embedded (fixture blocks embed them)
            txs = [
                t for b in blocks for t in b["transactions"] if t.get("logs") is None
            ]
            if txs:
                fetched = transport.get_receipt_logs([t["hash"] for t in txs])
                for t in txs:
                    t["logs"] = fetched.get(t["hash"], [])
        for b in blocks:
            if table == "block":
                rows = [pyrows.block_row(b)]
            elif table == "transaction":
                rows = pyrows.transaction_rows(b)
            else:
                rows = pyrows.erc20_rows(b, value_hex=value_hex)
            for row in rows:
                yield tuple(row[c] for c in columns)


class ChainReadOptions:
    """The options every chain reader parses the same way: the batch
    ``ethereum`` reader and both ``ethereum-stream`` readers.  Subclasses
    set ``logs_mode`` and ``value_hex``, which :meth:`rows` passes on."""

    logs_mode = "receipts"
    value_hex = False

    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.table = table_option(options)
        self.columns = [f.name for f in schema.fields]
        self.transport = make_transport(options)
        self.blocks_per_partition = positive_int_option(
            options, "blocks_per_partition", DEFAULT_BLOCKS_PER_PARTITION
        )
        self.rpc_batch = positive_int_option(
            options, "rpc_batch_size", DEFAULT_RPC_BATCH
        )
        # comma-separated emitting token contracts eth_getLogs filters on
        spec = options.get("logs_address")
        self.logs_addresses = (
            [a.strip() for a in spec.split(",") if a.strip()] if spec else None
        )

    def rows(self, start: int, end: int, transport=None) -> Iterator[tuple]:
        """:func:`table_rows` for the inclusive range ``[start, end]`` with
        this reader's options, over ``transport`` (default: its own)."""
        return table_rows(
            transport or self.transport,
            self.table,
            start,
            end,
            self.columns,
            self.logs_mode,
            self.logs_addresses,
            self.value_hex,
            self.rpc_batch,
        )


# ---------------------------------------------------------------------------
# DataSource implementation
# ---------------------------------------------------------------------------


class EthereumDataSource(DataSource):
    """``spark.read.format("ethereum")`` — tables block|transaction|erc20."""

    @classmethod
    def name(cls) -> str:
        return "ethereum"

    def schema(self) -> StructType:
        table = table_option(self.options)
        if table not in TABLES:
            raise ValueError(
                f"Unknown table: {table!r} (expected block|transaction|erc20)"
            )
        value_mode = self.options.get("value_mode", "double").lower()
        if value_mode not in ("double", "u256_hex"):
            raise ValueError(
                f"value_mode must be 'double' or 'u256_hex' "
                f"(got {self.options.get('value_mode')!r})"
            )
        if value_mode == "u256_hex":
            # Exact-value surface for SQL users (VERDICT r12 #4): the
            # reference-parity lossy double column stays, and the exact
            # uint256 value arrives alongside as the canonical 0x + 64-hex
            # string — the same representation the limb-ledger family
            # renders, so it feeds hex_to_u256_limb_cols / hex-order
            # ranking directly, no Python helpers needed.
            if table != "erc20":
                raise ValueError("value_mode=u256_hex applies to table=erc20")
            from pyspark.sql.types import StringType, StructField

            return StructType(
                SCHEMAS[table].fields
                + [StructField("erc20_value_hex", StringType())]
            )
        return SCHEMAS[table]

    def reader(self, schema: StructType) -> "EthereumReader":
        return EthereumReader(dict(self.options), schema)


class EthereumReader(ChainReadOptions, DataSourceReader):
    """Reader with a STATIC scan range (``start_block``/``end_block``
    options).  Deliberately implements no ``pushFilters``: Spark 4.1 caches
    the planned (partitions, read function) inside the shared Table object of
    a DataFrame/view, so a reader whose partitions depend on per-query pushed
    filters poisons subsequent queries on the same DataFrame (verified: a
    full count after a filtered query returns the filtered count).  Dynamic
    pushdown lives in :class:`EthereumPushdownReader` (format
    ``ethereum-pushdown``) for single-query-per-load use.
    """

    def __init__(self, options: dict, schema: StructType):
        super().__init__(options, schema)
        self.value_hex = options.get("value_mode", "double").lower() == "u256_hex"
        self.logs_mode = options.get("logs_mode", "receipts").lower()
        if self.logs_mode not in ("receipts", "eth_getlogs"):
            raise ValueError(
                f"logs_mode must be 'receipts' or 'eth_getLogs' "
                f"(got {options.get('logs_mode')!r})"
            )
        if self.logs_addresses and self.logs_mode != "eth_getlogs":
            raise ValueError(
                "logs_address requires logs_mode=eth_getLogs (the receipts "
                "path fetches per-tx logs and cannot narrow server-side)"
            )
        spec = options.get("block_ranges")
        if spec is not None:
            # explicit disjunction — the reference's ordered-ranges list
            # (EthereumTableLayoutHandle.java:13-36) as a load-time option.
            # An EMPTY spec ("") is an explicit empty disjunction — a
            # contradiction predicate prunes to ZERO partitions, never a
            # full-chain fallback
            self.ranges = parse_ranges_option(spec)
        else:
            lo = options.get("start_block")
            hi = options.get("end_block")
            self.ranges = [
                BlockRange(
                    int(lo) if lo is not None else 1,
                    int(hi) if hi is not None else OPEN_END,
                )
            ]

    # -- planning (driver side) --------------------------------------------

    def partitions(self) -> list[BlockRangePartition]:
        """The union over the ordered range list of
        ``blocks_per_partition``-block chunks, mirroring the reference's
        getOrderedRanges loop (EthereumMetadata.java:190-199).  An
        open-ended range is capped at the live chain head, mirroring
        EthereumSplitManager.java:63-68."""
        out: list[BlockRangePartition] = []
        head: int | None = None
        for r in self.ranges:
            end = r.end
            if end == OPEN_END:
                if head is None:
                    head = self.transport.block_number()
                end = head
            out += block_partitions(max(1, r.start), end, self.blocks_per_partition)
        return out

    # -- execution (executor side) -----------------------------------------

    def read(self, partition: BlockRangePartition | None) -> Iterator[tuple]:
        if partition is None:
            # Spark schedules one task with a None partition when
            # partitions() returned an empty list (fully-pruned scan)
            return iter(())
        return self.rows(partition.start, partition.end)


class EthereumPushdownReader(EthereumReader):
    """Adds dynamic filter->block-range transposition (the reference's
    getTableLayouts behavior, EthereumMetadata.java:179-237).

    CAVEAT (Spark 4.1): because Spark caches the planned read in the shared
    Table object, use this format with one query per ``load()`` — a reused
    DataFrame/view whose later queries have weaker predicates can observe
    the earlier query's narrowed scan.  The default ``ethereum`` format is
    immune (static partitions).
    """

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        pushed = ranges_from_filters(
            filters,
            resolve_hash=self.transport.block_number_by_hash,
            get_timestamp=self.transport.block_timestamp,
            head=self._head_for_planning(filters),
        )
        self.ranges = intersect_range_lists(self.ranges, pushed)
        # ALL filters are yielded back (reported un-pushed) so Spark
        # re-applies them post-scan — the reference's unenforced-constraint
        # contract (EthereumMetadata.java:236).
        return iter(filters)

    def _head_for_planning(self, filters: list[Filter]) -> int | None:
        from presto_ethereum_spark.plans.pushdown import TIMESTAMP_COLUMNS

        needs_head = any(
            getattr(f, "attribute", None)
            and f.attribute[0].lower() in TIMESTAMP_COLUMNS
            for f in filters
        )
        return self.transport.block_number() if needs_head else None


class EthereumPushdownDataSource(EthereumDataSource):
    @classmethod
    def name(cls) -> str:
        return "ethereum-pushdown"

    def reader(self, schema: StructType) -> EthereumPushdownReader:
        return EthereumPushdownReader(dict(self.options), schema)


# sessions ``read_ethereum_where`` has registered the ``ethereum`` format in
_REGISTERED: weakref.WeakSet = weakref.WeakSet()


def read_ethereum_where(spark, table: str, predicate: str, **options):
    """Driver-side OR-of-ranges pushdown: parse ``predicate`` (the string
    you would pass to ``.where``), transpose its OR/AND/BETWEEN/IN
    structure into the source's ``block_ranges`` option, and apply the SAME
    predicate post-scan — the disjunctive pruning the reference plans from
    its ordered range list (EthereumMetadata.java:190-199) that Spark's
    conjunction-only pushFilters API cannot deliver.  The rewrite only ever
    NARROWS the scan (non-block predicates transpose to the full chain),
    and the post-scan ``where`` keeps semantics exact regardless.

    Registers :class:`EthereumDataSource` once per session (each
    registration pickles the class); extra ``options`` pass through
    (``path``/``url``, ``blocks_per_partition``, ``logs_mode``...).
    """
    from presto_ethereum_spark.plans.pushdown import ranges_option_from_sql

    if spark not in _REGISTERED:
        spark.dataSource.register(EthereumDataSource)
        _REGISTERED.add(spark)
    reader = (
        spark.read.format("ethereum")
        .option("table", table)
        .option("block_ranges", ranges_option_from_sql(predicate))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load().where(predicate)


def register_ethereum_where_view(
    spark, view_name: str, table: str, predicate: str, **options
) -> None:
    """SQL-first entry point for the disjunctive pruning: registers a temp
    view over :func:`read_ethereum_where`, so plain ``spark.sql`` queries
    get island-only scan partitions without calling any Python API beyond
    this one registration — the way Presto users hit the reference's
    ordered range list (EthereumMetadata.java:190-199) without knowing it
    exists::

        register_ethereum_where_view(
            spark, "recent_blocks", "block",
            "block_number BETWEEN 100 AND 200 OR block_number > 2300",
            path="fixtures/eth/chain_blocks.parquet")
        spark.sql("SELECT block_miner, count(*) FROM recent_blocks GROUP BY 1")

    The view is a logical plan, not a snapshot: each query re-plans it, so
    further WHERE clauses compose on top (Spark re-applies every filter
    post-scan; the ``block_ranges`` narrowing baked into the view stays
    correct because it only ever covers the registered predicate)."""
    read_ethereum_where(spark, table, predicate, **options).createOrReplaceTempView(
        view_name
    )
