"""End-to-end tests of the Python DataSource over the parquet transport:
the full machinery (schema -> pushFilters -> partitions -> read) runs
hermetically, and results must match the fixture-derived tables."""

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    LessThanOrEqual,
)

from presto_ethereum_spark.sources.rpc import (
    BlockRangePartition,
    make_transport,
    EthereumDataSource,
    EthereumPushdownDataSource,
    EthereumPushdownReader,
    EthereumReader,
    ParquetChainTransport,
)
from tests.conftest import ETH_FIXTURES

CHAIN = str(ETH_FIXTURES / "chain_blocks.parquet")


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(EthereumDataSource)
    spark.dataSource.register(EthereumPushdownDataSource)
    return spark


def _read(spark, table, **options):
    r = spark.read.format("ethereum").option("table", table).option("path", CHAIN)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


@pytest.mark.parametrize("table", ["block", "transaction", "erc20"])
def test_matches_fixture_pipeline(registered, chain_source, table):
    ds = _read(registered, table, start_block=1, end_block=300)
    via_fixture = chain_source.table_for_block_range(table, 1, 300)
    assert ds.exceptAll(via_fixture).count() == 0
    assert via_fixture.exceptAll(ds).count() == 0
    # names + types must agree (nullability flags legitimately differ:
    # the DataSource declares everything nullable like the reference)
    assert [(f.name, f.dataType) for f in ds.schema.fields] == [
        (f.name, f.dataType) for f in via_fixture.schema.fields
    ]


def test_filter_pushdown_prunes_partitions(registered):
    # the pushdown variant: range predicate reaches the reader ->
    # 2 x 100-block partitions (one query per load())
    df = (
        registered.read.format("ethereum-pushdown")
        .option("table", "block")
        .option("path", CHAIN)
        .option("blocks_per_partition", 100)
        .load()
        .where("block_number >= 1001 AND block_number <= 1200")
    )
    assert df.rdd.getNumPartitions() == 2
    assert df.count() == 200


def test_default_format_immune_to_stale_plan_cache(registered):
    """Regression for the Spark 4.1 shared-Table plan cache: on the default
    format a filtered query must NOT narrow later queries on the same
    DataFrame (this returned 100 with a stateful pushFilters reader)."""
    df = _read(registered, "block", blocks_per_partition=100)
    assert df.count() == 2400
    assert df.where("block_number BETWEEN 1001 AND 1100").count() == 100
    assert df.count() == 2400  # unchanged after the filtered query


def test_unpushed_contract_correctness(registered):
    # pushdown narrows the scan; Spark re-applies the predicate; adding an
    # unrelated filter must not break anything
    df = _read(registered, "transaction", blocks_per_partition=500).where(
        "tx_blocknumber BETWEEN 100 AND 150 AND tx_transactionindex = 0"
    )
    rows = df.collect()
    assert rows and all(100 <= r.tx_blocknumber <= 150 for r in rows)
    assert all(r.tx_transactionindex == 0 for r in rows)


def test_range_options(registered):
    df = _read(registered, "block", start_block=50, end_block=59)
    assert df.count() == 10


def test_unknown_table_errors(registered):
    with pytest.raises(Exception, match="Unknown table"):
        registered.read.format("ethereum").option("table", "bogus").option(
            "path", CHAIN
        ).load().count()


@pytest.mark.parametrize("value", [0, -1])
@pytest.mark.parametrize(
    "option", ["blocks_per_partition", "rpc_batch_size", "max_blocks_per_batch"]
)
def test_sizing_option_below_one_raises(option, value):
    """A size below 1 would plan no partitions, fetch no blocks or never
    advance a stream; every reader that takes the option rejects it."""
    from presto_ethereum_spark.streaming.chain import (
        EthereumPartitionedStreamReader,
        EthereumStreamReader,
    )

    opts = {"table": "block", "path": CHAIN, option: value}
    readers = [EthereumStreamReader, EthereumPartitionedStreamReader]
    if option != "max_blocks_per_batch":  # a stream-only option
        readers.append(lambda o: EthereumReader(o, EthereumDataSource(o).schema()))
    for make in readers:
        with pytest.raises(ValueError, match=f"{option} must be >= 1"):
            make(opts)


class TestReaderPlanning:
    def make_reader(self, **options):
        opts = {"table": "block", "path": CHAIN, **options}
        return EthereumPushdownReader(opts, EthereumDataSource(opts).schema())

    def test_partition_chunking(self):
        r = self.make_reader(start_block=1, end_block=1000, blocks_per_partition=300)
        parts = r.partitions()
        assert [(p.start, p.end) for p in parts] == [
            (1, 300),
            (301, 600),
            (601, 900),
            (901, 1000),
        ]

    def test_open_range_caps_at_head(self):
        r = self.make_reader(blocks_per_partition=1000)
        parts = r.partitions()
        assert parts[-1].end == 2400  # fixture chain head

    def test_push_filters_returns_all(self):
        r = self.make_reader()
        filters = [
            GreaterThanOrEqual(("block_number",), 10),
            LessThanOrEqual(("block_number",), 20),
            EqualTo(("block_miner",), "0xabc"),
        ]
        remaining = list(r.pushFilters(filters))
        assert remaining == filters  # unenforced contract
        [rr] = r.ranges
        assert (rr.start, rr.end) == (10, 20)

    def test_empty_range_no_partitions(self):
        r = self.make_reader(start_block=500, end_block=400)
        assert r.partitions() == []

    def test_disjunctive_pushdown_prunes_partitions(self):
        """OR-of-islands pruning (EthereumMetadata.java:190-199): an In
        filter over two distant islands must launch ONLY the covered
        partitions, not the span between them."""
        r = self.make_reader(blocks_per_partition=10)
        list(r.pushFilters([In(("block_number",), (5, 6, 2001, 2002))]))
        parts = [(p.start, p.end) for p in r.partitions()]
        assert parts == [(5, 6), (2001, 2002)]

    def test_block_ranges_option(self):
        """Static disjunction via the block_ranges load option."""
        r = self.make_reader(block_ranges="1:10,2001:2010", blocks_per_partition=100)
        assert [(p.start, p.end) for p in r.partitions()] == [(1, 10), (2001, 2010)]

    def test_disjunction_intersects_conjunctive_bound(self):
        r = self.make_reader(block_ranges="1:10,2001:2010")
        list(r.pushFilters([LessThanOrEqual(("block_number",), 100)]))
        assert [(p.start, p.end) for p in r.partitions()] == [(1, 10)]

    def test_disjunctive_results_unchanged(self):
        """The pruned two-island scan returns exactly the rows of the
        equivalent unpruned filter."""
        import pyspark.sql.functions as F

        spark = SparkSession.getActiveSession()
        df = (
            spark.read.format("ethereum-pushdown")
            .option("table", "block")
            .option("path", CHAIN)
            .load()
            .where(F.col("block_number").isin(5, 6, 2001, 2002))
            .select("block_number")
        )
        assert sorted(r.block_number for r in df.collect()) == [5, 6, 2001, 2002]

    def test_hash_pushdown_resolves_via_transport(self):
        tr = ParquetChainTransport(CHAIN)
        target = tr.get_blocks([77])[0]["hash"]
        r = self.make_reader()
        list(r.pushFilters([EqualTo(("block_hash",), target)]))
        [rr] = r.ranges
        assert (rr.start, rr.end) == (77, 77)

    def test_timestamp_pushdown_via_binary_search(self):
        tr = ParquetChainTransport(CHAIN)
        ts_of_1000 = tr.block_timestamp(1000)
        r = self.make_reader()
        list(
            r.pushFilters(
                [
                    GreaterThanOrEqual(("block_timestamp",), ts_of_1000),
                    LessThanOrEqual(("block_timestamp",), tr.block_timestamp(1100)),
                ]
            )
        )
        [rr] = r.ranges
        assert rr.start <= 1000 and 1100 <= rr.end <= 1102
        assert rr.end != -1


def test_erc20_lazy_log_fetch_counts(registered, spark):
    # erc20 through the DS equals the golden parquet slice
    ds = _read(registered, "erc20", start_block=200, end_block=400)
    golden = spark.read.parquet(str(ETH_FIXTURES / "erc20.parquet")).where(
        "erc20_blocknumber BETWEEN 200 AND 400"
    )
    assert ds.exceptAll(golden).count() == 0
    assert golden.exceptAll(ds).count() == 0


class TestTransportRetry:
    def _transport(self):
        from presto_ethereum_spark.sources.rpc import HttpJsonRpcTransport

        return HttpJsonRpcTransport("http://unused/", retries=3)

    def test_transient_failures_retried(self, monkeypatch):
        import urllib.error

        tr = self._transport()
        attempts = []

        def flaky(body):
            attempts.append(1)
            if len(attempts) < 3:
                raise urllib.error.URLError("connection reset")
            return [{"id": 1, "result": "0x2a"}]

        monkeypatch.setattr(tr, "_post_once", flaky)
        monkeypatch.setattr("time.sleep", lambda s: None)
        out = tr._post([{"id": 1, "method": "eth_blockNumber", "params": []}])
        assert out == ["0x2a"] and len(attempts) == 3

    def test_client_errors_raise_immediately(self, monkeypatch):
        import urllib.error

        tr = self._transport()
        attempts = []

        def bad_request(body):
            attempts.append(1)
            raise urllib.error.HTTPError("u", 400, "bad request", {}, None)

        monkeypatch.setattr(tr, "_post_once", bad_request)
        monkeypatch.setattr("time.sleep", lambda s: None)
        import pytest as _pytest

        with _pytest.raises(urllib.error.HTTPError):
            tr._post([{"id": 1, "method": "x", "params": []}])
        assert len(attempts) == 1

    def test_exhausted_retries_raise(self, monkeypatch):
        import urllib.error

        tr = self._transport()

        def always_down(body):
            raise urllib.error.URLError("down")

        monkeypatch.setattr(tr, "_post_once", always_down)
        monkeypatch.setattr("time.sleep", lambda s: None)
        import pytest as _pytest

        with _pytest.raises(urllib.error.URLError):
            tr._post([{"id": 1, "method": "x", "params": []}])


def test_ipc_url_rejected():
    """The reference's config offers jsonrpc/ipc/infura
    (EthereumConnectorConfig.java:6-39); a distributed engine cannot honor
    a driver-local unix socket, and must say so instead of treating the
    option namespace as http-only."""
    with pytest.raises(ValueError, match="ipc.* not supported"):
        make_transport({"url": "ipc:///var/run/geth.ipc"})
    with pytest.raises(ValueError, match="not supported"):
        make_transport({"url": "/var/run/geth.ipc"})


class CountingTransport:
    """Delegating transport that counts RPC-surface calls — the cost-model
    referee for the bulk eth_getLogs path."""

    def __init__(self, inner):
        self.inner = inner
        self.counts = {"get_blocks": 0, "get_receipt_logs": 0, "get_logs": 0}

    def block_number(self):
        return self.inner.block_number()

    def block_number_by_hash(self, h):
        return self.inner.block_number_by_hash(h)

    def block_timestamp(self, n):
        return self.inner.block_timestamp(n)

    def get_blocks(self, numbers):
        self.counts["get_blocks"] += 1
        return self.inner.get_blocks(numbers)

    def get_receipt_logs(self, tx_hashes):
        self.counts["get_receipt_logs"] += 1
        return self.inner.get_receipt_logs(tx_hashes)

    def get_logs(self, start, end, topic0=None, addresses=None):
        self.counts["get_logs"] += 1
        return self.inner.get_logs(start, end, topic0, addresses)


class TestBulkGetLogs:
    """logs_mode=eth_getLogs: the live erc20 scan's bulk path (replaces the
    reference's one-receipt-per-tx cost model,
    EthereumLogLazyIterator.java:39-42)."""

    def test_erc20_via_getlogs_matches_golden(self, registered, spark):
        ds = _read(
            registered, "erc20", start_block=200, end_block=400,
            logs_mode="eth_getLogs",
        )
        golden = spark.read.parquet(str(ETH_FIXTURES / "erc20.parquet")).where(
            "erc20_blocknumber BETWEEN 200 AND 400"
        )
        assert ds.exceptAll(golden).count() == 0
        assert golden.exceptAll(ds).count() == 0

    def test_rpc_count_is_o_ranges_not_o_txs(self):
        # 500 blocks / 100-block partitions -> exactly 5 eth_getLogs calls,
        # ZERO block-body or receipt calls (vs O(blocks)+O(txs) on the
        # receipts path and 1+|txs| RPCs per block in the reference)
        opts = {
            "table": "erc20", "path": CHAIN,
            "start_block": 1, "end_block": 500,
            "blocks_per_partition": 100, "logs_mode": "eth_getLogs",
        }
        r = EthereumReader(opts, EthereumDataSource(opts).schema())
        counting = CountingTransport(r.transport)
        r.transport = counting
        parts = r.partitions()
        assert len(parts) == 5
        rows = [row for p in parts for row in r.read(p)]
        assert rows  # the range does contain Transfer events
        assert counting.counts == {
            "get_blocks": 0, "get_receipt_logs": 0, "get_logs": 5,
        }

    def test_single_token_address_pushdown_cost(self):
        """'One token's transfers over the whole chain cost the matching
        logs only' (rpc.py get_logs) — test-enforced: with logs_address
        the read is exactly one eth_getLogs per partition carrying the
        address filter, zero block/receipt calls, and every returned row
        is the requested token (incl. case-varied fixture spellings)."""
        addr = "0x4df812f6064def1e5e029f1ca858777cc98d2d81"  # Xaurum
        opts = {
            "table": "erc20", "path": CHAIN,
            "blocks_per_partition": 4000,
            "logs_mode": "eth_getLogs", "logs_address": addr,
        }
        r = EthereumReader(opts, EthereumDataSource(opts).schema())
        counting = CountingTransport(r.transport)
        r.transport = counting
        parts = r.partitions()
        assert len(parts) == 1
        cols = [f.name for f in EthereumDataSource(opts).schema().fields]
        sym = cols.index("erc20_token")
        rows = [row for p in parts for row in r.read(p)]
        assert rows and all(row[sym] == "Xaurum" for row in rows)
        assert counting.counts == {
            "get_blocks": 0, "get_receipt_logs": 0, "get_logs": 1,
        }

    def test_logs_address_requires_getlogs_mode(self):
        opts = {"table": "erc20", "path": CHAIN, "logs_address": "0xabc"}
        with pytest.raises(ValueError, match="logs_address"):
            EthereumReader(opts, EthereumDataSource(opts).schema())

    def test_receipts_path_unchanged_by_default(self):
        opts = {
            "table": "erc20", "path": CHAIN,
            "start_block": 1, "end_block": 200,
            "blocks_per_partition": 200,
        }
        r = EthereumReader(opts, EthereumDataSource(opts).schema())
        counting = CountingTransport(r.transport)
        r.transport = counting
        list(r.read(r.partitions()[0]))
        assert counting.counts["get_logs"] == 0
        assert counting.counts["get_blocks"] >= 1

    def test_bad_logs_mode_rejected(self):
        opts = {"table": "erc20", "path": CHAIN, "logs_mode": "bogus"}
        with pytest.raises(ValueError, match="logs_mode"):
            EthereumReader(opts, EthereumDataSource(opts).schema())

    def test_http_wire_format(self, monkeypatch):
        from presto_ethereum_spark.sources.rpc import HttpJsonRpcTransport
        from presto_ethereum_spark.constants import TRANSFER_EVENT_TOPIC

        tr = HttpJsonRpcTransport("http://unused/")
        seen = []

        def fake_post(calls):
            seen.append(calls)
            return [[{
                "address": "0xAbC0000000000000000000000000000000000001",
                "topics": [TRANSFER_EVENT_TOPIC, "0x" + "0" * 63 + "1",
                           "0x" + "0" * 63 + "2"],
                "data": "0x" + "0" * 63 + "5",
                "transactionHash": "0xdead",
                "blockNumber": "0x10",
            }]]

        monkeypatch.setattr(tr, "_post", fake_post)
        logs = tr.get_logs(16, 31, TRANSFER_EVENT_TOPIC)
        [calls] = seen
        [call] = calls
        assert call["method"] == "eth_getLogs"
        [params] = call["params"]
        assert params == {
            "fromBlock": "0x10", "toBlock": "0x1f",
            "topics": [TRANSFER_EVENT_TOPIC],
        }
        [lg] = logs
        assert lg["blocknumber"] == 16 and lg["transactionhash"] == "0xdead"
        from presto_ethereum_spark.sources.pyrows import erc20_row_from_log

        row = erc20_row_from_log(lg)
        assert row is not None and row["erc20_value"] == 5.0


class TestIpcTransport:
    """Unix-socket JSON-RPC (EthereumWeb3jProvider.java:26 UnixIpcService
    parity): a canned geth-style socket server exercises the transport and
    the full DataSource read path under the local_ipc=true opt-in."""

    @staticmethod
    def _wire_tx(n, i):
        return {
            "hash": f"0xt{n}_{i}", "nonce": hex(i), "blockHash": f"0xb{n}",
            "blockNumber": hex(n), "transactionIndex": hex(i),
            "from": "0xaaa", "to": "0xbbb", "value": hex(10 * n + i),
            "gas": hex(21000), "gasPrice": hex(5), "input": "0x",
        }

    @classmethod
    def _wire_block(cls, n):
        return {
            "number": hex(n), "hash": f"0xb{n}", "parentHash": f"0xb{n-1}",
            "nonce": "0x1", "sha3Uncles": "0xs", "logsBloom": "0xl",
            "transactionsRoot": "0xtr", "stateRoot": "0xsr", "miner": "0xm",
            "difficulty": hex(n * 7), "totalDifficulty": hex(n * 100),
            "size": hex(500 + n), "extraData": "0x", "gasLimit": hex(8000000),
            "gasUsed": hex(4000 * n), "timestamp": hex(1500000000 + 15 * n),
            "uncles": [], "transactions": [cls._wire_tx(n, i) for i in range(n % 3)],
        }

    @classmethod
    def _serve(cls, sock_path, head=12):
        """One-connection-per-request server answering eth_blockNumber and
        eth_getBlockByNumber batches from the canned chain."""
        import json as _json
        import socket
        import threading

        blocks = {n: cls._wire_block(n) for n in range(1, head + 1)}
        srv = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        srv.bind(sock_path)
        srv.listen(8)

        def answer(call):
            if call["method"] == "eth_blockNumber":
                return {"id": call["id"], "result": hex(head)}
            if call["method"] == "eth_getBlockByNumber":
                n = int(call["params"][0], 16)
                return {"id": call["id"], "result": blocks.get(n)}
            return {"id": call["id"], "result": None}

        def loop():
            while True:
                try:
                    conn, _ = srv.accept()
                except OSError:
                    return  # closed
                with conn:
                    buf = b""
                    while True:
                        chunk = conn.recv(65536)
                        if not chunk:
                            break
                        buf += chunk
                        try:
                            req, _ = _json.JSONDecoder().raw_decode(buf.decode())
                        except ValueError:
                            continue
                        if isinstance(req, dict):
                            req = [req]
                        conn.sendall(_json.dumps([answer(c) for c in req]).encode())
                        break

        t = threading.Thread(target=loop, daemon=True)
        t.start()
        return srv

    def test_transport_roundtrip(self, tmp_path):
        from presto_ethereum_spark.sources.rpc import IpcJsonRpcTransport

        sock = str(tmp_path / "geth.ipc")
        srv = self._serve(sock)
        try:
            tr = IpcJsonRpcTransport(sock)
            assert tr.block_number() == 12
            blocks = tr.get_blocks([3, 4])
            assert [b["number"] for b in blocks] == [3, 4]
            assert blocks[0]["timestamp"] == 1500000000 + 45
            assert len(blocks[0]["transactions"]) == 0  # 3 % 3
            assert len(blocks[1]["transactions"]) == 1
            assert blocks[1]["transactions"][0]["value"] == 40.0
        finally:
            srv.close()

    def test_opt_in_gates_make_transport(self, tmp_path):
        from presto_ethereum_spark.sources.rpc import (
            IpcJsonRpcTransport,
            make_transport,
        )

        with pytest.raises(ValueError, match="local_ipc=true"):
            make_transport({"url": "ipc:///var/run/geth.ipc"})
        tr = make_transport(
            {"url": "ipc:///var/run/geth.ipc", "local_ipc": "true"}
        )
        assert isinstance(tr, IpcJsonRpcTransport)
        assert tr.sock_path == "/var/run/geth.ipc"

    def test_datasource_read_over_ipc(self, registered, tmp_path):
        """End-to-end: spark.read.format('ethereum') against the socket
        server — partitions plan off eth_blockNumber, executors (same
        machine under local[*]) fetch batched blocks over the socket."""
        sock = str(tmp_path / "node.ipc")
        srv = self._serve(sock)
        try:
            df = (
                registered.read.format("ethereum")
                .option("table", "block")
                .option("url", f"ipc://{sock}")
                .option("local_ipc", "true")
                .option("start_block", 2)
                .option("end_block", 9)
                .load()
            )
            rows = {r["block_number"]: r for r in df.collect()}
            assert sorted(rows) == list(range(2, 10))
            assert rows[5]["block_timestamp"] == 1500000000 + 75
            assert rows[5]["block_miner"] == "0xm"
        finally:
            srv.close()


class TestGetLogsAddressFilter:
    """logs_address: the server-side token-contract filter — "scan one
    token's transfers" costs only the matching logs at any chain scale."""

    TOKEN = "0x1F573D6Fb3F13D689fF844B4cE37794D79a7fF1C"

    def test_address_filter_matches_post_scan_filter(self, registered, spark):
        ds = _read(
            registered, "erc20", start_block=1, end_block=400,
            logs_mode="eth_getLogs", logs_address=self.TOKEN,
        )
        unfiltered = _read(
            registered, "erc20", start_block=1, end_block=400,
            logs_mode="eth_getLogs",
        )
        # server-side filter == client-side filter on the decoded token
    # address; the erc20 schema exposes the looked-up symbol, so compare
        # via the underlying transport decode instead: re-derive expected
        # rows by filtering the unfiltered scan on the tx hashes present
        got = sorted(map(tuple, ds.collect()))
        from presto_ethereum_spark.constants import lookup_token

        want = sorted(
            tuple(r) for r in unfiltered.collect()
            if r["erc20_token"] == lookup_token(self.TOKEN)
        )
        assert got == want and len(got) >= 1

    def test_case_insensitive_address_match(self, registered):
        lower = _read(
            registered, "erc20", start_block=1, end_block=400,
            logs_mode="eth_getLogs", logs_address=self.TOKEN.lower(),
        ).count()
        exact = _read(
            registered, "erc20", start_block=1, end_block=400,
            logs_mode="eth_getLogs", logs_address=self.TOKEN,
        ).count()
        assert lower == exact >= 1

    def test_requires_getlogs_mode(self):
        opts = {"table": "erc20", "path": CHAIN, "logs_address": self.TOKEN}
        with pytest.raises(ValueError, match="logs_address requires"):
            EthereumReader(opts, EthereumDataSource(opts).schema())

    def test_http_wire_includes_address(self, monkeypatch):
        from presto_ethereum_spark.sources.rpc import HttpJsonRpcTransport

        tr = HttpJsonRpcTransport("http://unused/")
        seen = []
        monkeypatch.setattr(
            tr, "_post", lambda calls: (seen.append(calls), [[]])[1]
        )
        tr.get_logs(1, 16, "0xtopic", addresses=[self.TOKEN, "0xother"])
        [params] = seen[0][0]["params"]
        assert params["address"] == [self.TOKEN, "0xother"]
        assert params["topics"] == ["0xtopic"]


class CappedTransport:
    """Wraps the parquet transport with a node-style response cap: ranges
    wider than `max_span` blocks are rejected with the Infura -32005
    error, forcing the reader to bisect."""

    def __init__(self, inner, max_span):
        self.inner = inner
        self.max_span = max_span
        self.calls = []

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def get_logs(self, start, end, topic0=None, addresses=None):
        from presto_ethereum_spark.sources.rpc import RpcError

        self.calls.append((start, end))
        if end - start + 1 > self.max_span:
            raise RpcError(-32005, "query returned more than 10000 results")
        return self.inner.get_logs(start, end, topic0, addresses)


class TestAdaptiveGetLogs:
    def _reader(self, max_span, start=1, end=400, bpp=400):
        opts = {
            "table": "erc20", "path": CHAIN,
            "start_block": start, "end_block": end,
            "blocks_per_partition": bpp, "logs_mode": "eth_getLogs",
        }
        r = EthereumReader(opts, EthereumDataSource(opts).schema())
        r.transport = CappedTransport(r.transport, max_span)
        return r

    def test_bisects_until_under_cap_and_loses_nothing(self, spark):
        r = self._reader(max_span=60)
        rows = [row for p in r.partitions() for row in r.read(p)]
        golden = spark.read.parquet(str(ETH_FIXTURES / "erc20.parquet")).where(
            "erc20_blocknumber BETWEEN 1 AND 400"
        )
        assert len(rows) == golden.count() > 0
        # every successful call stayed under the cap; rejected ones split
        ok_calls = [c for c in r.transport.calls if c[1] - c[0] + 1 <= 60]
        assert sorted(x for c in ok_calls for x in range(c[0], c[1] + 1)) == list(
            range(1, 401)
        )

    def test_single_block_overflow_propagates(self):
        import pytest as _pytest

        from presto_ethereum_spark.sources.rpc import RpcError

        r = self._reader(max_span=0)  # even one block is "too large"
        with _pytest.raises(RpcError):
            list(r.read(r.partitions()[0]))

    def test_non_size_errors_propagate_immediately(self):
        import pytest as _pytest

        from presto_ethereum_spark.sources.rpc import RpcError

        r = self._reader(max_span=60)

        def reject(start, end, topic0=None, addresses=None):
            raise RpcError(-32600, "invalid request")

        r.transport.get_logs = reject
        with _pytest.raises(RpcError, match="invalid request"):
            list(r.read(r.partitions()[0]))

    def test_post_raises_on_error_member(self, monkeypatch):
        from presto_ethereum_spark.sources.rpc import (
            HttpJsonRpcTransport,
            RpcError,
        )

        tr = HttpJsonRpcTransport("http://unused/")
        monkeypatch.setattr(
            tr,
            "_post_once",
            lambda body: [
                {"id": 0, "error": {"code": -32005, "message": "too big"}}
            ],
        )
        import pytest as _pytest

        with _pytest.raises(RpcError, match="-32005"):
            tr.block_number()


class TestIpcChunkFraming:
    """The parse-skip optimization (only attempt JSON parse when a chunk
    could END the document) must still parse correctly under adversarial
    chunk splits: a '}' that closes a NESTED object mid-stream, and a
    final chunk ending in trailing whitespace."""

    def _serve_chunks(self, sock_path, chunks):
        import socket
        import threading

        srv = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
        srv.bind(sock_path)
        srv.listen(1)

        def loop():
            try:
                conn, _ = srv.accept()
            except OSError:
                return
            with conn:
                conn.recv(65536)  # consume the request
                for c in chunks:
                    conn.sendall(c)

        threading.Thread(target=loop, daemon=True).start()
        return srv

    def test_nested_close_brace_mid_stream(self, tmp_path):
        from presto_ethereum_spark.sources.rpc import IpcJsonRpcTransport

        body = b'[{"id": 0, "result": {"number": "0x10", "nested": {"a": 1}'
        tail = b', "b": 2}}]'
        sock = str(tmp_path / "a.ipc")
        srv = self._serve_chunks(sock, [body, tail])
        try:
            tr = IpcJsonRpcTransport(sock, timeout=10)
            # first chunk ENDS with '}' but is incomplete JSON -> the
            # parser must keep reading, then succeed on the second
            out = tr._post(
                [{"jsonrpc": "2.0", "id": 0, "method": "x", "params": []}]
            )
            assert out[0]["number"] == "0x10" and out[0]["b"] == 2
        finally:
            srv.close()

    def test_trailing_whitespace_final_chunk(self, tmp_path):
        from presto_ethereum_spark.sources.rpc import IpcJsonRpcTransport

        sock = str(tmp_path / "b.ipc")
        srv = self._serve_chunks(
            sock, [b'[{"id": 0, "result": "0x2a"}]', b"\n  \n"]
        )
        try:
            tr = IpcJsonRpcTransport(sock, timeout=10)
            assert tr.block_number() == 42
        finally:
            srv.close()


class TestResultTooLargeClassifier:
    """Splittable (result-size / block-range caps) vs non-splittable
    (rate-limit / argument) node errors — bisecting a rate limit would
    amplify the load it is complaining about."""

    def _err(self, msg, code=-32005):
        from presto_ethereum_spark.sources.rpc import RpcError

        return RpcError(code, msg)

    def test_splittable_messages(self):
        for msg in (
            "query returned more than 10000 results",
            "Log response size exceeded",
            "query exceeds max result set size",
            "too many results in requested range",
            "eth_getLogs is limited to a 2000 block range",
            "exceed maximum block range: 5000",
            "blocks range is too wide",
            "returned more logs than the node allows",
        ):
            assert self._err(msg).is_result_too_large(), msg

    def test_non_splittable_messages(self):
        for msg in (
            "more than 100 requests per second",  # rate limit
            "daily request count exceeded, more than allowed",
            "project ID does not have access",
            "invalid argument 0: hex string without 0x prefix",
            "execution timeout",
        ):
            assert not self._err(msg).is_result_too_large(), msg


class TestValueModeU256Hex:
    """value_mode=u256_hex read option (VERDICT r12 #4)."""

    def test_value_hex_semantics(self):
        """Canonical 0x+64 lowercase hex for valid words; None for empty /
        non-hex / >64-digit bodies — mirroring the limb decode's NULLs."""
        from presto_ethereum_spark.sources.pyrows import erc20_value_hex

        assert erc20_value_hex("0x5") == "0x" + "0" * 63 + "5"
        assert erc20_value_hex("0x" + "A" * 64) == "0x" + "a" * 64
        assert erc20_value_hex("0x" + "f" * 64) == "0x" + "f" * 64
        assert erc20_value_hex("0x") is None  # ERC-721 id-in-data
        assert erc20_value_hex(None) is None
        assert erc20_value_hex("0x" + "g" * 64) is None  # non-hex
        assert erc20_value_hex("0x" + "1" * 65) is None  # > uint256 width
        assert erc20_value_hex("0x" + "1" * 128) is None  # 2-word payload

    def test_row_builders_add_column_only_when_asked(self):
        """Default decode is byte-identical to the golden contract (no new
        key); value_hex=True adds erc20_value_hex and nothing else."""
        from presto_ethereum_spark.constants import TRANSFER_EVENT_TOPIC
        from presto_ethereum_spark.sources.pyrows import erc20_row_from_log

        log = {
            "address": "0x" + "e" * 40,
            "topics": [
                TRANSFER_EVENT_TOPIC,
                "0x" + "1".rjust(64, "0"),
                "0x" + "2".rjust(64, "0"),
            ],
            "data": "0x" + "5" * 64,
            "transactionhash": "0x" + "a" * 64,
            "blocknumber": 7,
        }
        base = erc20_row_from_log(dict(log))
        assert "erc20_value_hex" not in base
        ext = erc20_row_from_log(dict(log), value_hex=True)
        assert ext["erc20_value_hex"] == "0x" + "5" * 64
        assert {k: v for k, v in ext.items() if k != "erc20_value_hex"} == base

    def test_format_roundtrip_matches_batch_decode(self, spark):
        """The live format with value_mode=u256_hex must agree with the
        default mode on every base column, row for row, and the appended
        hex column must re-decode (via the limb family) to a double that
        equals erc20_value wherever the value fits a double exactly."""
        from pyspark.sql import functions as F

        from presto_ethereum_spark.sources.rpc import EthereumDataSource

        spark.dataSource.register(EthereumDataSource)

        def rd(**opts):
            r = (
                spark.read.format("ethereum")
                .option("table", "erc20")
                .option("path", "fixtures/eth/chain_blocks.parquet")
                .option("blocks_per_partition", 4000)
            )
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load()

        base = rd()
        ext = rd(value_mode="u256_hex")
        assert ext.drop("erc20_value_hex").exceptAll(base).count() == 0
        assert base.exceptAll(ext.drop("erc20_value_hex")).count() == 0
        # hex is exact: where present and < 2^53, int(hex) == double value
        rows = ext.where(
            F.col("erc20_value_hex").isNotNull()
        ).select("erc20_value", "erc20_value_hex").collect()
        assert rows
        n_checked = 0
        for r in rows:
            v = int(r.erc20_value_hex, 16)
            if v < 2**53:
                assert float(v) == r.erc20_value
                n_checked += 1
        assert n_checked > 0
