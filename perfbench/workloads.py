"""The benchmark workloads.

Each workload generates its inputs from the run's seed, defines a fixed op
mix (a "cycle", shuffled per cycle by the seed), and checks every op's
result against a reference computed outside the program's code path.

The op mix follows one stated rule per workload.  The shares quoted are
shares of measured op wall time over 20 runs per workload on 4 cores, from
the ``ops`` lists of the summary artifacts
(``.perfbench_out/summary-*.json``):

- ``chain_sql``: every op kind runs once per cycle, seven cycles a run, so
  the op percentiles mix kinds instead of following whichever kind is
  most numerous: ``op_p50_s`` falls on the middle kinds (block-range
  lookup, ``avg_block_time_by_chunk``) and ``op_tail_s`` (p71 of 35) on
  ``sql_wei`` in 17 runs of 20, ``erc20_token_movement`` in 3.  Kinds: a
  50-block ``table_for_block_range`` + ``block_time_deltas`` lookup (13%
  of the time), the full-chain ``top_miners`` (11%),
  ``avg_block_time_by_chunk`` (15%) and ``erc20_token_movement`` (34%)
  from ``plans.golden``, and ``fromWei``/``toWei`` SQL (26%), over an
  8,000-block chain read through ``EthereumFixtureSource``.  References
  are plain-Python recomputations over the generated chain.
- ``chain_ingest``: ledger writes run once each, the fewest that measure
  them; they take 55% of the time (``stream_balance_rpc_tail`` 34%,
  ``run_balance_restart`` 11%, ``run_balance_upsert`` 10%).  Connector
  reads fill the rest: ``spark.read.format("ethereum")`` scans of
  ``block``, ``transaction`` and ``erc20`` (both ``logs_mode``s), three
  each (8% apiece), and five ``read_ethereum_where`` OR-of-ranges reads
  (13%), the point op, whose median needs at least five samples.  All
  reads come from the fake JSON-RPC node (``rpc_node.py``).  Writes run
  over an 800-block chain, except ``stream_balance_rpc_tail``, a
  registered entry over the committed fixture.  A run has 20 ops, so
  ``op_tail_s`` is the slowest op, the ``stream_balance_rpc_tail`` drain
  (in 20 runs of 20); ``op_p50_s`` is a read.  RPC scans are checked
  against the parquet path, ledgers against a plain-Python batch ledger,
  the registered entry against its DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import subprocess
import sys
import time
import urllib.request

from harness import Op, same_rows

HERE = os.path.dirname(os.path.abspath(__file__))


def _digest(df):
    """Row count plus an order-free content hash of every column: equal
    digests mean equal multisets of rows (up to hash collisions)."""
    from pyspark.sql import functions as F

    return df.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(2**40))).alias("h"),
    )


class Workload:
    name = ""
    point_kind = ""
    CYCLE_S = 1.0  # nominal seconds per cycle on 4 cores (sets cycles per run)

    def __init__(self, bench):
        self.bench = bench
        self.seed = bench.seed

    def setup(self, spark, k: int) -> tuple[float, float]:
        """Generate inputs for setup ``k`` and warm up; -> (gen_s, warm_s)."""
        raise NotImplementedError

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def prime(self, spark) -> None:
        """First touch of every op kind in this JVM (class loading, JIT,
        codegen, Python workers), so no measured op pays it.  Runs once,
        after the first setup."""
        seen = set()
        for op in self.cycle(-1):
            if op.name not in seen:
                seen.add(op.name)
                op.build(spark).collect()

    def verify(self, spark, runs) -> None:
        """Set ``run.ok`` for every run that returned rows."""
        raise NotImplementedError

    def table_rows(self, table: str) -> int:
        return 0

    def close(self) -> None:
        pass

    def _rng(self, i: int) -> random.Random:
        return random.Random(self.seed * 7919 + i)


# ---------------------------------------------------------------------------
# chain_sql
# ---------------------------------------------------------------------------


class ChainSql(Workload):
    name = "chain_sql"
    point_kind = "block_time_deltas"
    CYCLE_S = 3.0
    N_BLOCKS = 8000
    POINT_WIDTH = 50
    CHUNK = 200
    WEI_SQL = (
        "SELECT tx_blocknumber DIV 1000 AS bucket, count(*) AS n, "
        "sum(fromWei(tx_value, 'ether')) AS ether, "
        "sum(toWei(tx_gas, 'gwei')) AS gas_wei "
        "FROM transaction GROUP BY 1 ORDER BY 1"
    )

    def setup(self, spark, k):
        from gen_chain import generate_chain, write_chain
        from presto_ethereum_spark.functions.web3 import register_udfs
        from presto_ethereum_spark.sources.fixture import EthereumFixtureSource

        t0 = time.perf_counter()
        self.blocks = generate_chain(self.seed, self.N_BLOCKS)
        path = os.path.join(self.bench.setup_dir(k), "chain_blocks.parquet")
        write_chain(self.blocks, path)
        t1 = time.perf_counter()
        self.src = EthereumFixtureSource(spark, path)
        self.src.register_views()
        register_udfs(spark)
        spark.sql(
            "SELECT count(*), sum(fromWei(tx_value, 'ether')) FROM transaction "
            "WHERE tx_blocknumber <= 100"
        ).collect()
        return t1 - t0, time.perf_counter() - t1

    def cycle(self, i):
        from presto_ethereum_spark.plans import golden

        rng = self._rng(i)
        src, n = self.src, self.N_BLOCKS
        lo = rng.randint(1, n - self.POINT_WIDTH - 1)
        hi = lo + self.POINT_WIDTH - 1
        ops = [
            Op(
                self.point_kind,
                lambda s: golden.block_time_deltas(
                    src.table_for_block_range("block", lo, hi + 1), lo, hi
                ),
                point=True,
                range_rows=hi + 2 - lo,
                params={"lo": lo, "hi": hi},
            ),
            Op(
                "top_miners",
                lambda s: golden.top_miners(src.table("block"), max_block=n, k=15),
                scan_table="block",
            ),
            Op(
                "avg_block_time_by_chunk",
                lambda s: golden.avg_block_time_by_chunk(
                    src.table("block"), 1, n - 1, self.CHUNK
                ),
                scan_table="block",
            ),
            Op(
                "erc20_token_movement",
                lambda s: golden.erc20_token_movement(src.table("erc20"), 1, n),
                scan_table="erc20",
            ),
            Op("sql_wei", lambda s: s.sql(self.WEI_SQL), scan_table="transaction"),
        ]
        rng.shuffle(ops)
        return ops

    # -- references (plain Python over the generated chain) ---------------

    def _refs(self):
        from collections import Counter, defaultdict

        from presto_ethereum_spark.sources import pyrows

        blocks, n = self.blocks, self.N_BLOCKS
        ts = {b["number"]: b["timestamp"] for b in blocks}
        miners = Counter(b["miner"] for b in blocks)
        top = sorted(miners.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
        self.ref_top = [(m, c, c / float(n)) for m, c in top]

        deltas = [(bn, ts[bn + 1] - ts[bn]) for bn in range(1, n)]
        n_chunks = max(1, len(deltas) // self.CHUNK)
        size, extra = divmod(len(deltas), n_chunks)
        out, pos = [], 0
        for c in range(n_chunks):
            part = deltas[pos : pos + size + (c < extra)]
            pos += len(part)
            out.append((part[0][0], sum(d for _, d in part) / len(part)))
        self.ref_chunks = out
        self.ts = ts

        tokens: dict[str, float] = defaultdict(float)
        n_erc20 = 0
        for b in blocks:
            for r in pyrows.erc20_rows(b):
                tokens[r["erc20_token"]] += r["erc20_value"]
                n_erc20 += 1
        self.ref_tokens = sorted(tokens.items())

        wei: dict[int, list] = {}
        n_tx = 0
        for b in blocks:
            for t in b["transactions"]:
                acc = wei.setdefault(t["blocknumber"] // 1000, [0, 0.0, 0.0])
                acc[0] += 1
                acc[1] += t["value"] / 1e18
                acc[2] += t["gas"] * 1e9
                n_tx += 1
        self.ref_wei = [(k, *v) for k, v in sorted(wei.items())]
        self.rows = {"block": n, "transaction": n_tx, "erc20": n_erc20}

    def verify(self, spark, runs):
        self._refs()
        for r in runs:
            if r.rows is None:
                continue
            kind = r.op.name
            if kind == self.point_kind:
                lo, hi = r.op.params["lo"], r.op.params["hi"]
                want = [(bn, self.ts[bn + 1] - self.ts[bn]) for bn in range(lo, hi + 1)]
                r.ok = same_rows(r.rows, want, ordered=True)
            elif kind == "top_miners":
                r.ok = same_rows(r.rows, self.ref_top, ordered=True)
            elif kind == "avg_block_time_by_chunk":
                r.ok = same_rows(r.rows, self.ref_chunks, ordered=True)
            elif kind == "erc20_token_movement":
                r.ok = same_rows(r.rows, self.ref_tokens, ordered=True)
            elif kind == "sql_wei":
                r.ok = same_rows(r.rows, self.ref_wei, ordered=True)

    def table_rows(self, table):
        return self.rows.get(table, 0)


# ---------------------------------------------------------------------------
# chain_ingest
# ---------------------------------------------------------------------------


class RpcNode:
    """The fake JSON-RPC node as a child process."""

    def __init__(self, seed: int, blocks: int, threads: int, env: dict):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "rpc_node.py"),
             "--seed", str(seed), "--blocks", str(blocks),
             "--threads", str(threads)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            stdin=subprocess.DEVNULL,
            text=True,
            env=env,
        )
        self.url = None

    def wait_ready(self) -> str:
        line = self.proc.stdout.readline()
        if not line.startswith("port "):
            raise RuntimeError("rpc node failed to start")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}/"
        return self.url

    def get(self, path: str) -> dict:
        import json

        with urllib.request.urlopen(self.url + path, timeout=30) as resp:
            return json.loads(resp.read())

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


class ChainIngest(Workload):
    name = "chain_ingest"
    point_kind = "rpc_where"
    CYCLE_S = 31.0
    N_BLOCKS = 800
    SCANS_PER_KIND = 3
    ISLAND_READS = 5  # point_p50_s is their median
    ISLAND = 100
    SPLIT_RANGES = 2  # two micro-batches: the smallest real multi-batch merge
    PRIME_BLOCKS = 60
    # op kind -> (table, logs_mode)
    SCAN_KINDS = {
        "rpc_block": ("block", "receipts"),
        "rpc_transaction": ("transaction", "receipts"),
        "rpc_erc20_receipts": ("erc20", "receipts"),
        "rpc_erc20_getlogs": ("erc20", "eth_getLogs"),
    }

    def __init__(self, bench):
        super().__init__(bench)
        self.node: RpcNode | None = None

    def setup(self, spark, k):
        from gen_chain import generate_chain, write_chain
        from presto_ethereum_spark.sources.rpc import EthereumDataSource

        t0 = time.perf_counter()
        self.close()
        self.node = RpcNode(self.seed, self.N_BLOCKS, self.bench.ncpu, self.bench.env)
        self.blocks = generate_chain(self.seed, self.N_BLOCKS)
        self.path = os.path.join(self.bench.setup_dir(k), "chain_blocks.parquet")
        write_chain(self.blocks, self.path)
        self.url = self.node.wait_ready()
        t1 = time.perf_counter()
        spark.dataSource.register(EthereumDataSource)
        self._scan(spark, "block", end=200).collect()
        return t1 - t0, time.perf_counter() - t1

    def prime(self, spark):
        """The stream path (query start, foreachBatch), on a small prefix
        of the chain: its first touch costs about 5.5 s more than a warm
        run.  The warmup scan has already paid the data source's first
        touch; each read kind keeps at most 1 s of its own, on one of its
        ops, less than priming it would cost."""
        from gen_chain import write_chain
        from presto_ethereum_spark.streaming.chain import run_balance_upsert

        end = self.PRIME_BLOCKS
        path = os.path.join(self.bench.setup_dir(0), "prime.parquet")
        write_chain(self.blocks[:end], path)
        run_balance_upsert(spark, path, split_ranges=self.SPLIT_RANGES).collect()

    def _scan(self, spark, table, end=None, **opts):
        r = (
            spark.read.format("ethereum")
            .option("table", table)
            .option("url", self.url)
            .option("start_block", 1)
            .option("end_block", end or self.N_BLOCKS)
        )
        for key, v in opts.items():
            r = r.option(key, v)
        return _digest(r.load())

    def _islands(self, rng) -> str:
        n, w = self.N_BLOCKS, self.ISLAND
        a = rng.randint(1, n // 2 - w)
        b = rng.randint(n // 2, n - w)
        return (
            f"tx_blocknumber BETWEEN {a} AND {a + w - 1} "
            f"OR tx_blocknumber BETWEEN {b} AND {b + w - 1}"
        )

    def cycle(self, i):
        from presto_ethereum_spark.plans import battery
        from presto_ethereum_spark.sources.rpc import read_ethereum_where
        from presto_ethereum_spark.streaming.chain import (
            run_balance_restart,
            run_balance_upsert,
        )

        rng = self._rng(i)
        n, path = self.N_BLOCKS, self.path
        ops = self.SCANS_PER_KIND * [
            Op(
                kind,
                lambda s, t=table, m=mode: self._scan(s, t, logs_mode=m),
                scan_table=table,
                blocks=n,
            )
            for kind, (table, mode) in self.SCAN_KINDS.items()
        ]
        for _ in range(self.ISLAND_READS):
            pred = self._islands(rng)
            ops.append(
                Op(
                    self.point_kind,
                    lambda s, p=pred: _digest(
                        read_ethereum_where(s, "transaction", p, url=self.url)
                    ),
                    point=True,
                    blocks=2 * self.ISLAND,
                    params={"predicate": pred},
                )
            )
        ops += [
            Op(
                "balance_upsert",
                lambda s: run_balance_upsert(s, path, split_ranges=self.SPLIT_RANGES),
            ),
            Op(
                "balance_restart",
                lambda s: run_balance_restart(
                    s, path, split_ranges=self.SPLIT_RANGES, kill_after=1
                ),
            ),
            Op(
                "stream_balance_rpc_tail",
                lambda s: battery.queries()["stream_balance_rpc_tail"](s, ""),
            ),
        ]
        rng.shuffle(ops)
        return ops

    def _ledger(self):
        """Plain-Python batch ledger, same rules as the exact-decimal
        decode: standard 3-topic Transfers with a one-word value whose top
        17 bytes are zero; credit ``to``, debit ``from``."""
        from presto_ethereum_spark.constants import TRANSFER_EVENT_TOPIC, h32_to_h20

        acc: dict[tuple[str, str], list[int]] = {}
        for b in self.blocks:
            for t in b["transactions"]:
                for lg in t["logs"]:
                    topics, data = lg["topics"], lg["data"]
                    if not (
                        len(topics) >= 3
                        and topics[0].lower() == TRANSFER_EVENT_TOPIC
                        and len(data) == 66
                        and data[2:36] == "0" * 34
                    ):
                        continue
                    wei = int(data, 16)
                    tok = lg["address"]
                    for holder, delta, inc in (
                        (h32_to_h20(topics[2]), wei, 0),
                        (h32_to_h20(topics[1]), -wei, 1),
                    ):
                        a = acc.setdefault((tok, holder), [0, 0, 0])
                        a[inc] += 1
                        a[2] += delta
        return [(t, h, a[0], a[1], str(a[2])) for (t, h), a in acc.items()]

    def verify(self, spark, runs):
        import duckdb

        from presto_ethereum_spark.plans import battery
        from presto_ethereum_spark.sources.fixture import EthereumFixtureSource

        src = EthereumFixtureSource(spark, self.path)
        scans = {}
        for t in ("block", "transaction", "erc20"):
            scans[t] = _digest(src.table(t)).collect()[0]
        self.rows = {t: d[0] for t, d in scans.items()}
        ledger = self._ledger()
        tail_ref = duckdb.sql(battery.oracles()["stream_balance_rpc_tail"])
        tail_cols = tail_ref.columns
        tail_rows = tail_ref.fetchall()
        tx = src.table("transaction")
        for r in runs:
            if r.rows is None:
                continue
            kind = r.op.name
            if r.op.scan_table:
                r.ok = same_rows(r.rows, [tuple(scans[r.op.scan_table])])
            elif kind == self.point_kind:
                want = _digest(tx.where(r.op.params["predicate"])).collect()
                r.ok = same_rows(r.rows, [tuple(w) for w in want])
            elif kind in ("balance_upsert", "balance_restart"):
                r.ok = same_rows(r.rows, ledger)
            elif kind == "stream_balance_rpc_tail":
                idx = [r.columns.index(c) for c in tail_cols]
                got = [tuple(row[i] for i in idx) for row in r.rows]
                r.ok = same_rows(got, tail_rows)

    def table_rows(self, table):
        return self.rows.get(table, 0)

    def close(self):
        if self.node is not None:
            self.node.stop()
            self.node = None


WORKLOADS = {w.name: w for w in (ChainSql, ChainIngest)}
