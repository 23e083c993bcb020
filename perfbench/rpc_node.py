"""Fake Ethereum JSON-RPC node for the ``chain_ingest`` workload.

Runs as its own process so its CPU time never hides inside the client's
measurements.  It generates the seeded chain (``gen_chain``) and encodes
every response it can serve once, at start-up; a request then costs a
JSON parse of the (small) request body plus string joins.

Served methods: ``eth_blockNumber``, ``eth_getBlockByNumber``,
``eth_getBlockByHash``, ``eth_getTransactionReceipt`` and ``eth_getLogs``
(topic0 / address filters, matched case-insensitively like the parquet
transport).  Batched (array) and single requests are both accepted.

``GET /stats`` returns the counters: HTTP posts, JSON-RPC calls, response
bytes and busy seconds (summed handler time).  ``GET /reset`` zeroes them.

Usage::

    python3 perfbench/rpc_node.py --seed 7 --blocks 8000 --threads 4

prints ``port <n>`` once the responses are encoded, then serves on
127.0.0.1 until killed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _q(v) -> str:
    return hex(int(v))


def wire_tx(t: dict) -> dict:
    return {
        "hash": t["hash"],
        "nonce": _q(t["nonce"]),
        "blockHash": t["blockhash"],
        "blockNumber": _q(t["blocknumber"]),
        "transactionIndex": _q(t["transactionindex"]),
        "from": t["from"],
        "to": t["to"],
        "value": _q(t["value"]),
        "gas": _q(t["gas"]),
        "gasPrice": _q(t["gasprice"]),
        "input": t["input"],
    }


def wire_log(lg: dict) -> dict:
    return {
        "address": lg["address"],
        "topics": lg["topics"],
        "data": lg["data"],
        "transactionHash": lg["transactionhash"],
        "blockNumber": _q(lg["blocknumber"]),
    }


def wire_block(b: dict, full: bool) -> dict:
    return {
        "number": _q(b["number"]),
        "hash": b["hash"],
        "parentHash": b["parenthash"],
        "nonce": b["nonce"],
        "sha3Uncles": b["sha3uncles"],
        "logsBloom": b["logsbloom"],
        "transactionsRoot": b["transactionsroot"],
        "stateRoot": b["stateroot"],
        "miner": b["miner"],
        "difficulty": _q(b["difficulty"]),
        "totalDifficulty": _q(b["totaldifficulty"]),
        "size": _q(b["size"]),
        "extraData": b["extradata"],
        "gasLimit": _q(b["gaslimit"]),
        "gasUsed": _q(b["gasused"]),
        "timestamp": _q(b["timestamp"]),
        "uncles": b["uncles"],
        "transactions": [
            wire_tx(t) if full else t["hash"] for t in b["transactions"]
        ],
    }


class Chain:
    """Every response body the node can send, encoded once."""

    def __init__(self, blocks: list[dict]):
        dumps = json.dumps
        self.head = blocks[-1]["number"] if blocks else 0
        self.full: dict[int, str] = {}
        self.header: dict[int, str] = {}
        self.by_hash: dict[str, int] = {}
        self.receipt: dict[str, str] = {}
        # per block: (topic0 lower, address lower, encoded log)
        self.logs: dict[int, list[tuple[str, str, str]]] = {}
        for b in blocks:
            n = b["number"]
            self.full[n] = dumps(wire_block(b, True))
            self.header[n] = dumps(wire_block(b, False))
            self.by_hash[b["hash"]] = n
            entries = []
            for t in b["transactions"]:
                wl = [wire_log(lg) for lg in t["logs"]]
                self.receipt[t["hash"]] = dumps(
                    {
                        "transactionHash": t["hash"],
                        "blockNumber": _q(n),
                        "logs": wl,
                    }
                )
                for lg, w in zip(t["logs"], wl):
                    topics = lg["topics"]
                    entries.append(
                        (
                            topics[0].lower() if topics else "",
                            lg["address"].lower(),
                            dumps(w),
                        )
                    )
            self.logs[n] = entries

    def _number(self, tag) -> int:
        if tag in ("latest", "pending", "safe", "finalized"):
            return self.head
        if tag == "earliest":
            return 0
        return int(tag, 16)

    def call(self, method: str, params: list) -> str:
        if method == "eth_blockNumber":
            return json.dumps(_q(self.head))
        if method == "eth_getBlockByNumber":
            n = self._number(params[0])
            full = bool(params[1]) if len(params) > 1 else False
            return (self.full if full else self.header).get(n, "null")
        if method == "eth_getBlockByHash":
            n = self.by_hash.get(params[0])
            if n is None:
                return "null"
            full = bool(params[1]) if len(params) > 1 else False
            return (self.full if full else self.header)[n]
        if method == "eth_getTransactionReceipt":
            return self.receipt.get(params[0], "null")
        if method == "eth_getLogs":
            f = params[0] if params else {}
            lo = self._number(f.get("fromBlock", "earliest"))
            hi = self._number(f.get("toBlock", "latest"))
            topics = f.get("topics") or []
            t0 = topics[0].lower() if topics and isinstance(topics[0], str) else None
            addr = f.get("address")
            if isinstance(addr, str):
                addr = [addr]
            addrs = {a.lower() for a in addr} if addr else None
            out = []
            for n in range(max(lo, 1), min(hi, self.head) + 1):
                for topic0, address, enc in self.logs[n]:
                    if t0 is not None and topic0 != t0:
                        continue
                    if addrs is not None and address not in addrs:
                        continue
                    out.append(enc)
            return "[" + ",".join(out) + "]"
        raise KeyError(method)


class Stats:
    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self):
        with self.lock:
            self.posts = self.calls = self.bytes_out = self.errors = 0
            self.busy_s = 0.0

    def add(self, calls: int, nbytes: int, busy: float, error: bool):
        with self.lock:
            self.posts += 1
            self.calls += calls
            self.bytes_out += nbytes
            self.busy_s += busy
            self.errors += error

    def as_dict(self) -> dict:
        with self.lock:
            return {
                "posts": self.posts,
                "calls": self.calls,
                "bytes_out": self.bytes_out,
                "busy_s": self.busy_s,
                "errors": self.errors,
            }


class Handler(BaseHTTPRequestHandler):
    server: "PooledHTTPServer"

    def log_message(self, *args):  # keep stderr quiet
        pass

    def _send(self, body: bytes, code: int = 200):
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if self.path == "/reset":
            self.server.stats.reset()
            self._send(b"{}")
        elif self.path == "/stats":
            self._send(json.dumps(self.server.stats.as_dict()).encode())
        else:
            self._send(b"{}", 404)

    def do_POST(self):
        t0 = time.perf_counter()
        raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        req = json.loads(raw)
        batch = isinstance(req, list)
        reqs = req if batch else [req]
        parts = []
        error = False
        for r in reqs:
            rid = json.dumps(r.get("id"))
            try:
                res = self.server.chain.call(r["method"], r.get("params") or [])
                parts.append('{"jsonrpc":"2.0","id":%s,"result":%s}' % (rid, res))
            except (KeyError, ValueError, TypeError, IndexError, AttributeError) as e:
                # unknown method or malformed params: a JSON-RPC error
                error = True
                msg = json.dumps(f"{type(e).__name__}: {e}")
                parts.append(
                    '{"jsonrpc":"2.0","id":%s,"error":{"code":-32601,"message":%s}}'
                    % (rid, msg)
                )
        body = ("[" + ",".join(parts) + "]" if batch else parts[0]).encode()
        self._send(body)
        self.server.stats.add(len(reqs), len(body), time.perf_counter() - t0, error)


class PooledHTTPServer(HTTPServer):
    """HTTP server whose requests run on a fixed pool of handler threads."""

    request_queue_size = 128

    def __init__(self, addr, chain: Chain, threads: int):
        super().__init__(addr, Handler)
        self.chain = chain
        self.stats = Stats()
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def main() -> None:
    from gen_chain import generate_chain

    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--blocks", type=int, required=True)
    ap.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    a = ap.parse_args()
    chain = Chain(generate_chain(a.seed, a.blocks))
    srv = PooledHTTPServer(("127.0.0.1", 0), chain, max(1, a.threads))
    print(f"port {srv.server_address[1]}", flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
