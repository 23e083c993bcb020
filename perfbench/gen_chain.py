"""Seeded synthetic chain for the benchmark (FIXTURES.md §1 shape).

One dict per block with embedded transactions and receipt logs, the
``chain_blocks`` nested layout that ``EthereumFixtureSource`` reads and
that the fake JSON-RPC node (``rpc_node.py``) serves as wire JSON.

Differences from ``fixtures/generate_eth_fixture.py``:

- the seed is an argument, so every benchmark run draws its own chain;
- difficulty is a bounded random walk, so ``totaldifficulty`` stays far
  inside int64 for any chain length the benchmark uses (the fixture
  generator's compounding drift overflows int64 near block 9,000);
- every numeric transaction field is an integral double, so the wire
  round-trip (hex quantity -> int -> float) is exact and RPC scans can be
  checked bit-for-bit against the parquet path.

Random hex comes from ``Random.randbytes``, which is seeded and fast.
"""

from __future__ import annotations

import random

from presto_ethereum_spark.constants import ERC20_TOKEN_BY_ADDRESS, TRANSFER_EVENT_TOPIC

DEFAULT_BLOCKS = 8000
GENESIS_TS = 1438269988
MAX_DIFFICULTY = 10**12  # x 8k blocks = 8e15 total, far below 2**63


class ChainGen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.known_tokens = sorted(ERC20_TOKEN_BY_ADDRESS)
        self.miners = [self.hex(20) for _ in range(20)]
        self.senders = [self.hex(20) for _ in range(200)]
        self.nonce = dict.fromkeys(self.senders, 0)

    def hex(self, nbytes: int) -> str:
        return "0x" + self.rng.randbytes(nbytes).hex()

    def word(self, v: int | str) -> str:
        """A 32-byte data word (no 0x) from an int or a 20-byte address."""
        if isinstance(v, str):
            return v[2:].rjust(64, "0")
        return format(v, "x").rjust(64, "0")

    def vary_case(self, addr: str) -> str:
        r = self.rng
        return "0x" + "".join(
            c.upper() if c.isalpha() and r.random() < 0.5 else c for c in addr[2:]
        )

    def miner(self) -> str:
        idx = min(int(self.rng.paretovariate(1.2)) - 1, len(self.miners) - 1)
        return self.miners[idx]

    def tx_value(self) -> float:
        r = self.rng
        if r.random() < 0.15:
            return float(r.randint(1, 500) * 10**18)
        return float(int(10 ** r.uniform(0, 21)))

    def transfer_value(self) -> int:
        r = self.rng
        x = r.random()
        if x < 0.2:
            return 10 ** r.randint(0, 30)
        if x < 0.35:
            return r.getrandbits(70) | (1 << 69)
        if x < 0.5:
            return r.getrandbits(56) | (1 << 55)
        return r.getrandbits(48)

    def logs(self, tx_hash: str, number: int) -> list[dict]:
        """The FIXTURES.md §1 ERC-20 decode cases: standard, 2- and 1-topic
        promoted, weird (dropped), ERC-721 (value 0.0), whole-data value,
        and non-Transfer events, on known (case-varied) and unknown
        contracts."""
        r = self.rng
        if r.random() > 0.30:
            return []
        out = []
        for _ in range(r.randint(1, 2)):
            addr = (
                self.vary_case(r.choice(self.known_tokens))
                if r.random() < 0.5
                else self.hex(20)
            )
            topic0 = TRANSFER_EVENT_TOPIC
            if r.random() < 0.1:
                topic0 = "0x" + topic0[2:].upper()
            kind = r.random()
            value = self.transfer_value()
            t1, t2 = "0x" + self.word(self.hex(20)), "0x" + self.word(self.hex(20))
            if kind < 0.50:
                topics, data = [topic0, t1, t2], "0x" + self.word(value)
            elif kind < 0.60:
                topics = [topic0, t1]
                data = "0x" + self.word(self.hex(20)) + self.word(value)
            elif kind < 0.70:
                topics = [topic0]
                data = "0x" + self.word(self.hex(20)) * 2 + self.word(value)
            elif kind < 0.78:
                topics = [topic0] if r.random() < 0.5 else [topic0, t1]
                data = "0x" + self.word(value) * r.choice([0, 4])
            elif kind < 0.86:
                topics = [topic0, t1, t2, "0x" + self.word(r.getrandbits(32))]
                data = "0x"
            elif kind < 0.90:
                topics = [topic0, t1, t2]
                data = "0x" + self.word(value) + self.word(r.getrandbits(40))
            else:
                topics = ["0x" + self.word(r.getrandbits(256)), t1]
                data = "0x" + self.word(value)
            out.append(
                {
                    "address": addr,
                    "topics": topics,
                    "data": data,
                    "transactionhash": tx_hash,
                    "blocknumber": number,
                }
            )
        return out

    def tx(self, number: int, block_hash: str, index: int) -> dict:
        r = self.rng
        sender = r.choice(self.senders)
        nonce = self.nonce[sender]
        self.nonce[sender] += 1
        tx_hash = self.hex(32)
        is_create = r.random() < 0.02
        is_call = not is_create and r.random() < 0.2
        return {
            "hash": tx_hash,
            "nonce": nonce,
            "blockhash": block_hash,
            "blocknumber": number,
            "transactionindex": index,
            "from": sender,
            "to": None if is_create else self.hex(20),
            "value": self.tx_value(),
            "gas": float(r.randint(21000, 8_000_000)),
            "gasprice": float(r.randint(10**9, 2 * 10**11)),
            "input": self.hex(r.randint(4, 68)) if (is_create or is_call) else "0x",
            "logs": self.logs(tx_hash, number),
        }

    def chain(self, n_blocks: int) -> list[dict]:
        r = self.rng
        blocks = []
        parent = "0x" + "0" * 64
        ts = GENESIS_TS
        difficulty = 17_000_000_000
        total = 0
        for n in range(1, n_blocks + 1):
            ts += max(1, int(r.gauss(13, 6)))
            step = 1.0 + r.uniform(-0.004, 0.004)
            difficulty = min(MAX_DIFFICULTY, max(10**9, int(difficulty * step)))
            total += difficulty
            h = self.hex(32)
            n_tx = 0 if r.random() < 0.12 else r.randint(1, 14)
            gas_limit = float(r.randint(3_000_000, 8_000_000))
            blocks.append(
                {
                    "number": n,
                    "hash": h,
                    "parenthash": parent,
                    "nonce": self.hex(8),
                    "sha3uncles": self.hex(32),
                    "logsbloom": self.hex(256),
                    "transactionsroot": self.hex(32),
                    "stateroot": self.hex(32),
                    "miner": self.miner(),
                    "difficulty": difficulty,
                    "totaldifficulty": total,
                    "size": r.randint(500, 50000),
                    "extradata": "" if r.random() < 0.2 else self.hex(r.randint(0, 32)),
                    "gaslimit": gas_limit,
                    "gasused": float(r.randint(0, int(gas_limit))),
                    "timestamp": ts,
                    "uncles": [
                        self.hex(32)
                        for _ in range(r.choices([0, 1, 2], [0.9, 0.08, 0.02])[0])
                    ],
                    "transactions": [self.tx(n, h, i) for i in range(n_tx)],
                }
            )
            parent = h
        return blocks


def generate_chain(seed: int, n_blocks: int = DEFAULT_BLOCKS) -> list[dict]:
    return ChainGen(seed).chain(n_blocks)


def write_chain(blocks: list[dict], path: str) -> None:
    """Nested parquet with the committed fixture's exact arrow schema and
    200-block row groups (so block-range predicates prune row groups)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    log_t = pa.struct(
        [
            ("address", pa.string()),
            ("topics", pa.list_(pa.string())),
            ("data", pa.string()),
            ("transactionhash", pa.string()),
            ("blocknumber", pa.int64()),
        ]
    )
    tx_t = pa.struct(
        [
            ("hash", pa.string()),
            ("nonce", pa.int64()),
            ("blockhash", pa.string()),
            ("blocknumber", pa.int64()),
            ("transactionindex", pa.int32()),
            ("from", pa.string()),
            ("to", pa.string()),
            ("value", pa.float64()),
            ("gas", pa.float64()),
            ("gasprice", pa.float64()),
            ("input", pa.string()),
            ("logs", pa.list_(log_t)),
        ]
    )
    schema = pa.schema(
        [
            ("number", pa.int64()),
            ("hash", pa.string()),
            ("parenthash", pa.string()),
            ("nonce", pa.string()),
            ("sha3uncles", pa.string()),
            ("logsbloom", pa.string()),
            ("transactionsroot", pa.string()),
            ("stateroot", pa.string()),
            ("miner", pa.string()),
            ("difficulty", pa.int64()),
            ("totaldifficulty", pa.int64()),
            ("size", pa.int32()),
            ("extradata", pa.string()),
            ("gaslimit", pa.float64()),
            ("gasused", pa.float64()),
            ("timestamp", pa.int64()),
            ("uncles", pa.list_(pa.string())),
            ("transactions", pa.list_(tx_t)),
        ]
    )
    table = pa.Table.from_pylist(blocks, schema=schema)
    pq.write_table(table, path, compression="zstd", row_group_size=200)
