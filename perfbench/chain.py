"""Seeded synthetic chain and the JSON-RPC transport that serves it.

The chain is generated once per run, before any timed region, and written
to a JSON file; Spark's Python workers load that file on their first call
(``AGN_RPC_MOCK=perfbench.chain:transport``). Everything a worker needs to
answer a call travels inside the endpoint URL rendered into the pipeline's
SQL, never in environment variables, because Spark reuses Python workers
across sessions and an environment set later never reaches them:

    bench://chain/<quoted fixture path>?t0=<s>&rate=<blocks/s>&h0=<n>
        &last=<n>&stats=<dir>

The head clock: blocks ``0..h0-1`` exist from the start; block ``n >= h0``
appears at ``t0 + (n - h0 + 1) / rate`` (``time.monotonic``, shared by all
processes of one host) whether or not the engine keeps up. ``rate <= 0``
means every block up to ``last`` already exists.

With ``stats`` set, each worker process counts its calls per method, its
errors and its serving time, and rewrites ``<stats>/<pid>.json`` after
every call so the counts survive the process boundary.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from dataclasses import dataclass
from urllib.parse import parse_qs, quote, unquote, urlsplit

from agnostic_blockchain_etl_spark.functions.rpc import RpcError, Transport

GENESIS_TS = 1_700_000_000
BLOCK_TAGS = ("latest", "finalized", "safe", "pending")


def generate(seed: int, n_blocks: int, max_tx: int = 6,
             max_logs: int = 3) -> dict:
    """Block headers and receipts for blocks ``0..n_blocks-1``.

    The seed draws every block's transaction and log counts (1 to
    ``max_tx`` transactions, 0 to ``max_logs`` logs each) and every hash,
    address and payload; the fixed bounds keep the expected work per block
    the same for every seed. Each block has at least one log, so every
    block number appears in a logs sink."""
    rng = random.Random(seed)
    addresses = ["0x" + rng.randbytes(20).hex() for _ in range(64)]
    topic0s = ["0x" + rng.randbytes(32).hex() for _ in range(8)]
    blocks, receipts = [], []
    parent = "0x" + "00" * 32
    for n in range(n_blocks):
        block_hash = "0x" + rng.randbytes(32).hex()
        n_tx = rng.randint(1, max_tx)
        tx_hashes = ["0x" + rng.randbytes(32).hex() for _ in range(n_tx)]
        block_receipts, log_index = [], 0
        for i, tx_hash in enumerate(tx_hashes):
            n_logs = rng.randint(1 if i == 0 else 0, max_logs)
            logs = []
            for _ in range(n_logs):
                topics = [rng.choice(topic0s)] + [
                    "0x" + rng.randbytes(32).hex()
                    for _ in range(rng.randint(0, 3))]
                logs.append({
                    "address": rng.choice(addresses),
                    "topics": topics,
                    "data": "0x" + rng.randbytes(32 * rng.randint(0, 3)).hex(),
                    "logIndex": hex(log_index),
                    "blockNumber": hex(n),
                    "blockHash": block_hash,
                    "transactionHash": tx_hash,
                    "transactionIndex": hex(i),
                    "removed": False,
                })
                log_index += 1
            block_receipts.append({
                "transactionHash": tx_hash,
                "transactionIndex": hex(i),
                "blockNumber": hex(n),
                "blockHash": block_hash,
                "from": rng.choice(addresses),
                "to": rng.choice(addresses),
                "gasUsed": hex(21_000 + rng.randrange(200_000)),
                "cumulativeGasUsed": hex(21_000 * (i + 1)),
                "effectiveGasPrice": hex(10 ** 9 + rng.randrange(10 ** 9)),
                "status": "0x1" if rng.random() < 0.95 else "0x0",
                "contractAddress": None,
                "logs": logs,
            })
        blocks.append({
            "number": hex(n),
            "hash": block_hash,
            "parentHash": parent,
            "timestamp": hex(GENESIS_TS + 12 * n),
            "miner": rng.choice(addresses),
            "gasLimit": hex(30_000_000),
            "gasUsed": hex(rng.randrange(30_000_000)),
            "baseFeePerGas": hex(10 ** 9 + rng.randrange(10 ** 8)),
            "transactions": tx_hashes,
        })
        receipts.append(block_receipts)
        parent = block_hash
    return {"blocks": blocks, "receipts": receipts}


def expected_logs(chain: dict) -> list[tuple]:
    """``(block_number, log_index, address, data, topic0)`` per log, the
    fields the logs sink must hold after decoding (hex without 0x)."""
    out = []
    for n, block_receipts in enumerate(chain["receipts"]):
        for r in block_receipts:
            for log in r["logs"]:
                out.append((n, int(log["logIndex"], 16), log["address"][2:],
                            log["data"][2:], log["topics"][0][2:]))
    return out


def write(chain: dict, path: str) -> None:
    with open(path, "w") as f:
        json.dump(chain, f, separators=(",", ":"))


@dataclass(frozen=True)
class Clock:
    """The head clock and fixture location parsed from an endpoint URL."""
    path: str
    t0: float
    rate: float
    h0: int
    last: int
    stats: str

    def url(self) -> str:
        return (f"bench://chain/{quote(self.path)}?t0={self.t0!r}"
                f"&rate={self.rate!r}&h0={self.h0}&last={self.last}"
                f"&stats={quote(self.stats)}")

    @classmethod
    def parse(cls, url: str) -> "Clock":
        parts = urlsplit(url)
        q = {k: v[-1] for k, v in parse_qs(parts.query).items()}
        return cls(path=unquote(parts.path), t0=float(q["t0"]),
                   rate=float(q["rate"]), h0=int(q["h0"]),
                   last=int(q["last"]), stats=unquote(q.get("stats", "")))

    def head(self, now: float) -> int:
        if self.rate <= 0:
            return self.last
        if now < self.t0:
            return self.h0 - 1
        return min(self.last, self.h0 - 1 + int((now - self.t0) * self.rate))

    def appears_at(self, n: int) -> float:
        """When block ``n`` (``n >= h0``) first appears at the head."""
        return self.t0 + (n - self.h0 + 1) / self.rate


class ChainTransport(Transport):
    """Serves ``eth_getBlockByNumber`` / ``eth_getBlockReceipts`` /
    ``eth_blockNumber`` from the fixture named in the endpoint URL."""

    def __init__(self):
        self._lock = threading.Lock()
        self._chains: dict[str, dict] = {}
        self._clocks: dict[str, Clock] = {}
        self._counts: dict[str, dict] = {}

    def _chain(self, path: str) -> dict:
        chain = self._chains.get(path)
        if chain is None:
            with open(path) as f:
                chain = json.load(f)
            self._chains = {path: chain}   # one fixture per run
        return chain

    def call(self, url: str, method: str, params: list):
        t_start = time.perf_counter()
        clock = self._clocks.get(url)
        if clock is None:
            clock = self._clocks[url] = Clock.parse(url)
        key, err = method, None
        try:
            head = clock.head(time.monotonic())
            if method == "eth_blockNumber":
                return hex(head)
            if method == "eth_getBlockByNumber":
                tag = str(params[0])
                if tag in BLOCK_TAGS:
                    key, n = "tip", head
                else:
                    n = int(tag, 16)
                return (self._chain(clock.path)["blocks"][n]
                        if n <= head else None)
            if method == "eth_getBlockReceipts":
                n = int(str(params[0]), 16)
                return (self._chain(clock.path)["receipts"][n]
                        if n <= head else None)
            raise RpcError(f"bench chain: unsupported method {method}")
        except Exception:
            err = 1
            raise
        finally:
            if clock.stats:
                self._count(clock.stats, key, err,
                            time.perf_counter() - t_start)

    def _count(self, stats: str, key: str, err, dt: float) -> None:
        with self._lock:
            c = self._counts.setdefault(
                stats, {"calls": {}, "errors": 0, "serve_s": 0.0})
            c["calls"][key] = c["calls"].get(key, 0) + 1
            c["errors"] += 1 if err else 0
            c["serve_s"] += dt
            tmp = os.path.join(stats, f".{os.getpid()}.tmp")
            with open(tmp, "w") as f:
                json.dump(c, f)
            os.replace(tmp, os.path.join(stats, f"{os.getpid()}.json"))


def read_stats(stats: str) -> dict:
    """Sum the per-process counts written under ``stats``."""
    total = {"calls": {}, "errors": 0, "serve_s": 0.0}
    for name in os.listdir(stats):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(stats, name)) as f:
            c = json.load(f)
        for k, v in c["calls"].items():
            total["calls"][k] = total["calls"].get(k, 0) + v
        total["errors"] += c["errors"]
        total["serve_s"] += c["serve_s"]
    return total


def transport() -> ChainTransport:
    return ChainTransport()
