"""Seeded load generator: raw block files for the sink and catalog tables.

Everything here runs outside Spark: payloads are encoded with the program's
own ``protowire.encode_message`` and written with pyarrow, so generating the
input costs no Spark time and never touches the code under test. The same
seed always gives byte-identical files and the same truth record.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from substreams_sink_parquet_spark import protowire as pw

TRANSFER = pw.MessageSpec("bench.Transfer", (
    pw.FieldSpec("from_addr", 1, pw.K_STRING),
    pw.FieldSpec("to_addr", 2, pw.K_STRING),
    pw.FieldSpec("amount", 3, pw.K_INT64),
    pw.FieldSpec("log_index", 4, pw.K_UINT32),
))
BLOCK = pw.MessageSpec("bench.Block", (
    pw.FieldSpec("number", 1, pw.K_UINT64),
    pw.FieldSpec("hash", 2, pw.K_STRING),
    pw.FieldSpec("timestamp", 3, pw.K_INT64),
    pw.FieldSpec("transfers", 4, pw.K_MESSAGE, repeated=True, message=TRANSFER),
))
CHILD_TABLE = "transfers"

RAW_SCHEMA = pa.schema([
    ("block_number", pa.int64()),
    ("block_id", pa.string()),
    ("payload", pa.binary()),
])

# amounts stay below 2**40 so any lake-wide sum fits a signed 64-bit long
AMOUNT_MAX = 1 << 40
NIL_SHARE = 0.01
ADDRESS_POOL = 4096


@dataclass
class ChainTruth:
    """What the generated chain must come back as, for the output checks."""

    first_block: int
    blocks: int
    files: int
    non_nil: int = 0
    child_rows: int = 0
    amount_sum: int = 0
    block_sum: int = 0
    payload_bytes: int = 0
    # per block, in block order: payload present, transfers carried
    present: list[bool] = field(default_factory=list)
    transfers: list[int] = field(default_factory=list)

    def as_record(self) -> dict:
        return {k: getattr(self, k) for k in (
            "first_block", "blocks", "files", "non_nil", "child_rows",
            "amount_sum", "block_sum", "payload_bytes")}

    def rows_between(self, lo: int, hi: int) -> tuple[int, int]:
        """(main rows, child rows) for the inclusive block range [lo, hi]."""
        a = max(lo - self.first_block, 0)
        b = min(hi - self.first_block + 1, self.blocks)
        if b <= a:
            return 0, 0
        return sum(self.present[a:b]), sum(self.transfers[a:b])


def transfer_counts(rng: np.random.Generator, n: int, mean: float) -> np.ndarray:
    """Skewed transfers-per-block: lognormal with the given mean, capped at
    ten times the mean (a few very busy blocks, many light ones). The counts
    are the distribution's n evenly spaced quantiles in a seeded order, so
    every seed gives a chain of n blocks the same amount of work."""
    sigma = 0.9
    mu = math.log(mean) - sigma * sigma / 2
    z = NormalDist().inv_cdf
    counts = [math.exp(mu + sigma * z((i + 0.5) / n)) for i in range(n)]
    return rng.permutation(np.minimum(np.array(counts).astype(np.int64), int(mean * 10)))


def nil_blocks(rng: np.random.Generator, n: int) -> np.ndarray:
    """NIL_SHARE of the n blocks, at seeded positions, carry no payload."""
    nil = np.zeros(n, dtype=bool)
    nil[rng.choice(n, size=round(n * NIL_SHARE), replace=False)] = True
    return nil


class Chain:
    """A seeded synthetic chain segment, emitted file by file.

    Blocks are generated in order; ``write_file`` stages the next
    ``per_file`` blocks as one raw parquet file, so an open-loop feeder can
    emit them on a schedule while a backlog run stages them all up front."""

    def __init__(self, seed: int, blocks: int, per_file: int,
                 mean_transfers: float = 40.0, first_block: int = 0):
        self.rng = np.random.default_rng(seed)
        self.per_file = per_file
        self.next_block = first_block
        self.end_block = first_block + blocks
        self.counts = transfer_counts(self.rng, blocks, mean_transfers)
        self.nil = nil_blocks(self.rng, blocks)
        pool = self.rng.integers(0, 1 << 63, size=(ADDRESS_POOL, 3), dtype=np.uint64)
        self.addresses = [
            "0x%016x%016x%08x" % (int(a), int(b), int(c) >> 32) for a, b, c in pool
        ]
        # address popularity is skewed too: a few hot contracts
        weights = 1.0 / np.arange(1, ADDRESS_POOL + 1)
        self.addr_p = weights / weights.sum()
        self.truth = ChainTruth(first_block=first_block, blocks=blocks,
                                files=math.ceil(blocks / per_file))

    def _block(self, bn: int) -> bytes | None:
        i = bn - self.truth.first_block
        k = int(self.counts[i])
        t = self.truth
        t.transfers.append(0 if self.nil[i] else k)
        t.present.append(not self.nil[i])
        if self.nil[i]:
            return None
        src = self.rng.choice(ADDRESS_POOL, size=k, p=self.addr_p)
        dst = self.rng.choice(ADDRESS_POOL, size=k, p=self.addr_p)
        amounts = self.rng.integers(1, AMOUNT_MAX, size=k)
        value = {
            "number": bn,
            "hash": "0x%064x" % int(self.rng.integers(0, 1 << 62)),
            "timestamp": 1_700_000_000 + 12 * bn,
            "transfers": [
                {"from_addr": self.addresses[s], "to_addr": self.addresses[d],
                 "amount": int(a), "log_index": j}
                for j, (s, d, a) in enumerate(zip(src, dst, amounts))
            ],
        }
        payload = pw.encode_message(value, BLOCK)
        t.non_nil += 1
        t.child_rows += k
        t.amount_sum += int(amounts.sum())
        t.block_sum += bn
        t.payload_bytes += len(payload)
        return payload

    def done(self) -> bool:
        return self.next_block >= self.end_block

    def write_file(self, in_dir: str, index: int) -> None:
        """Stage the next file. It is written under a dot-name and renamed,
        so the file source never lists a half-written file."""
        lo = self.next_block
        hi = min(lo + self.per_file, self.end_block)
        self.next_block = hi
        numbers = list(range(lo, hi))
        payloads = [self._block(bn) for bn in numbers]
        ids = ["0x%08x" % bn for bn in numbers]
        table = pa.table([numbers, ids, payloads], schema=RAW_SCHEMA)
        final = os.path.join(in_dir, f"part-{index:06d}.parquet")
        tmp = os.path.join(in_dir, f".part-{index:06d}.parquet.tmp")
        pq.write_table(table, tmp, compression="none")
        os.replace(tmp, final)


def stage_chain(in_dir: str, seed: int, blocks: int, per_file: int,
                mean_transfers: float = 40.0) -> ChainTruth:
    """Write a whole chain segment up front (the catch-up backlog shape)."""
    os.makedirs(in_dir, exist_ok=True)
    chain = Chain(seed, blocks, per_file, mean_transfers)
    i = 0
    while not chain.done():
        chain.write_file(in_dir, i)
        i += 1
    return chain.truth


# -- catalog tables -----------------------------------------------------------

_WORDS = ("spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def _days(rng, n, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def catalog_tables(seed: int, lineitem_rows: int) -> dict[str, pa.Table]:
    """TPC-H-ish star schema plus events / documents / embeddings, with the
    column names, types and value domains the catalog queries expect."""
    rng = np.random.default_rng(seed)
    n_orders = max(lineitem_rows // 4, 10)
    n_cust = max(lineitem_rows // 40, 10)
    n_events = max(lineitem_rows // 6, 50)
    n_docs = max(lineitem_rows // 120, 50)
    n_emb = max(lineitem_rows // 300, 20)

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(n_cust, -999, 9999),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(("O", "F", "P"), n_orders),
        "o_totalprice": money(n_orders, 900, 500000),
        "o_orderdate": pa.array(_days(rng, n_orders, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, lineitem_rows).astype(np.int64),
        "l_partkey": rng.integers(0, 20000, lineitem_rows).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, lineitem_rows).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, lineitem_rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, lineitem_rows).astype(np.float64),
        "l_extendedprice": money(lineitem_rows, 900, 105000),
        "l_discount": rng.integers(0, 11, lineitem_rows) / 100.0,
        "l_tax": rng.integers(0, 9, lineitem_rows) / 100.0,
        "l_returnflag": rng.choice(("N", "R", "A"), lineitem_rows),
        "l_linestatus": rng.choice(("F", "O"), lineitem_rows),
        "l_shipdate": pa.array(_days(rng, lineitem_rows, "1995-01-02", 2498), pa.timestamp("us")),
    })
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"))
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_events // 60, 5), n_events).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": money(n_events, 0, 200),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:
            # every tenth document copies an earlier one, alternately exactly
            # and with one word appended, so the dedup queries always match
            prev = texts[int(rng.integers(0, i))]
            texts.append(prev if i % 20 == 9 else prev + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 80)))))
    documents = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem,
            "events": events, "documents": documents, "embeddings": embeddings}


def write_catalog(sf_dir: str, seed: int, lineitem_rows: int) -> dict[str, int]:
    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, lineitem_rows).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
