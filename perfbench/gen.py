"""Seeded input generator for the copy workloads.

Everything is built in-process with numpy/pyarrow from the run's ``--seed``;
the engine only ever sees the parquet files written here. Each table gets its
own random stream (``default_rng([seed, stream])``), so a table's contents
depend on the seed and its stream id, not on what was generated before it.

Every table carries a key column, a price column stored as ``cents / 100``
and padded strings (so autoTrim does real work). :func:`checksums` gives the
expected published count, key sum and price sum in cents, which the workloads
compare against the published data after every op.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Source files per table: one scan task per file, so extract uses the cores.
PARTS = 4

_WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu".split()
)
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 UTC


@dataclass(frozen=True)
class Checksum:
    """What a published table must hold: its row count, the sum of its key
    column and the sum of its price column in cents."""

    count: int
    key_sum: int
    price_cents: int

    def __add__(self, other: "Checksum") -> "Checksum":
        return Checksum(
            self.count + other.count,
            self.key_sum + other.key_sum,
            self.price_cents + other.price_cents,
        )


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _padded(rng: np.random.Generator, n: int, vocab_size: int = 512) -> pa.Array:
    """``n`` strings drawn from a seeded vocabulary of space-padded phrases."""
    a, b = rng.integers(0, len(_WORDS), (2, vocab_size))
    num = rng.integers(0, 10_000, vocab_size)
    left, right = rng.integers(1, 6, (2, vocab_size))
    vocab = [
        " " * int(lp) + f"{_WORDS[i]} {_WORDS[j]} {k:04d}" + " " * int(rp)
        for i, j, k, lp, rp in zip(a, b, num, left, right)
    ]
    return pa.array(vocab).take(pa.array(rng.integers(0, vocab_size, n)))


def orders(seed: int, n: int, n_customers: int) -> pa.Table:
    """Orders-like fact table: unique ``o_orderkey``, a customer reference,
    money and two padded string columns."""
    rng = _rng(seed, 1)
    cents = rng.integers(100, 50_000_000, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, n_customers + 1, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(cents / 100.0),
            "o_orderdate": pa.array(
                _EPOCH_US + rng.integers(0, 365 * 86_400, n) * 1_000_000, pa.timestamp("us", tz="UTC")
            ),
            "o_priority": _padded(rng, n, 5),
            "o_comment": _padded(rng, n),
        }
    )


def customers(seed: int, n: int) -> pa.Table:
    """Customer-like dimension: keys ``1..n``, 25 nations, padded names."""
    rng = _rng(seed, 2)
    cents = rng.integers(0, 1_000_000, n)
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "c_name": _padded(rng, n),
            "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            "c_acctbal": pa.array(cents / 100.0),
            "c_mktsegment": _padded(rng, n, 5),
        }
    )


def poll_rows(seed: int, table: int, batch: int, first_seq: int, n: int) -> pa.Table:
    """Rows ``first_seq .. first_seq + n - 1`` of polled table ``table``;
    ``seq`` is the monotone trigger column. ``batch`` numbers the appends so
    every delta has its own random stream."""
    rng = _rng(seed, 1000 + 100 * table + batch)
    cents = rng.integers(100, 10_000_000, n)
    return pa.table(
        {
            "seq": pa.array(np.arange(first_seq, first_seq + n, dtype=np.int64)),
            "account": pa.array(rng.integers(1, 100_000, n, dtype=np.int64)),
            "amount": pa.array(cents / 100.0),
            "note": _padded(rng, n),
        }
    )


def checksums(table: pa.Table, key: str, price: str) -> Checksum:
    """Expected count, key sum and price sum (in cents) of ``table``."""
    cents = np.rint(table.column(price).to_numpy() * 100).astype(np.int64)
    return Checksum(table.num_rows, int(table.column(key).to_numpy().sum()), int(cents.sum()))


def write_parts(table: pa.Table, directory: str, *, parts: int = PARTS, first_part: int = 0) -> None:
    """Write ``table`` as ``parts`` parquet files into ``directory`` (a table
    directory the engine reads whole)."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        chunk = table.slice(i * step, step)
        if chunk.num_rows == 0:
            continue
        pq.write_table(chunk, os.path.join(directory, f"part-{first_part + i:05d}.parquet"))
