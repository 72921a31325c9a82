"""Seeded input generators: change events (+ the enrichment dimension) and
embeddings. The same seed always yields byte-identical inputs; the program
under test only ever sees the files written here.

Every property follows either a rule of the package or the repository's
own fixture tables (``events``, ``customer``, ``embeddings`` at sf0.1,
described in FIXTURES.md); the values with no such basis are marked as
assumptions where they are set.

- Tombstones and corrupt payloads come from the package's CDC synthesis
  rules (``sources/cdc.py``): the envelope of ``event_id % 97 == 0`` is
  NULL, and ``event_id % corrupt_every == 0`` garbles the payload. Ids are
  consecutive, as in the fixture, so the shares are 1/97 and
  1/corrupt_every.
- Deletes are ``event_type == 'error'`` (``op = 'd'``); the fixture draws
  its five event types evenly, so one event in five is a delete.
- Keys: the fixture's ``user_id`` is uniform over the first 1,500 of the
  15,000 customer keys, so 10% of the dimension takes all the traffic.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOMBSTONE_MOD = 97  # sources/cdc.py: value is NULL when event_id % 97 == 0
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])  # the fixture's five
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class EventMix:
    """The knobs of a change-event stream."""

    corrupt_every: int  # the pipeline's corrupt_every knob: 1/corrupt_every -> DLQ parse_error
    hot_keys: int  # user_id is uniform over keys 0..hot_keys-1
    miss: float  # share of user_ids absent from the dimension -> DLQ enrichment_miss


def write_customers(path: str, n: int, seed: int) -> None:
    """The enrichment dimension: ``n`` customers with keys 0..n-1."""
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n, dtype=np.int64)
    table = pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    pq.write_table(table, path)


class EventSource:
    """Writes change-event files with consecutive, increasing ids."""

    def __init__(self, seed: int, n_customers: int, mix: EventMix) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.n_customers = n_customers
        self.mix = mix
        self.next_id = 1  # event_id 0 is the reference's id sentinel

    def table(self, n: int) -> pa.Table:
        mix, rng = self.mix, self.rng
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        # Exact shares (each type n/5, misses round(n * miss)), so the
        # amount of work does not vary with the seed.
        etype = EVENT_TYPES[rng.permutation(np.arange(n) % len(EVENT_TYPES))]
        users = rng.integers(0, mix.hot_keys, n, dtype=np.int64)
        miss = rng.permutation(np.arange(n) < round(n * mix.miss))
        users[miss] = self.n_customers + rng.integers(0, self.n_customers, int(miss.sum()))
        return pa.table(
            {
                "event_id": ids,
                "ts": pa.array(TS_BASE_US + ids * 1000, type=pa.timestamp("us")),
                "user_id": users,
                "event_type": etype,
                "value": np.round(rng.uniform(0.0, 500.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        )

    def write(self, path: str, n: int) -> None:
        pq.write_table(self.table(n), path)


def write_embeddings(path: str, n: int, seed: int, cells: int, cell_skew: float, dim: int = 64) -> None:
    """``n`` isotropic unit vectors (the fixture's ``embeddings`` are unit
    vectors of dimension 64 with no planted near-duplicates) in ``cells``
    label cells whose sizes fall as 1/rank**cell_skew. The sizes are fixed,
    so sum(|cell|^2), what the label-blocked kernels cost, is the same for
    every seed."""
    rng = np.random.default_rng([seed, 3])
    weights = 1.0 / np.arange(1, cells + 1) ** cell_skew
    sizes = np.floor(n * weights / weights.sum()).astype(int)
    sizes[: n - sizes.sum()] += 1
    labels = rng.permutation(np.repeat(np.arange(cells, dtype=np.int32), sizes))
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    table = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
