"""Seeded backlog generator for the ingest workloads.

Writes ``n_files`` parquet files of the events-envelope source schema
(``event_id, ts, user_id, event_type, value, props``) into one directory,
named ``events.parquet.<nnnnn>`` so ``sources.files.events_file_stream``
picks them up, one file per micro-batch. ``event_id`` runs on across files,
user ids follow a Zipf skew and ``ts`` advances with a bounded
out-of-order jitter. File mtimes are pinned one second apart, so the file
source replays them in file order.

The same arguments give byte-identical files: every value comes from
seeded ``numpy`` generators and the parquet writer options are fixed. The
seed drives the payload (user ids, event types, values, props). The time
jitter comes from a generator of its own with a fixed seed: which records
cross a rotation-window or hour boundary decides the set of objects the
sink commits, and with a seeded jitter that set varied from 123 to 157
objects between seeds, and the sink's work with it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "error", "search")
EVENT_TYPE_P = (0.55, 0.25, 0.08, 0.02, 0.10)
#: 2024-01-01T00:00:00Z, the start of the driver's events table
BASE_TS_US = 1_704_067_200_000_000
#: seed of the event-time jitter, the same for every backlog
JITTER_SEED = 0
SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


@dataclass(frozen=True)
class Backlog:
    """Shape of one generated backlog."""

    n_files: int
    rows_per_file: int
    #: mean event-time step between consecutive event ids
    step_ms: int
    #: events are displaced by up to this many ms either way
    jitter_ms: int
    n_users: int = 20_000
    zipf_a: float = 1.2

    @property
    def rows(self) -> int:
        return self.n_files * self.rows_per_file


def file_name(i: int) -> str:
    return f"events.parquet.{i:05d}"


def generate(out_dir: str, spec: Backlog, seed: int) -> list[str]:
    """Write the backlog and return the file paths in replay order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    jitter_rng = np.random.default_rng(JITTER_SEED)
    paths = []
    for i in range(spec.n_files):
        n = spec.rows_per_file
        event_id = np.arange(i * n, (i + 1) * n, dtype=np.int64)
        jitter = jitter_rng.integers(-spec.jitter_ms, spec.jitter_ms + 1, n)
        ts_us = BASE_TS_US + (event_id * spec.step_ms + jitter) * 1000
        user_id = (rng.zipf(spec.zipf_a, n) - 1) % spec.n_users
        kinds = rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)
        value = np.round(rng.gamma(2.0, 10.0, n), 2)
        props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
        table = pa.table([
            pa.array(event_id),
            pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
            pa.array(user_id.astype(np.int64)),
            pa.array(np.asarray(EVENT_TYPES)[kinds].tolist(), pa.string()),
            pa.array(value),
            pa.array(props, pa.string()),
        ], schema=SCHEMA)
        path = os.path.join(out_dir, file_name(i))
        pq.write_table(table, path, compression="snappy")
        # the file source replays oldest-mtime first
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths
