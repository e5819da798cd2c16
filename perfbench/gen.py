"""Seeded workload generator for the perfbench workloads.

Events use the reference producer's wire format and key spaces:
one JSON object per line, `user_1..100000` and `item_1..10000`, five
interaction types and `isoformat() + "Z"` timestamps.  Event time
runs on a compressed clock: file `i` covers the event-time slice
`[i * span, (i + 1) * span)`, so a few wall-clock seconds of pacing
move the 10-minute windows far enough to finalize and evict state.  A
bounded share of events is pushed back in event time (out of order),
never further than the watermark allows.

Everything is a pure function of the seed: the same seed renders
byte-identical files.  The same events are also written as an
`events.parquet` in the testdata star-schema layout (`user_id` as an
integer, the item key in `props` as `{"k": N}`), which is what the
query registry's window queries and their DuckDB oracles read.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

import numpy as np

EPOCH = datetime.datetime(2024, 1, 1)
TYPES = ("view", "click", "purchase", "like", "add_to_cart")
N_USERS = 100_000
N_ITEMS = 10_000
# The pipeline's event-time watermark (streaming.pipeline default).
WATERMARK_S = 600
# One far-future event: pushes the watermark past every real window so
# the final windows finalize.  It is never part of a reference result.
SENTINEL_DELAY_S = 86_400


@dataclass(frozen=True)
class Shape:
    """How one workload's events look."""

    files: int
    events_per_file: int
    file_span_s: float  # event-time seconds one file covers
    zipf: float | None  # None: uniform user keys; else the Zipf exponent
    late_share: float  # share of events pushed back in event time
    max_delay_s: float  # how far back at most

    @property
    def events(self) -> int:
        return self.files * self.events_per_file

    @property
    def delay_bound_s(self) -> float:
        """Largest event-time delay any event can have behind the
        newest event emitted before it: a whole file slice plus the
        out-of-order push-back."""
        return self.file_span_s + self.max_delay_s


@dataclass(frozen=True)
class Events:
    """Columnar events, in emission order (file by file)."""

    file: np.ndarray  # int64 file index
    user: np.ndarray  # int64 user number
    item: np.ndarray  # int64 item number
    kind: np.ndarray  # int64 index into TYPES
    ts_us: np.ndarray  # int64 microseconds after EPOCH


def _zipf_users(rng: np.random.Generator, n: int, s: float) -> np.ndarray:
    weights = np.arange(1, N_USERS + 1, dtype=np.float64) ** -s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    # min() guards the last float rounding step of the cdf
    return np.minimum(np.searchsorted(cdf, rng.random(n)), N_USERS - 1) + 1


def make_events(shape: Shape, seed: int) -> Events:
    if shape.delay_bound_s >= WATERMARK_S:
        raise ValueError(
            f"delay bound {shape.delay_bound_s}s reaches the "
            f"{WATERMARK_S}s watermark: late events would be dropped"
        )
    rng = np.random.default_rng(seed)
    n = shape.events
    span_us = int(shape.file_span_s * 1e6)
    file = np.repeat(np.arange(shape.files, dtype=np.int64), shape.events_per_file)
    ts = file * span_us + rng.integers(0, span_us, n)
    late = rng.random(n) < shape.late_share
    push = rng.integers(0, int(shape.max_delay_s * 1e6) + 1, n)
    ts = ts - np.where(late, push, 0)
    if shape.zipf is None:
        user = rng.integers(1, N_USERS + 1, n)
    else:
        user = _zipf_users(rng, n, shape.zipf)
    item = rng.integers(1, N_ITEMS + 1, n)
    kind = rng.integers(0, len(TYPES), n)
    return Events(file, user, item, kind, ts.astype(np.int64))


def _line(user: int, item: int, kind: int, ts_us: int) -> str:
    ts = (EPOCH + datetime.timedelta(microseconds=ts_us)).isoformat() + "Z"
    # byte-identical to json.dumps of the reference producer's dict
    return (
        f'{{"user_id": "user_{user}", "item_id": "item_{item}", '
        f'"interaction_type": "{TYPES[kind]}", "timestamp": "{ts}"}}\n'
    )


def render(ev: Events) -> list[bytes]:
    """One JSON-lines payload per file, in file order."""
    lines: list[list[str]] = [[] for _ in range(int(ev.file.max()) + 1)]
    for f, u, i, k, t in zip(
        ev.file.tolist(), ev.user.tolist(), ev.item.tolist(),
        ev.kind.tolist(), ev.ts_us.tolist(),
    ):
        lines[f].append(_line(u, i, k, t))
    return ["".join(ls).encode() for ls in lines]


def render_sentinel(ev: Events) -> bytes:
    ts = int(ev.ts_us.max()) + SENTINEL_DELAY_S * 1_000_000
    return _line(0, 0, 0, ts).encode()


def write_files(payloads: list[bytes], out_dir: str, prefix: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, data in enumerate(payloads):
        path = os.path.join(out_dir, f"{prefix}{i:05d}.json")
        with open(path, "wb") as f:
            f.write(data)
        paths.append(path)
    return paths


def write_events_parquet(ev: Events, sf_dir: str) -> str:
    """The same events in the testdata `events` table layout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    epoch_us = int((EPOCH - datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    table = pa.table(
        {
            "event_id": pa.array(np.arange(len(ev.ts_us), dtype=np.int64)),
            "ts": pa.array(ev.ts_us + epoch_us, type=pa.timestamp("us")),
            "user_id": pa.array(ev.user),
            "event_type": pa.array([TYPES[k] for k in ev.kind.tolist()]),
            "value": pa.array(ev.kind.astype(np.float64)),
            "props": pa.array([f'{{"k": {i}}}' for i in ev.item.tolist()]),
        }
    )
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path

