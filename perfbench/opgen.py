"""Seeded CDC op generator and open-loop file mover.

Ops are written as events-schema parquet (``event_id, ts, user_id,
event_type, value, props``), which ``envelope.events_to_envelope`` maps
to the CDC envelope: ``signup`` -> insert, ``error`` -> delete, the
rest -> update, and ``user_id % 5`` picks the namespace.  Residues 3
and 4 land in ``test.system.profiles`` / ``fs.files.chunks``, which the
always-on guards drop, so a uniform key draw puts 40% of ops there.

Every file stamps ``ts`` with its creation time (one value per file),
so the engine's external version (``epoch_seconds << 32 | ordinal*4 +
bump``) grows file by file and lag can be read against the stamp.
``event_id`` is a global ordinal the caller threads through files.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

# event_type -> share of ops: ~10% deletes, ~10% inserts, 80% updates
EVENT_TYPES = np.array(["error", "signup", "click", "view", "purchase"])
EVENT_SHARES = np.array([0.10, 0.10, 0.30, 0.30, 0.20])
_PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])


HOT_FRAC = 0.02  # the hot set is 2% of the keyspace ...
HOT_SHARE = 0.5  # ... and takes half of all ops


@dataclass(frozen=True)
class KeyMix:
    """Key draw: ``HOT_SHARE`` of ops hit a fixed hot set of
    ``HOT_FRAC * keyspace`` keys (chosen uniformly, so the guarded
    namespace share stays 40%), the rest are uniform over the keyspace."""

    keyspace: int

    def hot_keys(self, rng: np.random.Generator) -> np.ndarray:
        n = max(1, int(self.keyspace * HOT_FRAC))
        return rng.choice(self.keyspace, size=n, replace=False)

    def draw(self, rng: np.random.Generator, hot: np.ndarray, n: int) -> np.ndarray:
        uniform = rng.integers(0, self.keyspace, size=n)
        pick_hot = rng.random(n) < HOT_SHARE
        return np.where(pick_hot, hot[rng.integers(0, len(hot), size=n)], uniform)


@dataclass
class OpBatch:
    """Pre-drawn op payload for one file; ``ts`` is stamped at write."""

    user_id: np.ndarray
    event_type: np.ndarray
    value: np.ndarray
    props: np.ndarray

    def __len__(self) -> int:
        return len(self.user_id)


def draw_ops(rng: np.random.Generator, keys: np.ndarray) -> OpBatch:
    n = len(keys)
    return OpBatch(
        user_id=keys.astype(np.int64),
        event_type=EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n, p=EVENT_SHARES)],
        value=np.round(rng.exponential(50.0, size=n), 2),
        props=_PROPS[rng.integers(0, len(_PROPS), size=n)],
    )


def seed_ops(rng: np.random.Generator, keyspace: int) -> OpBatch:
    """One insert per key of the keyspace: the pre-existing state."""
    ops = draw_ops(rng, np.arange(keyspace))
    ops.event_type = np.full(keyspace, "signup")
    return ops


def write_ops(path: str, ops: OpBatch, first_event_id: int) -> int:
    """Write ``ops`` to ``path`` stamped with the current time and
    return the next free event id."""
    n = len(ops)
    ts_us = time.time_ns() // 1000
    table = pa.table(
        [
            pa.array(np.arange(first_event_id, first_event_id + n, dtype=np.int64)),
            pa.array(np.full(n, ts_us, dtype="datetime64[us]")),
            pa.array(ops.user_id),
            pa.array(ops.event_type),
            pa.array(ops.value),
            pa.array(ops.props),
        ],
        schema=SCHEMA,
    )
    pq.write_table(table, path)
    return first_event_id + n


@dataclass
class MovedFile:
    path: str
    due: float  # wall clock the schedule wanted it visible
    written: float  # wall clock it became visible in the source dir


@dataclass
class OpenLoopMover:
    """Writes one pre-drawn op file into ``source_dir`` every
    ``interval_s`` on a fixed schedule, whether or not the stream keeps
    up.  Each file is written to ``staging_dir`` first and renamed in,
    so the file source never lists a partial file."""

    source_dir: str
    staging_dir: str
    batches: list[OpBatch]
    interval_s: float
    first_event_id: int
    moved: list[MovedFile] = field(default_factory=list)
    _thread: threading.Thread | None = None
    _error: Exception | None = None

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="open-loop-mover", daemon=True)
        self._thread.start()

    def _run(self) -> None:
        try:
            event_id = self.first_event_id
            t0 = time.time()
            for i, ops in enumerate(self.batches):
                due = t0 + i * self.interval_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"live-{i:05d}.parquet"
                staged = os.path.join(self.staging_dir, name)
                event_id = write_ops(staged, ops, event_id)
                final = os.path.join(self.source_dir, name)
                os.rename(staged, final)
                self.moved.append(MovedFile(final, due, time.time()))
        except Exception as e:  # surfaced by join()
            self._error = e

    def join(self) -> None:
        self._thread.join()
        if self._error is not None:
            raise self._error

    def late_s_max(self) -> float:
        return max((m.written - m.due for m in self.moved), default=0.0)
