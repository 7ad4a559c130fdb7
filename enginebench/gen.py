"""Seeded load generator: the engine only ever sees what this writes.

Every event carries a globally increasing ``seq`` (the arrival-order
surrogate the keyed-latest state orders by), an integer key, one of a few
``kind`` labels, an integer ``value`` (integers keep per-kind sums exact
whatever order the engine adds them in) and an event time ``ts``. Event
time of cycle ``i`` lies in ``(start + i s, start + (i + 1) s]``, so a
replay clock ticking once a second delivers exactly one cycle per tick.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: microsecond timestamps: the engine's session reads parquet nanosecond
#: timestamps as raw longs (``spark.sql.legacy.parquet.nanosAsLong``)
SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("key", pa.int64()),
        ("kind", pa.string()),
        ("value", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
SPARK_SCHEMA = "seq bigint, key bigint, kind string, value bigint, ts timestamp"
START = pd.Timestamp("2024-01-01", tz="UTC")
KINDS = np.array([f"k{i}" for i in range(8)])
VALUE_MAX = 1000
ZIPF_S = 1.1  # key popularity exponent of the "zipf" skew


@dataclasses.dataclass(frozen=True)
class LoadSpec:
    """Knobs of one generated event stream."""

    cycles: int
    events_per_cycle: int
    n_keys: int
    skew: str  # "zipf" or "uniform"


def generate(spec: LoadSpec, seed: int) -> pa.Table:
    """All events of ``spec.cycles`` cycles, sorted by ``ts`` and ``seq``."""
    rng = np.random.default_rng(seed)
    n = spec.cycles * spec.events_per_cycle
    if spec.skew == "zipf":
        weights = 1.0 / np.arange(1, spec.n_keys + 1) ** ZIPF_S
        ranks = rng.choice(spec.n_keys, size=n, p=weights / weights.sum())
        # hot keys scattered over the id space, not the smallest ids
        keys = rng.permutation(spec.n_keys)[ranks]
    elif spec.skew == "uniform":
        keys = rng.integers(0, spec.n_keys, size=n)
    else:
        raise ValueError(f"unknown skew {spec.skew!r}")
    cycle = np.repeat(np.arange(spec.cycles, dtype=np.int64), spec.events_per_cycle)
    offset_us = np.sort(
        rng.integers(1, 1_000_001, size=(spec.cycles, spec.events_per_cycle)), axis=1
    ).ravel()
    ts_us = START.value // 1000 + cycle * 1_000_000 + offset_us
    return pa.table(
        {
            "seq": np.arange(n, dtype=np.int64),
            "key": keys.astype(np.int64),
            "kind": KINDS[rng.integers(0, len(KINDS), size=n)],
            "value": rng.integers(0, VALUE_MAX, size=n),
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def cycle_end(i: int) -> pd.Timestamp:
    """Virtual-clock time at which cycle ``i`` (0-based) is complete."""
    return START + pd.Timedelta(seconds=i + 1)


def write_batch_files(table: pa.Table, directory: str, rows_per_file: int) -> int:
    """One parquet file per ``rows_per_file`` events, with strictly
    increasing modification times so a file stream source reading one file
    per trigger takes them in generation order. Returns the file count."""
    os.makedirs(directory, exist_ok=True)
    n_files = table.num_rows // rows_per_file
    for i in range(n_files):
        path = os.path.join(directory, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * rows_per_file, rows_per_file), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return n_files
