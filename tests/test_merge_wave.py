"""The touched-partition merge wave every partition-keyed state kernel
shares: one data file per touched partition per wave, untouched
partition directories left alone, and no-op batches (empty, all-null,
replayed) that leave state byte-identical while the watermark advances.
One contract, pinned once over all five kernels."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from beavers_spark.streaming import (
    BatchWatermark,
    ContinuousDistinct,
    ContinuousQuantile,
    ContinuousRollup,
    ContinuousTopK,
    KeyedStateTable,
)

SCHEMA = "ts string, k string, v double, seq long, item long"
HOUR1 = "bucket=2024-01-01 01%3A00%3A00"

# four hour buckets, three keys in each: enough groups per bucket that
# an unclustered write splinters a bucket over several files
ROWS0 = [
    (f"2024-01-01 0{i % 4}:{i:02d}:00", f"k{i % 12}", float(i), i, i % 5)
    for i in range(48)
]
# one key, one hour: a single bucket of every layout
ROWS1 = [
    (f"2024-01-01 01:{j:02d}:30", "k3", float(j), 100 + j, j % 3)
    for j in range(6)
]
NULLS = [(None, None, None, None, None)] * 2


def _keyed_bucket_dir(spark) -> str:
    [row] = (
        spark.range(1).select(F.pmod(F.hash(F.lit("k3")), F.lit(4))).collect()
    )
    return f"__bucket={row[0]}"


KERNELS = {
    "keyed_state": (
        lambda p: KeyedStateTable(p, keys=["k"], order_by="seq", n_buckets=4),
        _keyed_bucket_dir,
        [""],
    ),
    "rollup": (
        lambda p: ContinuousRollup(p, ts_col="ts", keys=["k"], sum_col="v"),
        lambda spark: HOUR1,
        [""],
    ),
    "distinct": (
        lambda p: ContinuousDistinct(
            p, ts_col="ts", keys=["k"], entity_col="item"
        ),
        lambda spark: HOUR1,
        [""],
    ),
    "quantile": (
        lambda p: ContinuousQuantile(
            p, ts_col="ts", keys=["k"], value_col="v",
            lo=0.0, hi=100.0, n_bins=10,
        ),
        lambda spark: HOUR1,
        [""],
    ),
    "topk": (
        lambda p: ContinuousTopK(
            p, ts_col="ts", keys=["k"], item_col="item", capacity=4
        ),
        lambda spark: HOUR1,
        ["", "_err"],  # the error ledger shares the wave
    ),
}


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _snapshot(table: str) -> dict[str, tuple]:
    """Partition directory -> its data files (name, size, mtime)."""
    out = {}
    for d in sorted(os.listdir(table)):
        full = os.path.join(table, d)
        if not os.path.isdir(full):
            continue
        files = [f for f in os.listdir(full) if not f.startswith(("_", "."))]
        out[d] = tuple(
            sorted(
                (f, st.st_size, st.st_mtime_ns)
                for f in files
                for st in [os.stat(os.path.join(full, f))]
            )
        )
    return out


def _files_per_dir(snap: dict[str, tuple]) -> dict[str, int]:
    return {d: len(files) for d, files in snap.items()}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_merge_wave_contract(spark, tmp_path, kernel):
    make, touched_dir, suffixes = KERNELS[kernel]
    path = str(tmp_path / "state")
    tables = [path + s for s in suffixes]
    state = make(path)
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(conf)
    # without AQE coalescing every shuffle partition is its own write
    # task: only a partition-clustered write keeps one file per bucket
    spark.conf.set(conf, "false")
    try:
        state(_batch(spark, ROWS0), 0)
        for t in tables:
            snap = _snapshot(t)
            assert len(snap) > 1
            assert _files_per_dir(snap) == dict.fromkeys(snap, 1), t

        before = {t: _snapshot(t) for t in tables}
        state(_batch(spark, ROWS1), 1)
        for t in tables:
            after = _snapshot(t)
            changed = {
                d
                for d in before[t].keys() | after.keys()
                if before[t].get(d) != after.get(d)
            }
            assert changed == {touched_dir(spark)}, t
            assert _files_per_dir(after) == dict.fromkeys(after, 1), t

        settled = {t: _snapshot(t) for t in tables}
        state(_batch(spark, ROWS1), 1)  # replayed batch id
        state(_batch(spark, []), 2)  # empty batch
        state(_batch(spark, NULLS), 3)  # every row dropped by the null filter
        assert {t: _snapshot(t) for t in tables} == settled
        assert BatchWatermark(path).last_committed() == 3
    finally:
        spark.conf.set(conf, saved)
