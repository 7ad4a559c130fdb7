"""Continuous heavy-hitters rollup: incrementally-maintained top items
per (time bucket, keys) via mergeable Misra-Gries summaries.

``ContinuousRollup`` handles decomposable aggregates and
``ContinuousDistinct`` handles cardinality; "most frequent items" is the
third classic streaming aggregate that CANNOT be maintained by keeping a
truncated top-k per batch — an item just below the cut in every batch
can be the global #1. The fix with provable bounds is the Misra-Gries
summary (Misra & Gries 1982): keep at most ``capacity`` counters per
group; merging two summaries sums counters per item, then subtracts the
(capacity+1)-th largest count from every counter and drops the
non-positives (Agarwal et al. 2013, "Mergeable Summaries"). Invariants,
with n = total rows seen in the group and err = the group's accumulated
subtraction:

- stored count  <=  true count  <=  stored count + err;
- err <= n / (capacity + 1);
- every item with true count > n/(capacity+1) IS in the summary.

The kernel drives the steps of ``maintenance.MergeWave`` (the shared
touched-partition wave; docs/concepts/state_kernels.md states its
contract) around what it adds: the batch is counted exactly per
(bucket, keys, item) — rows with a null event time have no bucket and
are dropped — summed with the touched buckets' stored summaries,
truncated per group on every wave (the first one included), and the
per-group subtraction totals live in a sibling ``<path>_err`` table,
same bucket partitioning, written BEFORE the counters. State is
groups x capacity rows no matter how many distinct items stream
through. At 100 TB this is "trending items per hour over years of
events" with bounded state.

Reference parity: extends the reference's state-node fold
(dag.py:501-518) with a mergeable-summary state the reference cannot
express without unbounded per-key maps (README.md:43-50 scope).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from beavers_spark.streaming.maintenance import (
    MergeWave,
    overwrite_partitions,
    read_partitions,
    table_exists,
)


class ContinuousTopK:
    """Maintains Misra-Gries heavy-hitter summaries of ``item_col`` per
    (bucket, *keys).

    ::

        top = ContinuousTopK(path, ts_col="ts", keys=["event_type"],
                             item_col="user_id", bucket="1 hour",
                             capacity=256)
        stream.writeStream.foreachBatch(top).start()
        top.read(spark, k=10)  # bucket, *keys, item, cnt_low, cnt_high, rnk
    """

    def __init__(
        self,
        path: str,
        ts_col: str,
        keys: list[str],
        item_col: str,
        bucket: str = "1 hour",
        capacity: int = 256,
    ) -> None:
        self.path = path
        self.err_path = path.rstrip("/") + "_err"
        self.ts_col = ts_col
        self.keys = keys
        self.item_col = item_col
        self.bucket = bucket
        self.capacity = capacity
        self._wave = MergeWave(path, "bucket")

    def _count(self, df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.window(F.col(self.ts_col), self.bucket).start.alias("bucket"),
                *self.keys,
                F.col(self.item_col).alias("item"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        wave = self._wave
        # truncation makes the merge non-idempotent: replays must skip
        if not wave.begin(batch_id):
            return
        spark = batch_df.sparkSession
        delta = self._count(
            batch_df.filter(F.col(self.ts_col).isNotNull())
        ).localCheckpoint(eager=False)
        # the touched buckets prune BOTH state reads: counters and ledger
        touched = wave.touched(delta)
        if not touched:
            wave.watermark.mark(batch_id)
            return
        current = wave.current(spark, touched)
        combined = delta
        if current is not None:
            combined = (
                delta.unionByName(current)
                .groupBy("bucket", *self.keys, "item")
                .agg(F.sum("cnt").alias("cnt"))
            )
        # Misra-Gries truncation per group: subtract the (capacity+1)-th
        # largest count from every counter, drop the non-positives. The
        # rank window and the subtraction run in one pass; d is the
        # group's accumulated error this merge.
        grp = Window.partitionBy("bucket", *self.keys).orderBy(
            F.col("cnt").desc(), F.col("item").asc()
        )
        # one materialization: the ranked frame feeds the counter write
        # AND the error ledger — unchecked it would re-count the batch
        # and re-run the window twice
        ranked = (
            combined.withColumn("rnk", F.row_number().over(grp))
            .withColumn(
                "d",
                F.coalesce(
                    F.max(
                        F.when(F.col("rnk") == self.capacity + 1, F.col("cnt"))
                    ).over(Window.partitionBy("bucket", *self.keys)),
                    F.lit(0),
                ),
            )
            .localCheckpoint()
        )
        merged = ranked.filter(
            (F.col("rnk") <= self.capacity) & (F.col("cnt") > F.col("d"))
        ).select(
            "bucket", *self.keys, "item", (F.col("cnt") - F.col("d")).alias("cnt")
        )
        # per-group error ledger: err += d of this merge
        err_delta = (
            ranked.groupBy("bucket", *self.keys)
            .agg(F.max("d").alias("err"))
        )
        # the ledger is written first, so it can exist without counters
        if current is not None or table_exists(spark, self.err_path):
            current_err = read_partitions(
                spark, self.err_path, "bucket", [v for v, _ in touched]
            )
            err_delta = (
                err_delta.unionByName(current_err)
                .groupBy("bucket", *self.keys)
                .agg(F.sum("err").alias("err"))
            )
        # err BEFORE counters: a crash between the two writes then only
        # inflates err (bounds stay conservative — the counters are still
        # pre-batch and the replay re-merges them once). The reverse
        # order would let a replay double-merge already-written counters
        # under a stale err, silently breaking the lower bound. A crash
        # after the counter write but before mark keeps the
        # BatchWatermark-documented double-apply window.
        overwrite_partitions(err_delta, self.err_path, "bucket")
        wave.commit(merged, batch_id, touched)

    def read(self, spark: SparkSession, k: int = 10) -> DataFrame:
        """Top-``k`` per (bucket, *keys): item, count bounds, rank.

        ``cnt_low <= true count <= cnt_high``; ranking is by the stored
        (lower-bound) count with item tie-break, deterministic.
        """
        counters = spark.read.parquet(self.path)
        errs = spark.read.parquet(self.err_path)
        w = Window.partitionBy("bucket", *self.keys).orderBy(
            F.col("cnt").desc(), F.col("item").asc()
        )
        return (
            counters.join(errs, ["bucket", *self.keys])
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select(
                "bucket",
                *self.keys,
                "item",
                F.col("cnt").alias("cnt_low"),
                (F.col("cnt") + F.col("err")).alias("cnt_high"),
                "rnk",
            )
        )

    def read_summaries(self, spark: SparkSession) -> DataFrame:
        """Raw counter table (bucket, *keys, item, cnt) — mergeable
        further, e.g. roll hourly summaries into daily heavy hitters."""
        return spark.read.parquet(self.path)
