"""Continuous rollup: an incrementally-maintained time-bucketed
aggregate table (the hypertable/continuous-aggregate pattern), built on
``foreachBatch`` and the shared touched-partition merge wave
(``maintenance.MergeWave``; docs/concepts/state_kernels.md states its
contract).

What this kernel adds: per (time bucket, keys) row counts and
``sum_col`` totals — decomposable, so the batch is pre-aggregated
(map-side, tiny) and merged into the touched buckets by summing. Late
data lands in its true bucket automatically — correctness does not
depend on arrival order. Rows with a null event time have no bucket and
are dropped. Merge-in aggregation is not idempotent: the wave's batch
watermark is what keeps a replayed batch from double-counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.streaming.maintenance import MergeWave


class ContinuousRollup:
    """Maintains ``sum_col`` totals and row counts per (bucket, *keys).

    Use as a ``foreachBatch`` callable::

        rollup = ContinuousRollup(path, ts_col="ts", bucket="1 hour",
                                  keys=["event_type"], sum_col="value")
        stream.writeStream.foreachBatch(rollup).start()

    ``read(spark)`` returns the current rollup table.
    """

    def __init__(
        self,
        path: str,
        ts_col: str,
        keys: list[str],
        sum_col: str,
        bucket: str = "1 hour",
    ) -> None:
        self.path = path
        self.ts_col = ts_col
        self.keys = keys
        self.sum_col = sum_col
        self.bucket = bucket
        self._wave = MergeWave(path, "bucket")

    def _aggregate(self, df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.window(F.col(self.ts_col), self.bucket).start.alias("bucket"),
                *self.keys,
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(self.sum_col).alias("total"),
            )
        )

    def _merge(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        return (
            delta.unionByName(current)
            .groupBy("bucket", *self.keys)
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        delta = self._aggregate(batch_df.filter(F.col(self.ts_col).isNotNull()))
        self._wave(delta, batch_id, self._merge)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)
