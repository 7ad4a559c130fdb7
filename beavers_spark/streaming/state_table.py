"""Durable keyed-upsert state: the reference's ``last_by_keys`` /
``GetLatest`` state node made distributed and at-rest.

The reference keeps latest-row-per-key state in process memory
(pyarrow_wrapper.py:82-91 ``_LastByKey``; examples/etfs.py:34-42
``GetLatest``) — impossible at 100 TB. ``KeyedStateTable`` keeps the same
semantics in a parquet table **partitioned by a key-hash bucket**, one
of the partition-keyed kernels sharing ``maintenance.MergeWave``
(docs/concepts/state_kernels.md states the wave contract). What this
kernel adds:

1. the batch is reduced to its latest row per key (one window pass on
   the arrival order column — same contract as ``operators.last_by_keys``);
   a row with a null ``order_by`` has no place in that order and is
   dropped;
2. the merge keeps the latest ``order_by`` per key over the touched
   buckets' stored rows and the delta — ties go to the incoming batch,
   matching upsert expectations. The merge is idempotent, so the batch
   watermark only skips wasted replays.

``n_buckets`` sizes the unit of rewrite: more buckets = finer pruning
but more small files; at 100 TB pick buckets so one bucket ≈ one
executor-comfortable rewrite (hundreds of MB), and compact periodically.

Readers see a plain parquet table, queryable mid-stream — the serving
layer (``serving.ViewServer`` / ``operators.view.TableView``) can sit
directly on ``read()``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.operators.tabular import last_by_keys
from beavers_spark.streaming.maintenance import MergeWave, forget_partition_rows

_BUCKET = "__bucket"


class KeyedStateTable:
    """``foreachBatch`` callable maintaining latest-row-per-key state.

    ::

        state = KeyedStateTable(path, keys=["ticker"], order_by="seq",
                                n_buckets=64)
        stream.writeStream.foreachBatch(state).start()
        latest = state.read(spark)   # one row per key, the latest
    """

    def __init__(
        self,
        path: str,
        keys: Sequence[str],
        order_by: str,
        n_buckets: int = 64,
    ) -> None:
        if not keys:
            raise ValueError("keys must be non-empty")
        self.path = path
        self.keys = list(keys)
        self.order_by = order_by
        self.n_buckets = n_buckets
        self._wave = MergeWave(path, _BUCKET)
        #: one WaveMetrics per applied wave (``MergeWave.metrics``)
        self.metrics = self._wave.metrics

    def read(self, spark: SparkSession) -> DataFrame:
        """Current latest-row-per-key table (without the bucket column)."""
        return spark.read.parquet(self.path).drop(_BUCKET)

    def forget(self, spark: SparkSession, keys) -> int:
        """Right-to-be-forgotten for keyed state: hard-delete the
        given keys' rows. ``keys`` is a list of key values (single-key
        tables) or of tuples aligned with ``self.keys``. Bucket-
        TARGETED (maintenance.forget_partition_rows): only the bucket
        directories holding the victims rewrite. A later upsert of a
        forgotten key is admitted as brand-new state. Idempotent;
        returns the number of bucket directories rewritten or
        removed."""
        if not self._wave.exists(spark):
            return 0
        rows = [k if isinstance(k, tuple) else (k,) for k in keys]
        if not rows:
            return 0
        id_df = spark.createDataFrame(rows, self.keys)
        return forget_partition_rows(spark, self.path, id_df, self.keys, _BUCKET)

    def _merge(self, delta: DataFrame, current: DataFrame) -> DataFrame:
        # ties on order_by go to the batch: rank current rows below
        # delta rows by a tiebreaker column
        return last_by_keys(
            delta.withColumn("__new", F.lit(1)).unionByName(
                current.withColumn("__new", F.lit(0))
            ),
            self.keys,
            [self.order_by, "__new"],
        ).drop("__new")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        delta = last_by_keys(
            batch_df.filter(F.col(self.order_by).isNotNull()),
            self.keys,
            [self.order_by],
        ).withColumn(
            _BUCKET, F.pmod(F.hash(*self.keys), F.lit(self.n_buckets))
        )
        self._wave(delta, batch_id, self._merge)
