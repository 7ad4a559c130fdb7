"""Cross-source priming alignment: release rows in GLOBAL event-time
order while several sources replay history at different speeds.

The reference's ``_ConsumerManager`` (kafka.py:280-396) solves this
during Kafka catch-up: messages are buffered and sorted by event time,
and only released up to the *low-water-mark* — the minimum last-seen
timestamp across partitions that are still replaying — so a topic with
2 days of history and a topic with 1 hour stay time-aligned until both
are live. Spark's Kafka source has no such knob; this module is the
Spark-first twin at the ``foreachBatch`` boundary:

- the unioned stream (``kafka_reader`` over N topics, or any union of
  timestamped sources) lands in ``AlignedReleaseDriver.process_batch``;
- per-source progress (max event time, optional monotonic progress
  column) is tracked driver-side — O(sources) values, never data;
- arriving rows join a held buffer (a DataFrame, lineage-truncated per
  cycle); rows with ``ts <= low_water_mark`` are released to the
  downstream callable in event-time order, the rest stay held;
- a source stops constraining the watermark when it is LIVE: its
  progress passed ``live_marks`` (the startup high-water offsets, the
  reference's ``is_live`` offset test, kafka.py:231-245) or its event
  time passed ``cutoff``. When every source is live, rows flow through
  unheld (micro-batch order).

Semantics mirrored from reference tests/test_kafka.py:194-285
(``test_consumer_manager_priming``), which tests/test_kafka_alignment.py
replays step-for-step against this driver.

Scale notes: the held buffer is bounded by (cutoff lag x ingest rate) —
the same bound as the reference's ``max_held_messages``; admission is
capped upstream by ``maxOffsetsPerTrigger``. Spark cannot pause ONE
topic of a unioned source (the reference pauses partitions,
kafka.py:349-381), so a runaway-fast source costs held-buffer memory
rather than broker fetches; ``held_count`` in ``metrics()`` is the
backpressure signal — wire it to ``maxOffsetsPerTrigger`` sizing. For
multi-day catch-ups, pass ``staging_dir`` to hold rows in an
hour-partitioned parquet directory instead: held volume is then bounded
by disk, not executor memory, survives a driver restart, and every
release reads ONLY the hour partitions at or below the low-water-mark
(file-level pruning) — fully-released hours are dropped as whole
directories and only the single boundary hour is ever rewritten. The
release predicate and ordering are identical in both modes.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beavers_spark.streaming.maintenance import overwrite_partitions, table_exists

UTC_EPOCH = pd.Timestamp(0, tz="UTC")


class AlignedReleaseDriver:
    """``foreachBatch`` callable that re-orders a unioned multi-source
    stream into global event-time order during priming.

    ::

        driver = AlignedReleaseDriver(
            source_col="topic", ts_col="ts", cutoff=cutoff,
            sources=["prices", "trades"], on_release=handle_df)
        kafka_reader(spark, configs, servers).writeStream \\
            .foreachBatch(driver.process_batch).start()

    ``on_release`` receives each released slice sorted by
    ``(ts_col, *order_tiebreak)``; slices are non-overlapping and their
    concatenation is the globally time-ordered stream up to the current
    low-water-mark.

    With ``staging_dir`` set, held rows live in an hour-partitioned
    parquet directory (reference ``max_held_messages`` bound,
    kafka.py:296, traded for a disk bound — the multi-day-catch-up
    mode). Released slices are eagerly materialized before staging
    files are mutated, so ``on_release`` may consume them lazily.
    Durability note: the staged rows survive a driver restart, but the
    per-source progress marks are in-memory either way — after a
    restart sources re-prime from their checkpointed offsets, which can
    re-release staged rows; exactly-once delivery needs an idempotent
    ``on_release`` (same contract as the in-memory mode's replay
    window).
    """

    def __init__(
        self,
        source_col: str,
        ts_col: str,
        cutoff: pd.Timestamp,
        sources: Sequence[str],
        on_release: Callable[[DataFrame], None],
        order_tiebreak: Sequence[str] = (),
        progress_col: str | None = None,
        live_marks: dict[str, float] | None = None,
        staging_dir: str | None = None,
    ) -> None:
        if not sources:
            raise ValueError("declare the expected sources up front")
        self.source_col = source_col
        self.ts_col = ts_col
        self.cutoff = cutoff
        self.on_release = on_release
        self.order_tiebreak = list(order_tiebreak)
        self.progress_col = progress_col
        self.live_marks = dict(live_marks or {})
        self.staging_dir = staging_dir
        # a source nobody has heard from holds the watermark at epoch
        # (reference: _PartitionInfo.timestamp_ns = 0)
        self._max_ts: dict[str, pd.Timestamp] = {s: UTC_EPOCH for s in sources}
        self._progress: dict[str, float] = {s: float("-inf") for s in sources}
        self._held: DataFrame | None = None
        self._released = 0
        self._spark = None  # captured on first batch (staging metrics)

    # -- liveness / watermark (reference kafka.py:231-245, 388-395) --------

    def _is_live(self, source: str) -> bool:
        mark = self.live_marks.get(source)
        if (
            mark is not None
            and self.progress_col is not None
            and self._progress[source] >= mark
        ):
            return True
        return self._max_ts[source] >= self.cutoff

    def low_water_mark(self) -> pd.Timestamp | None:
        """Min event time over sources still replaying; None = all live."""
        lagging = [s for s in self._max_ts if not self._is_live(s)]
        if not lagging:
            return None
        return min(self._max_ts[s] for s in lagging)

    def priming_watermark(self) -> pd.Timestamp | None:
        """Reference ``_get_priming_watermark``: the alignment point while
        priming, None once fully live."""
        return self.low_water_mark()

    def metrics(self) -> dict[str, int]:
        if self.staging_dir is not None:
            held = 0
            if self._spark is not None and table_exists(
                self._spark, self.staging_dir
            ):
                held = self._spark.read.parquet(self.staging_dir).count()
            return {"held_count": held, "released_count": self._released}
        held = 0 if self._held is None else self._held.count()
        return {"held_count": held, "released_count": self._released}

    # -- the kernel --------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """One cycle: admit the batch, advance per-source progress,
        release the time-ordered prefix up to the low-water-mark."""
        self._spark = batch_df.sparkSession
        has_rows = not batch_df.isEmpty()
        if has_rows:
            # per-source progress: one tiny agg, O(sources) rows
            aggs = [F.max(self.ts_col).alias("__ts")]
            if self.progress_col:
                aggs.append(F.max(self.progress_col).alias("__prog"))
            for row in batch_df.groupBy(self.source_col).agg(*aggs).collect():
                src = row[self.source_col]
                if src not in self._max_ts:
                    raise ValueError(
                        f"undeclared source {src!r} (declared: "
                        f"{sorted(self._max_ts)})"
                    )
                ts = pd.Timestamp(row["__ts"])
                ts = ts.tz_localize("UTC") if ts.tzinfo is None else ts
                self._max_ts[src] = max(self._max_ts[src], ts)
                if self.progress_col:
                    self._progress[src] = max(
                        self._progress[src], float(row["__prog"])
                    )
        if self.staging_dir is not None:
            self._cycle_staged(batch_df, has_rows)
        else:
            self._cycle_memory(batch_df, has_rows)

    def _order(self) -> list:
        return [F.col(self.ts_col).asc()] + [
            F.col(c).asc() for c in self.order_tiebreak
        ]

    def _cycle_memory(self, batch_df: DataFrame, has_rows: bool) -> None:
        if has_rows:
            self._held = (
                batch_df
                if self._held is None
                else self._held.unionByName(batch_df)
            )
        if self._held is None or self._held.isEmpty():
            return
        lwm = self.low_water_mark()
        if lwm is None:
            to_release, remainder = self._held, None
        else:
            naive = lwm.tz_convert("UTC").tz_localize(None)
            # comparison in naive-UTC: Spark timestamps are session-tz
            # naive, the driver state is tz-aware
            released_pred = F.col(self.ts_col) <= F.lit(naive)
            to_release = self._held.filter(released_pred)
            remainder = self._held.filter(~released_pred)
        if not to_release.isEmpty():
            out = to_release.orderBy(*self._order())
            self._released += out.count()
            self.on_release(out)
        # truncate lineage so the held plan does not deepen per cycle
        self._held = (
            None
            if remainder is None or remainder.isEmpty()
            else remainder.localCheckpoint(eager=True)
        )

    # -- parquet staging mode ---------------------------------------------

    #: partition column for the staging table. Must NOT start with "_" or
    #: "." — Spark's file listing treats such directories as hidden and
    #: the staged rows would be invisible to the release read.
    _STAGE_COL = "stage_hour"

    def _staged_exists(self) -> bool:
        return table_exists(self._spark, self.staging_dir)

    def _fs(self):
        jvm = self._spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.staging_dir)
        return root.getFileSystem(
            self._spark._jsc.hadoopConfiguration()
        ), jvm

    def _delete_partitions(self, hours: list[str]) -> None:
        fs, jvm = self._fs()
        for h in hours:
            p = jvm.org.apache.hadoop.fs.Path(
                f"{self.staging_dir.rstrip('/')}/{self._STAGE_COL}={h}"
            )
            fs.delete(p, True)

    def _list_partitions(self) -> list[str]:
        fs, jvm = self._fs()
        root = jvm.org.apache.hadoop.fs.Path(self.staging_dir)
        out = []
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if name.startswith(f"{self._STAGE_COL}="):
                out.append(name.split("=", 1)[1])
        return sorted(out)

    def _cycle_staged(self, batch_df: DataFrame, has_rows: bool) -> None:
        """The staged twin of ``_cycle_memory``: identical release
        predicate, held rows in an hour-partitioned parquet directory.

        Per cycle: at most one partitioned append (the incoming batch),
        one file-pruned read of the hour partitions at or below the
        low-water-mark, whole-directory drops for fully-released hours,
        and a rewrite of ONLY the boundary hour's remainder. Hours above
        the mark are never opened. Once all sources are live and the
        backlog has drained, batches flow through with zero staging IO.
        """
        lwm = self.low_water_mark()
        staged = self._staged_exists()
        if lwm is None and not staged:
            # fully live, nothing held: release directly, no IO
            if has_rows:
                out = batch_df.orderBy(*self._order())
                self._released += out.count()
                self.on_release(out)
            return
        if has_rows:
            (
                batch_df.withColumn(
                    self._STAGE_COL,
                    F.date_format(F.col(self.ts_col), "yyyyMMddHH"),
                )
                .repartition(F.col(self._STAGE_COL))
                .write.mode("append")
                .partitionBy(self._STAGE_COL)
                .parquet(self.staging_dir)
            )
            staged = True
        if not staged:
            return
        held = self._spark.read.parquet(self.staging_dir)
        if lwm is None:
            # drain everything, then drop the staging table wholesale
            out = (
                held.drop(self._STAGE_COL)
                .orderBy(*self._order())
                .localCheckpoint(eager=True)
            )
            n = out.count()
            # deliver BEFORE deleting: if on_release raises (or the
            # driver dies mid-delivery) the staging table is untouched
            # and the retry re-releases — at-least-once out, never
            # silent loss (downstream sinks must tolerate replays, the
            # standard foreachBatch contract)
            if n:
                self._released += n
                self.on_release(out)
            self._delete_partitions(self._list_partitions())
            return
        naive = lwm.tz_convert("UTC").tz_localize(None)
        boundary = naive.strftime("%Y%m%d%H")
        # partition-pruned: only hours <= the low-water-mark hour open
        candidates = held.filter(F.col(self._STAGE_COL) <= boundary)
        out = (
            candidates.filter(F.col(self.ts_col) <= F.lit(naive))
            .drop(self._STAGE_COL)
            .orderBy(*self._order())
            .localCheckpoint(eager=True)
        )
        # the boundary hour may straddle the mark: keep its tail
        rest = (
            held.filter(
                (F.col(self._STAGE_COL) == boundary)
                & (F.col(self.ts_col) > F.lit(naive))
            )
            .localCheckpoint(eager=True)
        )
        n = out.count()
        # write ordering, crash-safe at every boundary (review r5):
        # 1. DELIVER while staging is intact — a failed on_release (or a
        #    crash mid-delivery) leaves every held row re-releasable on
        #    retry: at-least-once out, never silent loss (downstream
        #    sinks must tolerate replays, the standard foreachBatch
        #    contract);
        # 2. the boundary hour is then REWRITTEN to just its tail via a
        #    dynamic partition overwrite (one committed swap — no
        #    delete-then-reappend window that could strand the tail);
        # 3. fully-released hours are deleted last — a crash between 2
        #    and 3 re-releases those hours (duplicates, never loss).
        has_rest = not rest.isEmpty()
        if n:
            self._released += n
            self.on_release(out)
        if has_rest:
            overwrite_partitions(rest, self.staging_dir, self._STAGE_COL)
            doomed = [h for h in self._list_partitions() if h < boundary]
        else:
            doomed = [h for h in self._list_partitions() if h <= boundary]
        self._delete_partitions(doomed)
