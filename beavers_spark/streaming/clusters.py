"""Incrementally-maintained connected components: live duplicate-cluster
labels over a stream of near-dup pairs.

``functions.dedup.connected_components`` answers "which docs are
duplicates of each other" for a BATCH pair list;
:class:`IncrementalClusters` keeps the same min-id labeling continuously
as pairs arrive (e.g. from :class:`IncrementalNearDedup`), relabeling
only the subgraph each batch touches — never re-running components over
the full history.

Per batch of ``(doc1, doc2)`` pairs:

1. fetch the labels of the batch's endpoints from state;
2. run components over the SMALL graph ``batch pairs ∪ (endpoint,
   old-label) edges`` — old cluster representatives participate as
   nodes, so merging two existing clusters through a new edge resolves
   here (iterations ≈ touched-subgraph diameter);
3. propagate: every member of a touched cluster relabels via the
   ``old-rep -> new-label`` map (broadcast — the map is
   subgraph-bounded), members found by a doc_id+cluster_id column scan;
4. upsert the changed rows back, dynamic-partition-overwriting only the
   key-hash buckets that hold them.

State is parquet ``(doc_id, cluster_id)`` partitioned by
``pmod(hash(doc_id), n_buckets)`` — the DOC hash, deliberately: a row's
bucket must never depend on its (mutable) cluster label, otherwise a
relabel moves rows between partitions and dynamic overwrite leaves the
stale copy behind in the old directory. The trade: the member-propagation
scan reads the two id columns of the whole state (columnar, pruned to 2
narrow columns) instead of pruning by cluster; at extreme scale add a
``cluster_id -> bucket`` secondary index to prune that scan too.

Labels are min-reachable-doc-id, identical to the batch operator — the
final labeling is independent of how the pair stream is partitioned into
batches (the test pins incremental == batch over arbitrary splits).

Reference parity: extends the reference's state-node semantics
(beavers dag.py:501-518) to a durable, distributed graph fold; the
reference has no dedup/graph surface (README.md:43-50).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beavers_spark.functions.dedup import MAX_LOCAL_CC_EDGES, connected_components
from beavers_spark.streaming.maintenance import (
    BatchWatermark,
    overwrite_partitions,
    recover_compaction,
    table_exists,
)

_BUCKET = "__bucket"


class IncrementalClusters:
    """``foreachBatch`` callable maintaining live duplicate-cluster labels.

    ::

        clusters = IncrementalClusters(path)
        pair_stream.writeStream.foreachBatch(clusters).start()
        clusters.read_clusters(spark)   # (doc_id, cluster_id), min-id label
    """

    def __init__(self, path: str, n_buckets: int = 64) -> None:
        self.path = path
        self.n_buckets = n_buckets
        self._initialized = False
        # relabel-to-min converges, so replaying a batch is harmless;
        # the watermark just skips the wasted work
        self._watermark = BatchWatermark(path)

    def _bucket(self, col: F.Column) -> F.Column:
        return F.pmod(F.hash(col), F.lit(self.n_buckets))

    def _state_exists(self, spark: SparkSession) -> bool:
        if self._initialized:
            return True
        if table_exists(spark, self.path):
            self._initialized = True
            return True
        return False

    def read_clusters(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path).drop(_BUCKET)

    def forget(self, spark: SparkSession, ids) -> int:
        """Right-to-be-forgotten: hard-delete the given doc ids' member
        rows AND purge their ids from cluster labels — a min-id label
        IS a doc id, so it must not outlive the doc: survivors of a
        victim-labeled cluster relabel to their minimum surviving id.
        Bucket-TARGETED: only the bucket directories holding members
        of the victims' clusters rewrite (dynamic partition overwrite,
        the kernel's own upsert path). Edges are NOT retained by this
        kernel, so a component is never RE-SPLIT when the victim was
        its only bridge — conservative over-grouping; the exact
        recomputation is a rebuild from the upstream pair kernel's
        cleansed pairs (``read_pairs`` -> ``connected_components`` ->
        overwrite). Idempotent; returns the number of member rows
        deleted."""
        if not self._state_exists(spark):
            return 0
        ids = list(ids)
        if not ids:
            return 0
        id_df = spark.createDataFrame(
            [(i,) for i in ids],
            "doc_id " + ("string" if isinstance(ids[0], str) else "long"),
        )
        state = spark.read.parquet(self.path)
        victims = state.join(F.broadcast(id_df), "doc_id", "left_semi")
        touched = victims.select("cluster_id").distinct()
        # every row of a touched cluster participates: victims vanish,
        # survivors relabel to their min surviving id — one bounded
        # scan (the kernel's own member-propagation shape)
        members = state.join(
            F.broadcast(touched), "cluster_id"
        ).localCheckpoint()
        n_vic = members.join(
            F.broadcast(id_df), "doc_id", "left_semi"
        ).count()
        if not n_vic:
            return 0
        survivors = members.join(F.broadcast(id_df), "doc_id", "left_anti")
        relabel = survivors.groupBy("cluster_id").agg(
            F.min("doc_id").alias("__nl")
        )
        updates = (
            survivors.join(F.broadcast(relabel), "cluster_id")
            .select("doc_id", F.col("__nl").alias("cluster_id"), _BUCKET)
            .localCheckpoint()
        )
        buckets = [
            r[0]
            for r in members.select(_BUCKET).distinct().collect()
        ]
        # untouched rows of the touched buckets ride along (dynamic
        # overwrite replaces whole bucket directories)
        current = state.filter(F.col(_BUCKET).isin(buckets))
        untouched = current.join(
            members.select("doc_id"), "doc_id", "left_anti"
        )
        merged = updates.unionByName(untouched).localCheckpoint()
        kept_buckets = {
            r[0] for r in merged.select(_BUCKET).distinct().collect()
        }
        if kept_buckets:
            overwrite_partitions(merged, self.path, _BUCKET)
        # a bucket whose every row was a victim gets no output row, so
        # the dynamic overwrite cannot clear it — remove it explicitly
        # (the empty-partition trap, maintenance.forget_partition_rows)
        import os
        import shutil

        for b in set(buckets) - kept_buckets:
            shutil.rmtree(
                os.path.join(self.path, f"{_BUCKET}={b}"),
                ignore_errors=True,
            )
        from beavers_spark.streaming.maintenance import _has_data_file

        if not _has_data_file(spark, self.path):
            (
                merged.drop(_BUCKET)
                .limit(0)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(self.path, f"{_BUCKET}=-1"))
            )
        return n_vic

    #: per-batch graphs above this edge count fall back to the
    #: distributed component run; below it, driver-side union-find wins.
    #: imported from functions.dedup (whose RSS measurement justifies
    #: the value) so retuning there cannot silently leave this kernel's
    #: presized guarantee computed against a stale cap
    MAX_LOCAL_EDGES = MAX_LOCAL_CC_EDGES

    def _components(
        self, spark: SparkSession, edges: DataFrame, n_pairs: int
    ) -> DataFrame:
        """Min-id component labels ``(doc_id, cluster_id)`` of the batch
        subgraph.

        The subgraph is batch-bounded BY CONSTRUCTION: batch pairs plus
        at most one label edge per endpoint, so |edges| <= 3·n_pairs —
        when that bound fits the cap the union-find fast path collects
        directly (``presized``), skipping the sizing probe so the edge
        subtree (including the state-label join) executes exactly once.
        An oversized batch takes the distributed fixpoint — same labels
        either way.
        """
        # no extra checkpoint: the local path returns a driver-side
        # relation, and the distributed loop already checkpoints its
        # label state every iteration
        return connected_components(
            edges,
            max_local_edges=self.MAX_LOCAL_EDGES,
            presized=3 * n_pairs <= self.MAX_LOCAL_EDGES,
        )

    def __call__(self, pairs_df: DataFrame, batch_id: int) -> None:
        # restore a compaction crashed between compact_parquet's two
        # renames BEFORE the watermark check or any write (review r8)
        recover_compaction(self.path)
        if self._watermark.is_applied(batch_id):
            return
        spark = pairs_df.sparkSession
        # the batch's pair list feeds endpoint extraction AND the
        # component graph — materialize it once (it is batch-sized);
        # the count doubles as the emptiness check and the presized
        # bound for the component run. LAZY checkpoint: the count on
        # the next line forces the materialization, so the eager
        # form's separate checkpoint job folds into it (r14 — one job,
        # not two, per wave)
        pairs = pairs_df.select("doc1", "doc2").localCheckpoint(
            eager=False
        )
        n_pairs = pairs.count()
        if n_pairs == 0:
            self._watermark.mark(batch_id)
            return
        endpoints = (
            pairs.select(F.col("doc1").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc2").alias("doc_id")))
            .distinct()
        )

        edges = pairs
        narrow = None
        if self._state_exists(spark):
            narrow = self.read_clusters(spark)  # 2-column pruned scan
            known = narrow.join(F.broadcast(endpoints), "doc_id", "left_semi")
            # an (endpoint, old-label) edge pulls the old cluster's
            # representative into the batch graph, so cross-cluster
            # merges resolve inside this small component run
            edges = edges.unionByName(
                known.select(
                    F.col("doc_id").alias("doc1"),
                    F.col("cluster_id").alias("doc2"),
                )
            )
        comp = self._components(spark, edges, n_pairs)

        updates = comp
        if narrow is not None:
            # propagate to every member of a touched cluster: the rep map
            # (old rep id -> new label) is subgraph-bounded -> broadcast;
            # members come from the narrow scan, no full-row reads
            rep_map = comp.select(
                F.col("doc_id").alias("cluster_id"),
                F.col("cluster_id").alias("new_label"),
            )
            members = narrow.join(F.broadcast(rep_map), "cluster_id").select(
                "doc_id", F.col("new_label").alias("cluster_id")
            )
            updates = (
                updates.unionByName(members)
                .groupBy("doc_id")
                .agg(F.min("cluster_id").alias("cluster_id"))
            )
        # LAZY checkpoint: the touched-bucket collect right below
        # forces the materialization (one job instead of checkpoint +
        # collect, r14) — and because that collect completes BEFORE
        # the dynamic overwrite, every state-parquet read behind
        # ``updates`` still happens strictly ahead of the rewrite the
        # eager form guarded against
        updates = updates.withColumn(
            _BUCKET, self._bucket(F.col("doc_id"))
        ).localCheckpoint(eager=False)

        touched = [
            r[_BUCKET] for r in updates.select(_BUCKET).distinct().collect()
        ]
        merged = updates
        if self._state_exists(spark) and touched:
            # EAGER checkpoint, deliberately: ``current`` reads the
            # same bucket directories the write below replaces, so its
            # materialization must complete before the overwrite can
            # run — no later action forces it the way the collects
            # force ``pairs``/``updates``
            current = (
                spark.read.parquet(self.path)
                .filter(F.col(_BUCKET).isin(touched))
                .localCheckpoint()
            )
            untouched_rows = current.join(
                updates.select("doc_id"), "doc_id", "left_anti"
            )
            merged = updates.unionByName(untouched_rows)
        overwrite_partitions(merged, self.path, _BUCKET)
        self._initialized = True
        self._watermark.mark(batch_id)
