"""ContinuousTopK: mergeable Misra-Gries heavy hitters per time bucket.

Pins the three MG invariants against exact batch counts — lower/upper
count bounds, bounded accumulated error, and guaranteed presence of any
item whose true count exceeds n/(capacity+1) — plus exactness when the
capacity is never hit, and replay skipping.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from beavers_spark.plans.common import t
from beavers_spark.streaming import ContinuousTopK

SF_DIR = "/root/testdata/sf0.001"


def _events(spark):
    return t(spark, SF_DIR, "events").select("ts", "user_id", "event_type")


def _feed(top, events, waves=4):
    for i in range(waves):
        top(events.filter(F.pmod("user_id", F.lit(waves)) == i), i)


def _true_counts(events, bucket):
    return (
        events.groupBy(
            F.window("ts", bucket).start.alias("bucket"),
            F.col("event_type"),
            F.col("user_id").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )


def test_exact_when_capacity_not_hit(spark, tmp_path):
    events = _events(spark)
    top = ContinuousTopK(
        str(tmp_path / "top"), ts_col="ts", keys=["event_type"],
        item_col="user_id", bucket="7 days", capacity=100_000,
    )
    _feed(top, events)
    got = {
        (r["bucket"], r["event_type"], r["item"]): r["cnt"]
        for r in top.read_summaries(spark).collect()
    }
    want = {
        (r["bucket"], r["event_type"], r["item"]): r["true_cnt"]
        for r in _true_counts(events, "7 days").collect()
    }
    assert got == want and len(got) > 0
    # and the error ledger recorded zero subtraction everywhere
    errs = spark.read.parquet(str(tmp_path / "top_err"))
    assert errs.filter(F.col("err") != 0).count() == 0


def test_mg_bounds_under_truncation(spark, tmp_path):
    events = _events(spark)
    cap = 8
    top = ContinuousTopK(
        str(tmp_path / "top"), ts_col="ts", keys=["event_type"],
        item_col="user_id", bucket="7 days", capacity=cap,
    )
    _feed(top, events)
    true = _true_counts(events, "7 days")
    joined = (
        top.read_summaries(spark)
        .join(
            spark.read.parquet(str(tmp_path / "top_err")),
            ["bucket", "event_type"],
        )
        .join(true, ["bucket", "event_type", "item"], "left")
        .localCheckpoint()
    )
    # every stored counter is a lower bound; +err is an upper bound
    bad = joined.filter(
        (F.col("cnt") > F.col("true_cnt"))
        | (F.col("true_cnt") > F.col("cnt") + F.col("err"))
    )
    assert bad.count() == 0
    # err <= n/(capacity+1) per group
    n_per_group = true.groupBy("bucket", "event_type").agg(
        F.sum("true_cnt").alias("n")
    )
    over = (
        spark.read.parquet(str(tmp_path / "top_err"))
        .join(n_per_group, ["bucket", "event_type"])
        .filter(F.col("err") > F.col("n") / (cap + 1))
    )
    assert over.count() == 0
    # any item with true count > n/(cap+1) must be present in the summary
    must_have = (
        true.join(n_per_group, ["bucket", "event_type"])
        .filter(F.col("true_cnt") > F.col("n") / (cap + 1))
        .join(
            top.read_summaries(spark),
            ["bucket", "event_type", "item"],
            "left_anti",
        )
    )
    assert must_have.count() == 0


def test_read_topk_and_replay_skip(spark, tmp_path):
    events = _events(spark)
    top = ContinuousTopK(
        str(tmp_path / "top"), ts_col="ts", keys=["event_type"],
        item_col="user_id", bucket="7 days", capacity=16,
    )
    _feed(top, events)
    out = top.read(spark, k=5)
    assert out.filter(F.col("rnk") > 5).count() == 0
    assert out.filter(F.col("cnt_high") < F.col("cnt_low")).count() == 0
    before = sorted(map(tuple, out.collect()))
    top(events, 0)  # replayed batch id: skipped
    assert sorted(map(tuple, top.read(spark, k=5).collect())) == before


def test_null_ts_rows_do_not_clobber_state(spark, tmp_path):
    """Null-ts rows are dropped before bucketing: an all-null batch
    leaves both the counter and error tables byte-identical instead of
    dynamic-overwriting the null partition with only the delta."""
    top = ContinuousTopK(
        str(tmp_path / "top"), ts_col="ts", keys=["event_type"],
        item_col="user_id", bucket="7 days", capacity=64,
    )
    _feed(top, _events(spark))

    def snap(df):
        return sorted([str(v) for v in r] for r in df.collect())

    counters = snap(top.read_summaries(spark))
    ranked = snap(top.read(spark, 5))
    nulls = spark.createDataFrame(
        [(None, "page_view", 7)],
        "ts timestamp, event_type string, user_id bigint",
    )
    top(nulls, 100)
    assert snap(top.read_summaries(spark)) == counters
    assert snap(top.read(spark, 5)) == ranked
    assert top._wave.watermark.is_applied(100)
