"""ContinuousQuantile: mergeable histogram state; estimates within one
bin width of the exact percentile, histogram merge exactly equals the
one-shot histogram, replay skipping.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from beavers_spark.plans.common import t
from beavers_spark.streaming import ContinuousQuantile

SF_DIR = "/root/testdata/sf0.001"
LO, HI, BINS = 0.0, 1000.0, 200
BIN_W = (HI - LO) / BINS


def _events(spark):
    return t(spark, SF_DIR, "events").select(
        "event_id", "ts", "event_type", "value"
    )


def _make(tmp_path, spark):
    q = ContinuousQuantile(
        str(tmp_path / "q"), ts_col="ts", keys=["event_type"],
        value_col="value", lo=LO, hi=HI, n_bins=BINS, bucket="7 days",
    )
    events = _events(spark)
    for i in range(4):
        q(events.filter(F.pmod("event_id", F.lit(4)) == i), i)
    return q


def test_incremental_histogram_equals_batch(spark, tmp_path):
    q = _make(tmp_path, spark)
    got = {
        (r["bucket"], r["event_type"], r["bin"]): r["cnt"]
        for r in q.read_histograms(spark).collect()
    }
    want = {
        (r["bucket"], r["event_type"], r["bin"]): r["cnt"]
        for r in q._count(_events(spark)).collect()
    }
    assert got == want and len(got) > 0


def test_quantiles_within_bin_width_of_exact(spark, tmp_path):
    import math

    q = _make(tmp_path, spark)
    est = q.read(spark, [0.5, 0.9, 0.99])
    # the histogram estimates the type-1 empirical quantile (the
    # ceil(q*n)-th smallest value); the guarantee is one bin width
    # around it — sf0.001 groups are small, so build it exactly
    values: dict = {}
    for r in (
        _events(spark)
        .select(
            F.window("ts", "7 days").start.alias("bucket"),
            "event_type",
            "value",
        )
        .collect()
    ):
        values.setdefault((r["bucket"], r["event_type"]), []).append(
            r["value"]
        )
    rows = est.collect()
    assert len(rows) > 0
    for r in rows:
        vs = sorted(values[(r["bucket"], r["event_type"])])
        true_v = vs[math.ceil(r["q"] * len(vs)) - 1]
        if LO <= true_v <= HI:
            assert abs(r["value"] - true_v) <= BIN_W, (r, true_v)


def test_null_ts_rows_do_not_clobber_state(spark, tmp_path):
    """A batch containing null-ts/null-value rows must not dynamic-
    overwrite away previously accumulated state (the None bucket never
    isin-matches, so unguarded it would replace the null partition with
    just the delta), and an all-null batch is a no-op that still
    advances the watermark."""
    import pytest

    q = _make(tmp_path, spark)
    before = sorted(
        q.read_histograms(spark).collect(),
        key=lambda r: (str(r["bucket"]), str(r["event_type"]), r["bin"]),
    )
    nulls = spark.createDataFrame(
        [(None, "page_view", 5.0), (None, "click", None)],
        "ts timestamp, event_type string, value double",
    )
    q(nulls, 100)  # all rows null-ts/value: state untouched, batch marked
    after = sorted(
        q.read_histograms(spark).collect(),
        key=lambda r: (str(r["bucket"]), str(r["event_type"]), r["bin"]),
    )
    assert after == before
    assert q._wave.watermark.is_applied(100)

    with pytest.raises(ValueError):
        q.read(spark, [])


def test_batch_twin_equals_incremental_read(spark, tmp_path):
    """batch_quantile over the whole frame == ContinuousQuantile fed the
    same rows in four waves, for every served quantile — bin counts add
    exactly, and both paths share quantiles_from_histogram."""
    from beavers_spark.streaming import batch_quantile

    q = _make(tmp_path, spark)
    qs = [0.5, 0.95, 0.99]
    inc = {
        (str(r["bucket"]), r["event_type"], r["q"]): r["value"]
        for r in q.read(spark, qs).collect()
    }
    batch = {
        (str(r["bucket"]), r["event_type"], r["q"]): r["value"]
        for r in batch_quantile(
            _events(spark), ts_col="ts", keys=["event_type"],
            value_col="value", lo=LO, hi=HI, n_bins=BINS,
            bucket="7 days", qs=qs,
        ).collect()
    }
    assert inc == batch and len(inc) > 0
