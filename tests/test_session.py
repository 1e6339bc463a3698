"""Session defaults that change cost, not results."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from profet_spark.operators import asof, feature_matrix, temporal


def _events(spark):
    rng = np.random.default_rng(6)
    n = 500
    return spark.createDataFrame(pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.cumsum(rng.integers(1, 600_000_000, n))
               .astype("timedelta64[us]")),
        "user_id": rng.integers(0, 20, n).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase"], n),
        "value": np.round(rng.gamma(2.0, 10.0, n), 2),
    }))


def _event_chains(ev):
    """The three chains of the ``event_pit_matrix`` benchmark job."""
    keys = dict(entity="user_id", ts="ts")
    tb = dict(keys, tiebreak=["event_id"])

    def latest(event_type, out):
        return (ev.where(F.col("event_type") == event_type)
                .groupBy("user_id", "ts").agg(F.max("value").alias(out)))

    t = asof.asof_join(ev, latest("purchase", "purch_val"),
                       strategy="window", **keys)
    t = temporal.ffill(t, ["purch_val"], **tb)
    t = temporal.sessionize(t, gap_seconds=3600, **tb)
    t = temporal.expanding_stats(t, "value", stats=("mean", "count", "max"),
                                 **tb)
    spine = ev.select("user_id", "ts", "event_id", "value")
    m = feature_matrix.point_in_time_matrix(
        spine, {"purch": latest("purchase", "purch_val"),
                "click": latest("click", "click_val"),
                "view": latest("view", "view_val")},
        keep_feature_ts=True, **keys)
    p = temporal.rolling_quantile(spine, "value", q=0.5, n=8, out_col="rq",
                                  **tb)
    p = temporal.decayed_stats(p, "value", n=8, decay=0.5, **tb)
    return [t, m, p]


def test_repeated_job_compiles_no_generated_class(spark):
    """The event job's ~113 generated classes exceed Spark's default
    100-entry code cache, so at the default every repeat of the job
    recompiled what the previous one evicted. The engine's session keeps
    the whole working set: a repeated job compiles nothing."""
    compiles = (spark.sparkContext._jvm.org.apache.spark.metrics.source
                .CodegenMetrics.METRIC_COMPILATION_TIME())
    ev = _events(spark)
    added = []
    for _ in range(3):
        before = compiles.getCount()
        for df in _event_chains(ev):
            df.write.format("noop").mode("overwrite").save()
        added.append(compiles.getCount() - before)
    assert added[0] > 0, added
    assert added[1:] == [0, 0], added
