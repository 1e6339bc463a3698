"""Hypothesis property test for the as-of join (SURVEY.md §5.2): on
arbitrary small inputs — duplicate timestamps, empty sides, single-entity,
interleaved entities — every plan must equal pandas ``merge_asof``
(the independent reference implementation of the backward as-of
semantics)."""

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

from profet_spark.operators import asof

_ts_pool = pd.date_range("2025-01-01", periods=40, freq="37min")


@hst.composite
def asof_case(draw):
    n_left = draw(hst.integers(1, 25))
    n_right = draw(hst.integers(0, 15))
    ents = ["e1", "e2", "e3"]
    left = pd.DataFrame({
        "user_id": [draw(hst.sampled_from(ents)) for _ in range(n_left)],
        "ts": [_ts_pool[draw(hst.integers(0, len(_ts_pool) - 1))] for _ in range(n_left)],
        "event_id": list(range(n_left)),
        "value": [float(draw(hst.integers(-5, 5))) for _ in range(n_left)],
    })
    right_rows = {}
    for _ in range(n_right):
        # unique (entity, ts) on the build side — the operator contract
        # (pre-aggregate duplicates upstream, as every plan documents)
        key = (draw(hst.sampled_from(ents)),
               _ts_pool[draw(hst.integers(0, len(_ts_pool) - 1))])
        right_rows[key] = float(draw(hst.integers(-5, 5)))
    right = pd.DataFrame(
        [{"user_id": e, "ts": t, "rv": v} for (e, t), v in right_rows.items()],
        columns=["user_id", "ts", "rv"])
    return left, right


def _want(left, right, allow_exact):
    lp = left.sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    if right.empty:
        out = lp.copy()
        out["rv"] = np.nan
        return out.sort_values(["event_id"]).reset_index(drop=True)
    rp = right.sort_values("ts", kind="mergesort").reset_index(drop=True)
    out = pd.merge_asof(lp, rp, on="ts", by="user_id", direction="backward",
                        allow_exact_matches=allow_exact)
    return out.sort_values(["event_id"]).reset_index(drop=True)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(case=asof_case(), allow_exact=hst.booleans(),
       strategy=hst.sampled_from(["window", "salted", "broadcast"]))
def test_asof_property(spark, case, allow_exact, strategy):
    left, right = case
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right, schema="user_id string, ts timestamp, rv double")
    # "salted": the window plan salted on one hot entity
    kw = (dict(strategy="window", hot_keys=["e1"], salt=3)
          if strategy == "salted" else dict(strategy=strategy))
    got = (asof.asof_join(ldf, rdf, entity="user_id", ts="ts",
                          allow_exact_matches=allow_exact, **kw)
           .toPandas().sort_values("event_id").reset_index(drop=True))
    want = _want(left, right, allow_exact)
    assert got["event_id"].tolist() == want["event_id"].tolist()
    np.testing.assert_allclose(got["rv"].to_numpy(dtype=float),
                               want["rv"].to_numpy(dtype=float),
                               equal_nan=True)


def _want_forward(left, right, allow_exact, horizon_s):
    lp = left.sort_values(["ts", "event_id"], kind="mergesort").reset_index(drop=True)
    if right.empty:
        out = lp.copy()
        out["rv"] = np.nan
        return out.sort_values(["event_id"]).reset_index(drop=True)
    rp = right.sort_values("ts", kind="mergesort").reset_index(drop=True)
    tol = pd.Timedelta(seconds=horizon_s) if horizon_s is not None else None
    out = pd.merge_asof(lp, rp, on="ts", by="user_id", direction="forward",
                        allow_exact_matches=allow_exact, tolerance=tol)
    return out.sort_values(["event_id"]).reset_index(drop=True)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(case=asof_case(), allow_exact=hst.booleans(),
       horizon=hst.sampled_from([None, 3600.0, 86400.0]))
def test_label_join_forward_property(spark, case, allow_exact, horizon):
    """label_join must equal pandas merge_asof(direction='forward') —
    the independent reference for the label-attachment semantics,
    including horizon right-censoring and equal-ts visibility."""
    left, right = case
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right, schema="user_id string, ts timestamp, rv double")
    got = (asof.label_join(ldf, rdf, entity="user_id", ts="ts",
                           allow_exact_matches=allow_exact,
                           horizon_s=horizon)
           .toPandas().sort_values("event_id").reset_index(drop=True))
    want = _want_forward(left, right, allow_exact, horizon)
    assert got["event_id"].tolist() == want["event_id"].tolist()
    np.testing.assert_allclose(got["rv"].to_numpy(dtype=float),
                               want["rv"].to_numpy(dtype=float),
                               equal_nan=True)
