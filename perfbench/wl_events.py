"""``event_pit_matrix``: point-in-time features over a seeded event stream.

Why: pure JVM. Scan, exchange, sort and window operators do all the
work and no plan holds a Python node, so a change to the Python boundary
or to a numpy kernel must show no change here.

Inputs follow the events table schema of the repository's test data
(``event_id, ts, user_id, event_type, value, props``) and vary hot-key
skew: ``user_id`` is Zipf-distributed over 1,000 users, so a few users own
long histories.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from profet_spark.operators import asof, feature_matrix, temporal

from harness import Tracer, noop_sink, write_parquet
from workload import Workload

N_EVENTS = 10_000
N_USERS = 1_000
ZIPF_S = 1.0  # P(user k) ~ 1 / k**s over N_USERS users: the top user has ~13%
EVENT_TYPES = ("view", "click", "purchase", "error")
TYPE_P = (0.6, 0.25, 0.1, 0.05)
BASE_TS = np.datetime64("2024-01-01T00:00:00", "us")
RTOL = 1e-9

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string())])

# output columns of each chain, checked by count, sum and an id-weighted
# sum (order-insensitive, but a value on the wrong row changes it)
CHAIN_COLS = {
    "events": ["user_id", "value", "purch_val", "purch_val_ffill",
               "session_id", "value_mean_cum", "value_count_cum",
               "value_max_cum"],
    "matrix": ["user_id", "value", "purch_val", "click_val", "view_val",
               "purch_asof_ts", "click_asof_ts", "view_asof_ts"],
    "profile": ["user_id", "value", "rq", "value_dsum8", "value_dwt8",
                "value_dmean8"],
}
TS_COLS = {"purch_asof_ts", "click_asof_ts", "view_asof_ts"}
DECAY, LAGS = 0.5, 8


def _num(col: str):
    c = F.col(col)
    if col in TS_COLS:
        return F.unix_micros(c.cast("timestamp")).cast("double") / 1e6
    return c.cast("double")


def _check_exprs(cols):
    w = (F.col("event_id") % 97 + 1).cast("double")
    exprs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        exprs += [F.count(c).alias(f"nn_{c}"), F.sum(_num(c)).alias(f"s_{c}"),
                  F.sum(_num(c) * w).alias(f"w_{c}")]
    return exprs


def _duck_aggs(cols):
    parts = ["count(*) AS n"]
    for c in cols:
        v = f"epoch_us({c}) / 1e6" if c in TS_COLS else f"CAST({c} AS DOUBLE)"
        parts += [f"count({c}) AS nn_{c}", f"sum({v}) AS s_{c}",
                  f"sum({v} * (event_id % 97 + 1)) AS w_{c}"]
    return ", ".join(parts)


W_ORDER = "PARTITION BY user_id ORDER BY ts, event_id"
W_CUM = f"({W_ORDER} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"

REFERENCE_SQL = {
    "events": f"""
        WITH purch AS (SELECT user_id, ts, max(value) AS purch_val FROM ev
                       WHERE event_type = 'purchase' GROUP BY user_id, ts),
        a AS (SELECT ev.event_id, ev.user_id, ev.ts, ev.value, p.purch_val
              FROM ev ASOF LEFT JOIN purch p
              ON ev.user_id = p.user_id AND ev.ts >= p.ts),
        b AS (SELECT *,
              last_value(purch_val IGNORE NULLS) OVER {W_CUM} AS purch_val_ffill,
              CASE WHEN lag(ts) OVER ({W_ORDER}) IS NULL
                   OR ts - lag(ts) OVER ({W_ORDER}) > INTERVAL 3600 SECOND
                   THEN 1 ELSE 0 END AS is_new,
              avg(value) OVER {W_CUM} AS value_mean_cum,
              count(value) OVER {W_CUM} AS value_count_cum,
              max(value) OVER {W_CUM} AS value_max_cum FROM a),
        c AS (SELECT *, sum(is_new) OVER {W_CUM} - 1 AS session_id FROM b)
        SELECT {{aggs}} FROM c""",
    "matrix": """
        WITH f AS (SELECT user_id, ts, event_type, max(value) AS v FROM ev
                   GROUP BY user_id, ts, event_type),
        spine AS (SELECT event_id, user_id, ts, value FROM ev),
        m1 AS (SELECT s.*, p.v AS purch_val, p.ts AS purch_asof_ts
               FROM spine s ASOF LEFT JOIN
                 (SELECT * FROM f WHERE event_type = 'purchase') p
               ON s.user_id = p.user_id AND s.ts >= p.ts),
        m2 AS (SELECT s.*, p.v AS click_val, p.ts AS click_asof_ts
               FROM m1 s ASOF LEFT JOIN
                 (SELECT * FROM f WHERE event_type = 'click') p
               ON s.user_id = p.user_id AND s.ts >= p.ts),
        m3 AS (SELECT s.*, p.v AS view_val, p.ts AS view_asof_ts
               FROM m2 s ASOF LEFT JOIN
                 (SELECT * FROM f WHERE event_type = 'view') p
               ON s.user_id = p.user_id AND s.ts >= p.ts)
        SELECT {aggs} FROM m3""",
    "profile": f"""
        WITH p AS (SELECT event_id, user_id, ts, value,
            quantile_disc(value, 0.5) OVER ({W_ORDER}
                ROWS BETWEEN {LAGS - 1} PRECEDING AND CURRENT ROW) AS rq,
            {" + ".join(f"coalesce(lag(value, {k}) OVER ({W_ORDER}) * {DECAY ** k!r}, 0.0)" for k in range(LAGS))} AS value_dsum8,
            {" + ".join(f"CASE WHEN lag(value, {k}) OVER ({W_ORDER}) IS NULL THEN 0.0 ELSE {DECAY ** k!r} END" for k in range(LAGS))} AS value_dwt8
            FROM ev)
        SELECT {{aggs}} FROM
          (SELECT *, value_dsum8 / value_dwt8 AS value_dmean8 FROM p)""",
}


class EventPitMatrix(Workload):
    # the partitioned store layer is measured in this workload's traced
    # run: the feature_store_refresh job has a fixed number of refreshes,
    # too few to steady a run of its own
    companions = ("feature_store_refresh",)
    properties = {"events": N_EVENTS, "users": N_USERS, "user_zipf_s": ZIPF_S,
                  "event_type_p": dict(zip(EVENT_TYPES, TYPE_P))}

    def generate(self):
        rng = np.random.default_rng(self.seed)
        gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // N_EVENTS, N_EVENTS)
        weights = 1.0 / np.arange(1, N_USERS + 1) ** ZIPF_S
        users = rng.choice(N_USERS, N_EVENTS, p=weights / weights.sum())
        self.events = pd.DataFrame({
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": BASE_TS + np.cumsum(gaps).astype("timedelta64[us]"),
            "user_id": users.astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS, p=TYPE_P),
            "value": np.round(rng.gamma(2.0, 10.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        })

    def stage(self, spark, root):
        self.dir = os.path.join(root, "events")
        write_parquet(self.events, self.dir, EVENT_SCHEMA)

    def reference(self):
        con = duckdb.connect()
        try:
            con.register("ev", self.events)
            self.expected = {}
            for chain, sql in REFERENCE_SQL.items():
                cur = con.execute(sql.format(aggs=_duck_aggs(CHAIN_COLS[chain])))
                names = [d[0] for d in cur.description]
                self.expected[chain] = dict(zip(names, cur.fetchone()))
        finally:
            con.close()

    def _chains(self, spark, tracer):
        ev = (spark.read.parquet(self.dir)
              .select("event_id", "user_id", "ts", "event_type", "value"))
        keys = dict(entity="user_id", ts="ts")
        tb = dict(keys, tiebreak=["event_id"])

        def latest(event_type, out):
            return (ev.where(F.col("event_type") == event_type)
                    .groupBy("user_id", "ts").agg(F.max("value").alias(out)))

        with tracer.span("asof.plan"):
            a = asof.asof_join(ev, latest("purchase", "purch_val"),
                               strategy="window", **keys)
        with tracer.span("temporal.plan"):
            t = temporal.ffill(a, ["purch_val"], **tb)
            t = temporal.sessionize(t, gap_seconds=3600, **tb)
            t = temporal.expanding_stats(t, "value", stats=("mean", "count",
                                                            "max"), **tb)
        spine = ev.select("user_id", "ts", "event_id", "value")
        with tracer.span("feature_matrix.plan"):
            m = feature_matrix.point_in_time_matrix(
                spine, {"purch": latest("purchase", "purch_val"),
                        "click": latest("click", "click_val"),
                        "view": latest("view", "view_val")},
                keep_feature_ts=True, **keys)
        with tracer.span("temporal.plan"):
            p = temporal.rolling_quantile(spine, "value", q=0.5, n=LAGS,
                                          out_col="rq", **tb)
            p = temporal.decayed_stats(p, "value", n=LAGS, decay=DECAY, **tb)
        return {
            "events": [("sources", ev), ("asof", a), ("temporal", t)],
            "matrix": [("sources", spine), ("feature_matrix", m)],
            "profile": [("sources", spine), ("temporal", p)],
        }

    def run_job(self, spark, tracer):
        rows, bad = 0, []
        for chain, steps in self._chains(spark, tracer).items():
            got = noop_sink(steps[-1][1], *_check_exprs(CHAIN_COLS[chain]))
            rows += got["n"]
            want = self.expected[chain]
            for k, v in want.items():
                g = got[k]
                same = (g is None and v is None) or (
                    g is not None and v is not None
                    and np.isclose(float(g), float(v), rtol=RTOL, atol=1e-9))
                if not same:
                    bad.append(f"{chain}.{k}: {g} != {v}")
        return rows, bad[:5]

    def prefix_chains(self, spark):
        return list(self._chains(spark, Tracer(False)).values())
