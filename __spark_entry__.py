"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Float-determinism policy: columns that COPY input doubles (lag/ffill/
as-of payloads) are emitted raw — both engines read the same parquet, so
they are bitwise identical. Columns that RE-AGGREGATE doubles are either
computed in DECIMAL (exact, order-insensitive) or rounded to 6 digits on
both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from profet_spark import fixtures
from profet_spark.functions import alphabets as A
from profet_spark.functions import hashing as H
from profet_spark.functions import image_descriptors as imgd
from profet_spark.functions import text_descriptors as td
from profet_spark.functions import textstats as ts
from profet_spark.functions.alphabets import (
    ALPHABET,
    CTD_CLASS_MAPS,
    FLEX_SCALE,
    HYDRO_SCALE,
    R8_MAP,
    translate_pair,
)
from profet_spark.operators import (
    asof,
    batching,
    corpus,
    dedup,
    similarity,
    temporal,
)
from profet_spark.sources import load_table

SF0001 = "/root/testdata/sf0.001"
# frozen golden parquets the image-tier oracles read (next to this file)
_FIXTURES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH", "fixtures")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------- flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship point-in-time pipeline on sf0.001 (SURVEY.md §3.4):
    snapshot stream → as-of join of the purchase stream → forward-fill →
    gap sessionization → expanding leakage-safe stats."""
    ev = _events(spark, SF0001).select("event_id", "user_id", "ts", "event_type", "value")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purch_val"))
    )
    feat = asof.asof_join(
        ev, purchases, entity="user_id", ts="ts", strategy="sort_merge"
    )
    feat = temporal.ffill(feat, ["purch_val"], entity="user_id", ts="ts", tiebreak=["event_id"])
    feat = temporal.sessionize(feat, gap_seconds=3600, entity="user_id", ts="ts", tiebreak=["event_id"])
    feat = temporal.expanding_stats(
        feat, "value", entity="user_id", ts="ts", tiebreak=["event_id"],
        stats=("mean", "count", "max"),
    )
    return feat.select(
        "event_id", "user_id", "ts", "value", "purch_val", "purch_val_ffill",
        "session_id", F.round("value_mean_cum", 6).alias("value_mean_cum"),
        "value_count_cum", "value_max_cum",
    )


# ---------------------------------------------------------------- queries


def _q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    out = temporal.with_lag_lead(ev, ["value"], entity="user_id", ts="ts",
                                 lead=True, tiebreak=["event_id"])
    return out.select("user_id", "ts", "event_id", "value", "value_lag1", "value_lead1")


def _q_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
    )
    return temporal.ffill(ev, ["pv"], entity="user_id", ts="ts", tiebreak=["event_id"]).select(
        "user_id", "ts", "event_id", "pv", "pv_ffill"
    )


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    return temporal.sessionize(ev, gap_seconds=3600, entity="user_id", ts="ts",
                               tiebreak=["event_id"])


def _q_expanding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mean is derived from an exact DECIMAL cumulative sum (order-insensitive,
    # bitwise-reproducible) divided by the count — no float rounding games.
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value",
        F.col("value").cast("decimal(18,2)").alias("vdec"),
    )
    out = temporal.expanding_stats(ev, "value", entity="user_id", ts="ts",
                                   tiebreak=["event_id"],
                                   stats=("min", "max", "count"))
    out = temporal.expanding_stats(out, "vdec", entity="user_id", ts="ts",
                                   tiebreak=["event_id"], stats=("sum",))
    return out.select(
        "user_id", "ts", "event_id", "value",
        (F.col("vdec_sum_cum").cast("double") / F.col("value_count_cum")).alias("mean_cum"),
        F.col("value_min_cum").alias("min_cum"),
        F.col("value_max_cum").alias("max_cum"),
        F.col("value_count_cum").alias("count_cum"),
    )


def _q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = temporal.tumbling_window(
        ev, "1 hour",
        [F.count("*").alias("n"),
         F.sum(F.col("value").cast("decimal(18,2)")).cast("string").alias("sv")],
        entity="user_id", ts="ts",
    )
    return out.select("user_id", "win_start", "n", "sv")


def _q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    return temporal.latest_snapshot(ev, entity="user_id", ts="ts", k=3,
                                    tiebreak=["event_id"])


def _q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type", "value")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purch_val"))
    )
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts", strategy="sort_merge")
    return out.select("user_id", "ts", "event_id", "value", "purch_val")


def _q_asof_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 via the pure-JVM window strategy — same oracle as j3_asof_join
    (strategies are bit-identical by contract)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type", "value")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purch_val"))
    )
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts", strategy="window")
    return out.select("user_id", "ts", "event_id", "value", "purch_val")


def _q_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM (J3×N composition): point-in-time training-matrix assembly —
    TWO feature tables attached to the event spine in ONE Exchange + ONE
    WindowExec (operators/feature_matrix.py). keep_feature_ts emits the
    matched feature timestamps, so the oracle hash-checks the zero-leakage
    invariant itself (every *_asof_ts <= ts). Counts are cast DOUBLE on
    both sides (nullable-int parity convention)."""
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    typed = _events(spark, sf_dir)
    purch = (
        typed.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts").agg(F.max("value").alias("purch_val"))
    )
    clicks = (
        typed.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.count("*").cast("double").alias("n_click"))
    )
    out = fm.point_in_time_matrix(
        ev, {"purch": purch, "click": clicks},
        entity="user_id", ts="ts", keep_feature_ts=True,
    )
    return out.select("user_id", "ts", "event_id", "value", "purch_val",
                      "purch_asof_ts", "n_click", "click_asof_ts")


def _q_embargo_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM embargo variant: the purchase features only become visible 30
    minutes after their event time (label-maturation gap), clicks 10
    minutes — per-table ``embargo_s``. The oracle shifts each feature
    CTE's join ts by the same interval, so the hash check pins the
    shifted-visibility semantics AND the unshifted *_asof_ts audit
    columns (every match >= embargo stale)."""
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    typed = _events(spark, sf_dir)
    purch = (
        typed.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts").agg(F.max("value").alias("purch_val"))
    )
    clicks = (
        typed.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.count("*").cast("double").alias("n_click"))
    )
    out = fm.point_in_time_matrix(
        ev, {"purch": purch, "click": clicks},
        entity="user_id", ts="ts", keep_feature_ts=True,
        embargo_s={"purch": 1800.0, "click": 600.0},
    )
    return out.select("user_id", "ts", "event_id", "value", "purch_val",
                      "purch_asof_ts", "n_click", "click_asof_ts")


def _q_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM3: trailing-window feature aggregates anchored at every spine row
    ("purchases in the 2h before each event") — one rangeBetween window
    over the tagged union, exact int64 microsecond keys. Portability: the
    graded sums are count + an int64 sum (order-insensitive exact) plus
    min/max value COPIES; no float accumulation."""
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir)
    spine = ev.select("user_id", "ts", "event_id")
    purch = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", "ts", F.col("value").alias("pval"),
                     F.col("event_id").alias("f_eid")))
    out = fm.windowed_spine_agg(
        spine, purch,
        {"n_purch": ("count", "pval"), "sum_eid": ("sum", "f_eid"),
         "max_val": ("max", "pval"), "min_val": ("min", "pval")},
        entity="user_id", ts="ts", window_s=7200.0)
    return out.select("user_id", "ts", "event_id", "n_purch", "sum_eid",
                      "max_val", "min_val")


def _q_resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: regularize the event stream onto a 6h epoch-aligned grid with
    as-of value attachment (grid gen + the engine's own as-of join).
    Attached values are COPIES of input doubles — bitwise-safe."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    out = temporal.resample_to_grid(ev, ["value"], entity="user_id",
                                    every_seconds=21600)
    return out.select("user_id", "ts", "value")


def _q_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: exact nearest-rank rolling median over the last 8 snapshots —
    DuckDB quantile_disc convention (rank = ceil(q*n)), value-copy exact.
    q=0.5 is exactly representable, so ceil(q*n) can't diverge in ULPs."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return temporal.rolling_quantile(ev, "value", q=0.5, n=8,
                                     entity="user_id", tiebreak=["event_id"],
                                     out_col="rq")


def _phash64(col: str) -> F.Column:
    """Synthetic 64-bit phash stream from a string column: two md5-derived
    32-bit halves packed two's-complement ((h32-2^31)*2^32 + h32_hi) —
    the engine-portable int64 analog of the input_hint's phash:int64."""
    return (H.h32(col) - F.lit(2 ** 31)) * F.lit(2 ** 32) + H.h32_hi(col)


def _q_phash_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: temporal Hamming-drift profile over a phash stream (the
    north-star 'sliding-window numeric property profile over phash
    streams'): bits flipped vs the previous snapshot, 4-row sliding mean
    (exact int sums, one double division), cumulative flips."""
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", _phash64("props").alias("ph"))
    return temporal.hamming_drift(ev, "ph", entity="user_id",
                                  tiebreak=["event_id"], mean_window=4)


_W12_N, _W12_DECAY = 6, 0.6


def _q_decayed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: bounded exponential-decay (half-life) sum/weight/mean over the
    last 6 snapshots, decay 0.6 — deliberately NON-dyadic to exercise the
    full portability contract (driver-computed weight literals + fixed
    left-fold order ⇒ bitwise-equal doubles in Spark and DuckDB)."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    out = temporal.decayed_stats(ev, "value", n=_W12_N, decay=_W12_DECAY,
                                 entity="user_id", tiebreak=["event_id"])
    return out.select("user_id", "ts", "event_id",
                      f"value_dsum{_W12_N}", f"value_dwt{_W12_N}",
                      f"value_dmean{_W12_N}")


def _w12_oracle_sql() -> str:
    """DuckDB twin of _q_decayed_stats: the SAME Python-computed weight
    literals (repr round-trips to the identical double) in the SAME
    left-fold operand order."""
    n, decay = _W12_N, _W12_DECAY
    lags = ",\n                 ".join(
        f"lag(v, {k}) OVER w AS v{k}" for k in range(1, n))
    term = lambda k: (  # noqa: E731
        f"CASE WHEN v{k or ''} IS NOT NULL THEN v{k or ''} * {decay ** k!r} "
        f"ELSE 0.0 END")
    wgt = lambda k: (  # noqa: E731
        f"CASE WHEN v{k or ''} IS NOT NULL THEN {decay ** k!r} ELSE 0.0 END")
    dsum = " + ".join(term(k) for k in range(n))
    dwt = " + ".join(wgt(k) for k in range(n))
    return f"""
        WITH b AS (
          SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS v
          FROM events),
        l AS (
          SELECT user_id, ts, event_id, v,
                 {lags}
          FROM b
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (
          SELECT user_id, ts, event_id,
                 {dsum} AS value_dsum{n},
                 {dwt} AS value_dwt{n}
          FROM l)
        SELECT user_id, ts, event_id, value_dsum{n}, value_dwt{n},
               CASE WHEN value_dwt{n} > 0.0
                    THEN value_dsum{n} / value_dwt{n} END AS value_dmean{n}
        FROM s
    """


def _q_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM2: zero-temporal-leakage audit of the fm_training_matrix output —
    per feature: coverage, violation count (must be 0), exact microsecond
    staleness extrema/total. The north rule's leakage invariant as a
    first-class graded operator, not just a test."""
    from profet_spark.operators import feature_matrix as fm

    matrix = _q_feature_matrix(spark, sf_dir)
    return fm.leakage_audit(matrix)


_FM4_SPLIT = "2024-01-16 00:00:00"
_FM4_BINS = 10
_FM5_KW = dict(n_folds=5, val_fold=2, embargo_s=86400.0, purge_s=43200.0)


def _q_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM4: distribution-drift histograms (PSI binning) between the first
    and second half of the event stream, for two features. Graded columns
    are exact ints plus single-division proportions and the identical-
    formula bin edges; psi_term (ln) is allclose-tested in pytest, not
    hash-graded."""
    from profet_spark.operators import feature_matrix as fm

    base = _events(spark, sf_dir).select(
        "ts", F.col("value").cast("double").alias("value"),
        F.length("props").cast("double").alias("plen"))
    split = F.lit(_FM4_SPLIT).cast("timestamp")
    out = fm.feature_drift(base.where(F.col("ts") < split),
                           base.where(F.col("ts") >= split),
                           ["value", "plen"], n_bins=_FM4_BINS)
    return out.select("feature", "bin", "bin_lo", "bin_hi",
                      "n_ref", "n_cur", "p_ref", "p_cur")


def _fm4_oracle_sql() -> str:
    """DuckDB twin of _q_feature_drift — identical IEEE expression text
    for the bin id, edges, and proportions (exact-int counts, one
    division each)."""
    n, split = _FM4_BINS, _FM4_SPLIT
    return f"""
        WITH base AS (
          SELECT ts, CAST(value AS DOUBLE) AS value,
                 CAST(length(props) AS DOUBLE) AS plen
          FROM events),
        pairs AS (
          SELECT 0 AS side, 'plen' AS feature, plen AS v FROM base
          WHERE ts < TIMESTAMP '{split}' AND plen IS NOT NULL
          UNION ALL
          SELECT 0, 'value', value FROM base
          WHERE ts < TIMESTAMP '{split}' AND value IS NOT NULL
          UNION ALL
          SELECT 1, 'plen', plen FROM base
          WHERE ts >= TIMESTAMP '{split}' AND plen IS NOT NULL
          UNION ALL
          SELECT 1, 'value', value FROM base
          WHERE ts >= TIMESTAMP '{split}' AND value IS NOT NULL),
        edges AS (
          SELECT feature, min(v) AS lo, max(v) AS hi
          FROM pairs WHERE side = 0 GROUP BY 1),
        binned AS (
          SELECT p.side, p.feature,
                 CASE WHEN e.hi = e.lo THEN CAST(1 AS BIGINT)
                      ELSE 1 + CAST(floor(least(greatest(
                               ((p.v - e.lo) * {float(n)!r}) / (e.hi - e.lo),
                               0.0), {float(n - 1)!r})) AS BIGINT)
                 END AS bin
          FROM pairs p JOIN edges e USING (feature)),
        counts AS (
          SELECT feature, bin,
                 CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                 CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
          FROM binned GROUP BY 1, 2),
        spine AS (
          SELECT e.feature, e.lo, e.hi, CAST(b.bin AS BIGINT) AS bin
          FROM edges e, (SELECT unnest(range(1, {n + 1})) AS bin) b),
        hist AS (
          SELECT s.feature, s.bin, s.lo, s.hi,
                 coalesce(c.n_ref, CAST(0 AS BIGINT)) AS n_ref,
                 coalesce(c.n_cur, CAST(0 AS BIGINT)) AS n_cur
          FROM spine s LEFT JOIN counts c
            ON s.feature = c.feature AND s.bin = c.bin),
        tot AS (
          SELECT *, CAST(sum(n_ref) OVER (PARTITION BY feature) AS BIGINT) AS tr,
                 CAST(sum(n_cur) OVER (PARTITION BY feature) AS BIGINT) AS tc
          FROM hist)
        SELECT feature, bin,
               lo + CAST(bin - 1 AS DOUBLE) * ((hi - lo) / {float(n)!r}) AS bin_lo,
               CASE WHEN bin = {n} THEN hi
                    ELSE lo + CAST(bin AS DOUBLE) * ((hi - lo) / {float(n)!r})
               END AS bin_hi,
               n_ref, n_cur,
               CASE WHEN tr > 0
                    THEN CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) END AS p_ref,
               CASE WHEN tc > 0
                    THEN CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE) END AS p_cur
        FROM tot
    """


def _q_purged_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM5: purged k-fold time-series CV roles with embargo over the event
    spine — fold 2 validation, 12h label purge, 24h embargo. Pure int64
    microsecond arithmetic end-to-end, so fold AND role hash-grade."""
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    out = fm.purged_cv_roles(ev, ts="ts", **_FM5_KW)
    return out.select("user_id", "ts", "event_id", "fold", "cv_role")


def _q_walk_forward_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM5 walk-forward variant: the classic backtest split — train
    strictly on the past, post-val folds marked 'future'. Same exact
    int64 fold grid, hash-graded."""
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    out = fm.purged_cv_roles(ev, ts="ts", scheme="walk_forward", **_FM5_KW)
    return out.select("user_id", "ts", "event_id", "fold", "cv_role")


def _fm5_oracle_sql(walk_forward: bool = False) -> str:
    """DuckDB twin of _q_purged_cv / _q_walk_forward_cv: same exact-int
    fold grid; `//` floors but every numerator is clamped non-negative,
    so it agrees with Spark's truncating DIV bit-for-bit."""
    n, k = _FM5_KW["n_folds"], _FM5_KW["val_fold"]
    emb = int(round(_FM5_KW["embargo_s"] * 1_000_000))
    pur = int(round(_FM5_KW["purge_s"] * 1_000_000))
    fold = lambda shift: (  # noqa: E731
        f"least(CAST({n - 1} AS BIGINT), "
        f"(greatest(us + CAST({shift} AS BIGINT), lo) - lo) * {n} "
        f"// (hi - lo + 1))")
    future_arm = (f"WHEN fold > {k} THEN 'future'" if walk_forward else "")
    return f"""
        WITH b AS (
          SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
          FROM events),
        r AS (
          SELECT user_id, ts, event_id, epoch_us(ts) AS us, b.lo, b.hi
          FROM events, b),
        f AS (
          SELECT user_id, ts, event_id,
                 {fold(0)} AS fold,
                 {fold(pur)} AS fold_p,
                 {fold(-emb)} AS fold_e
          FROM r)
        SELECT user_id, ts, event_id, fold,
               CASE WHEN fold = {k} THEN 'val'
                    WHEN fold < {k} AND fold_p >= {k} THEN 'purged'
                    WHEN fold > {k} AND fold_e <= {k} THEN 'purged'
                    {future_arm}
                    ELSE 'train' END AS cv_role
        FROM f
    """


_FE2_M, _FE2_PRIOR = 8.0, 50.0


def _q_entity_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FM5c: entity-grouped CV folds — every row of a user lands in one
    fold (salted portable-h32 % n), the grouped-leakage complement of the
    temporal split. Pure projection; hash-grades bit-for-bit."""
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    out = fm.assign_entity_folds(ev, entity="user_id", n_folds=4)
    return out.select("user_id", "ts", "event_id", "fold")


def _fm5c_oracle_sql() -> str:
    h = H.h32_sql_duckdb("'cv:' || CAST(user_id AS VARCHAR)")
    return f"""
        SELECT user_id, ts, event_id,
               CAST({h} % 4 AS BIGINT) AS fold
        FROM events
    """


def _q_split_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FE1 (×FM5 composition): purged-CV roles → fit standardization
    stats on the TRAIN slice only → apply z-scores to every row. The
    leakage-safe scaler end-to-end: stats are exact decimal sums, the
    z/mean/std derivations are mirrored IEEE text, so the whole
    composition hash-grades."""
    from profet_spark.operators import encoding as enc
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", F.col("value").cast("double").alias("value"),
        F.length("props").cast("double").alias("plen"))
    roles = fm.purged_cv_roles(ev, ts="ts", **_FM5_KW)
    fit = enc.fit_feature_scaler(
        roles.where(F.col("cv_role") == "train"), ["value", "plen"])
    out = enc.apply_feature_scaler(roles, fit, ["value", "plen"])
    return out.select("event_id", "ts", "cv_role", "value_z", "plen_z")


def _fe1_oracle_sql() -> str:
    """DuckDB twin of _q_split_scaler: same fold/role CTEs as FM5, fit
    CTE over exact DECIMAL(18,6) sums, mirrored mean/var/std/z text
    (sqrt is correctly rounded ⇒ bit-portable)."""
    n, k = _FM5_KW["n_folds"], _FM5_KW["val_fold"]
    emb = int(round(_FM5_KW["embargo_s"] * 1_000_000))
    pur = int(round(_FM5_KW["purge_s"] * 1_000_000))
    fold = lambda shift: (  # noqa: E731
        f"least(CAST({n - 1} AS BIGINT), "
        f"(greatest(us + CAST({shift} AS BIGINT), lo) - lo) * {n} "
        f"// (hi - lo + 1))")
    stats = lambda c: (  # noqa: E731
        f"count({c}) AS n_{c}, "
        f"CAST(sum(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS s_{c}, "
        f"CAST(sum(CAST({c} AS DECIMAL(18,6)) * CAST({c} AS DECIMAL(18,6)))"
        f" AS DOUBLE) AS ss_{c}")
    # mirrored text of encoding.fit_feature_scaler's mean/var/std chain
    std = lambda c: (  # noqa: E731
        f"CASE WHEN n_{c} >= 2 THEN sqrt(greatest("
        f"(ss_{c} - s_{c} * (s_{c} / CAST(n_{c} AS DOUBLE)))"
        f" / (CAST(n_{c} AS DOUBLE) - 1.0), 0.0)) END")
    z = lambda c: (  # noqa: E731
        f"CASE WHEN sd_{c} > 0 THEN ({c} - m_{c}) / sd_{c} END")
    return f"""
        WITH b AS (
          SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
          FROM events),
        r AS (
          SELECT event_id, ts, CAST(value AS DOUBLE) AS value,
                 CAST(length(props) AS DOUBLE) AS plen,
                 epoch_us(ts) AS us, b.lo, b.hi
          FROM events, b),
        f AS (
          SELECT *, {fold(0)} AS fold, {fold(pur)} AS fold_p,
                 {fold(-emb)} AS fold_e
          FROM r),
        roled AS (
          SELECT event_id, ts, value, plen,
                 CASE WHEN fold = {k} THEN 'val'
                      WHEN fold < {k} AND fold_p >= {k} THEN 'purged'
                      WHEN fold > {k} AND fold_e <= {k} THEN 'purged'
                      ELSE 'train' END AS cv_role
          FROM f),
        fit AS (
          SELECT {stats('value')}, {stats('plen')}
          FROM roled WHERE cv_role = 'train'),
        sc AS (
          SELECT n_value, s_value / CAST(n_value AS DOUBLE) AS m_value,
                 {std('value')} AS sd_value,
                 n_plen, s_plen / CAST(n_plen AS DOUBLE) AS m_plen,
                 {std('plen')} AS sd_plen
          FROM fit)
        SELECT event_id, ts, cv_role,
               {z('value')} AS value_z,
               {z('plen')} AS plen_z
        FROM roled, sc
    """


def _q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FE2: time-aware target encoding of event_type by value — expanding
    strictly-prior category mean (no self, no future), raw and smoothed
    (m=8 toward prior 50). Exact decimal sums; the encoding is one
    mirrored division, so both variants hash-grade."""
    from profet_spark.operators import encoding as enc

    ev = _events(spark, sf_dir).select("event_id", "ts", "event_type",
                                       "value")
    out = enc.time_aware_target_encode(
        ev, "event_type", "value", ts="ts", tiebreak=["event_id"],
        out_col="te_raw")
    out = enc.time_aware_target_encode(
        out, "event_type", "value", ts="ts", tiebreak=["event_id"],
        smoothing=_FE2_M, prior=_FE2_PRIOR, out_col="te_smooth")
    return out.select("event_id", "ts", "event_type", "value",
                      "te_raw", "te_smooth")


def _fe2_oracle_sql() -> str:
    """DuckDB twin of _q_target_encode — same strictly-prior frame over
    the same total order, exact decimal sums, mirrored encoding text
    (the m=0 variant keeps the algebraically-dead `+ 0.0 * prior` term
    so the expression text stays identical)."""
    m, p = _FE2_M, _FE2_PRIOR
    enc = lambda mm, pp: (  # noqa: E731
        f"CASE WHEN CAST(n_prev AS DOUBLE) + {mm!r} > 0 THEN "
        f"(coalesce(s_prev, 0.0) + {mm!r} * {pp!r})"
        f" / (CAST(n_prev AS DOUBLE) + {mm!r}) END")
    return f"""
        WITH w AS (
          SELECT event_id, ts, event_type, value,
                 count(CAST(value AS DECIMAL(18,6))) OVER win AS n_prev,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE)
                   AS s_prev
          FROM events
          WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        SELECT event_id, ts, event_type, value,
               {enc(0.0, 0.0)} AS te_raw,
               {enc(m, p)} AS te_smooth
        FROM w
    """


def _q_profile_audit_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9-W12+FM2-FM5 merged suite: one graded row covers grid resampling,
    rolling quantile, phash drift, the leakage audit, decayed stats, the
    trailing-window aggregates, the drift histograms, and the purged CV
    roles. Generic layout (part, e, t, s, i1-i4, x1) with explicit casts;
    -1 sentinels only where a column is never semantically NULL."""
    i64 = lambda v: F.lit(v).cast("bigint")  # noqa: E731
    ev = _events(spark, sf_dir)
    tz = ev.schema["ts"].dataType
    null_t = F.lit(None).cast(tz)

    grid = _q_resample_grid(spark, sf_dir).select(
        F.lit("grid").alias("part"), F.col("user_id").alias("e"),
        F.col("ts").alias("t"), F.lit("").alias("s"),
        i64(-1).alias("i1"), i64(-1).alias("i2"), i64(-1).alias("i3"),
        i64(-1).alias("i4"), F.col("value").alias("x1"))
    rq = _q_rolling_quantile(spark, sf_dir).select(
        F.lit("rq").alias("part"), F.col("user_id").alias("e"),
        F.col("ts").alias("t"), F.lit("").alias("s"),
        F.col("event_id").alias("i1"), i64(-1).alias("i2"),
        i64(-1).alias("i3"), i64(-1).alias("i4"), F.col("rq").alias("x1"))
    drift = _q_phash_drift(spark, sf_dir).select(
        F.lit("drift").alias("part"), F.col("user_id").alias("e"),
        F.col("ts").alias("t"), F.lit("").alias("s"),
        F.col("event_id").alias("i1"), F.col("ph_drift").alias("i2"),
        F.col("ph_drift_cum").alias("i3"), F.col("ph").alias("i4"),
        F.col("ph_drift_mean4").alias("x1"))
    audit = _q_leakage_audit(spark, sf_dir).select(
        F.lit("audit").alias("part"), i64(-1).alias("e"),
        null_t.alias("t"), F.col("feature").alias("s"),
        F.col("n_rows").alias("i1"), F.col("n_matched").alias("i2"),
        F.col("n_violations").alias("i3"),
        F.col("max_staleness_us").alias("i4"),
        F.col("sum_staleness_us").cast("double").alias("x1"))
    dec = _q_decayed_stats(spark, sf_dir)
    decay_parts = [
        dec.select(
            F.lit(tag).alias("part"), F.col("user_id").alias("e"),
            F.col("ts").alias("t"), F.lit("").alias("s"),
            F.col("event_id").alias("i1"), i64(-1).alias("i2"),
            i64(-1).alias("i3"), i64(-1).alias("i4"),
            F.col(c).alias("x1"))
        for tag, c in [("dsum", f"value_dsum{_W12_N}"),
                       ("dwt", f"value_dwt{_W12_N}"),
                       ("dmean", f"value_dmean{_W12_N}")]]
    wagg = _q_windowed_agg(spark, sf_dir).select(
        F.lit("wagg").alias("part"), F.col("user_id").alias("e"),
        F.col("ts").alias("t"), F.lit("").alias("s"),
        F.col("event_id").alias("i1"), F.col("n_purch").alias("i2"),
        F.col("sum_eid").alias("i3"), i64(-1).alias("i4"),
        F.col("max_val").alias("x1"))
    fd = _q_feature_drift(spark, sf_dir)
    fd_parts = [
        fd.select(F.lit(tag).alias("part"), i64(-1).alias("e"),
                  null_t.alias("t"), F.col("feature").alias("s"),
                  F.col("bin").alias("i1"), F.col("n_ref").alias("i2"),
                  F.col("n_cur").alias("i3"), i64(-1).alias("i4"),
                  F.col(c).alias("x1"))
        for tag, c in [("fdr", "p_ref"), ("fdc", "p_cur")]]
    cv = _q_purged_cv(spark, sf_dir).select(
        F.lit("cv").alias("part"), F.col("user_id").alias("e"),
        F.col("ts").alias("t"), F.col("cv_role").alias("s"),
        F.col("event_id").alias("i1"), F.col("fold").alias("i2"),
        i64(-1).alias("i3"), i64(-1).alias("i4"),
        F.lit(-1.0).alias("x1"))
    ecv = _q_entity_folds(spark, sf_dir).select(
        F.lit("ecv").alias("part"), F.col("user_id").alias("e"),
        F.col("ts").alias("t"), F.lit("").alias("s"),
        F.col("event_id").alias("i1"), F.col("fold").alias("i2"),
        i64(-1).alias("i3"), i64(-1).alias("i4"),
        F.lit(-1.0).alias("x1"))
    scal = _q_split_scaler(spark, sf_dir)
    sc_parts = [
        scal.select(F.lit(tag).alias("part"), F.col("event_id").alias("e"),
                    F.col("ts").alias("t"), F.col("cv_role").alias("s"),
                    i64(-1).alias("i1"), i64(-1).alias("i2"),
                    i64(-1).alias("i3"), i64(-1).alias("i4"),
                    F.col(c).alias("x1"))
        for tag, c in [("scv", "value_z"), ("scp", "plen_z")]]
    te = _q_target_encode(spark, sf_dir)
    te_parts = [
        te.select(F.lit(tag).alias("part"), F.col("event_id").alias("e"),
                  F.col("ts").alias("t"), F.col("event_type").alias("s"),
                  i64(-1).alias("i1"), i64(-1).alias("i2"),
                  i64(-1).alias("i3"), i64(-1).alias("i4"),
                  F.col(c).alias("x1"))
        for tag, c in [("te", "te_raw"), ("tes", "te_smooth")]]
    out = grid.unionByName(rq).unionByName(drift).unionByName(audit)
    for p in decay_parts + [wagg] + fd_parts + [cv, ecv] + sc_parts + te_parts:
        out = out.unionByName(p)
    return out


def _q_lag_ffill_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3+W4 merged suite (frees one grading-window slot for the profile
    suite): lag/lead rows and ffill rows in one generic layout."""
    lag = _q_lag_lead(spark, sf_dir).select(
        F.lit("lag").alias("part"), "user_id", "ts", "event_id",
        F.col("value").alias("x1"), F.col("value_lag1").alias("x2"),
        F.col("value_lead1").alias("x3"))
    ff = _q_ffill(spark, sf_dir).select(
        F.lit("ffill").alias("part"), "user_id", "ts", "event_id",
        F.col("pv").alias("x1"), F.col("pv_ffill").alias("x2"),
        F.lit(-1.0).alias("x3"))
    return lag.unionByName(ff)


def _q_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("count_order"),
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_quantity").alias("avg_qty"),
            F.sum(dec("l_extendedprice")).alias("sum_base"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
            ).alias("sum_disc_price"),
        )
        .select("l_returnflag", "l_linestatus", "count_order", "sum_qty",
                F.round("avg_qty", 6).alias("avg_qty"),
                F.col("sum_base").cast("string").alias("sum_base"),
                F.col("sum_disc_price").cast("string").alias("sum_disc_price"))
    )


def _q_bcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("string").alias("total"))
    )


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 anti temporal join: users with NO large purchase event
    (value > 200), with their total event count. The earlier
    customers-without-orders form returned ZERO rows at every testdata
    SF (the synthetic keys are dense), making the graded signal
    vacuous; this predicate leaves a real survivor set (11 users at
    sf0.001, 118 at sf0.01)."""
    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    big = ev.where((F.col("event_type") == "purchase")
                   & (F.col("value") > 200))
    return per_user.join(big, "user_id", "left_anti")


# NB: DuckDB regexp_replace needs the 'g' flag (Spark's is global by default)
_NORM = "regexp_replace(upper({c}), '[^A-Z]', '', 'g')"
_HYD_SRC, _HYD_DST = translate_pair(CTD_CLASS_MAPS["hydrophobicity"])
_R8_SRC, _R8_DST = translate_pair(R8_MAP)


def _q_char_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 in SQL-expressible long form: per-document letter frequencies."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.upper("text"), "[^A-Z]", "")
    return (
        docs.select("doc_id", norm.alias("s"))
        .where(F.length("s") > 0)
        .select("doc_id", F.length("s").alias("slen"), F.explode(F.split("s", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"), (F.count("*") / F.first("slen")).alias("freq"))
    )


def _q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 Shannon entropy per document (rounded: libm log2 differs in ULPs)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.upper("text"), "[^A-Z]", "")
    chars = (
        docs.select("doc_id", norm.alias("s"))
        .where(F.length("s") > 0)
        .select("doc_id", F.length("s").alias("slen"), F.explode(F.split("s", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg((F.count("*") / F.first("slen")).alias("p"))
    )
    return chars.groupBy("doc_id").agg(
        F.round(F.sum(-F.col("p") * F.log2("p")), 9).alias("entropy")
    )


def _q_ctd_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 CTD-Composition, hydrophobicity property, via JVM translate."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.upper("text"), "[^A-Z]", "")
    t = F.translate(norm, _HYD_SRC, _HYD_DST)
    d = docs.select("doc_id", t.alias("t")).where(F.length("t") > 0)
    cnt = lambda c: F.length("t") - F.length(F.regexp_replace("t", c, ""))
    return d.select(
        "doc_id",
        (cnt("1") / F.length("t")).alias("c1"),
        (cnt("2") / F.length("t")).alias("c2"),
        (cnt("3") / F.length("t")).alias("c3"),
    )


def _q_ctd_trans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 CTD-Transition, hydrophobicity property, via bigram explode."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.upper("text"), "[^A-Z]", "")
    t = F.translate(norm, _HYD_SRC, _HYD_DST)
    d = docs.select("doc_id", t.alias("t")).where(F.length("t") > 1)
    bi = d.select(
        "doc_id", (F.length("t") - 1).alias("nt"),
        F.explode(F.sequence(F.lit(1), F.length("t") - 1)).alias("i"),
        F.col("t"),
    ).select("doc_id", "nt", F.substring(F.col("t"), F.col("i").cast("int"), 2).alias("bg"))
    agg = lambda pair: F.sum(F.when(F.col("bg").isin(*pair), 1).otherwise(0))
    return bi.groupBy("doc_id").agg(
        (agg(["12", "21"]) / F.first("nt")).alias("t12"),
        (agg(["13", "31"]) / F.first("nt")).alias("t13"),
        (agg(["23", "32"]) / F.first("nt")).alias("t23"),
    )


def _q_doc_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 validity + length filters, pushed to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.where((F.col("n_chars") >= 50) & (F.col("n_chars") <= 2000))
        .where(F.length(F.regexp_replace(F.upper("text"), "[^A-Z]", "")) >= 20)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 JSON scalar extraction on events.props."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"), F.max("k").alias("max_k"))
    )


def _q_profet_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ProFET-analog descriptor struct (340 features) over
    documents — not SQL-expressible; golden-vector tested in pytest
    (tests/test_descriptors.py), driver records rows-only."""
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed("text", "caption")
    return td.add_caption_features(docs, flatten=True).drop("caption")


def _q_profet_sql_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A bitwise-safe SQL-oracle slice THROUGH the full 340-feature Arrow
    kernel: the selected features (letter compositions, length, CTD
    composition) are single divisions of exact integers, so the kernel's
    numpy values and the DuckDB SQL twin agree bit for bit — the driver
    itself verifies the production kernel, not just pytest. (Accumulation
    features — entropy, gravy, profiles — are golden-tested instead:
    float sum order isn't portable.)"""
    docs = load_table(spark, sf_dir, "documents").withColumnRenamed("text", "caption")
    out = td.add_caption_features(docs, flatten=True)
    return out.select(
        "doc_id", "length", "comp_A", "comp_E", "comp_T",
        "ctd_hydrophobicity_c1", "ctd_hydrophobicity_c2", "ctd_hydrophobicity_c3",
        # k2_12: distinct-digit bigram, so occurrences cannot self-overlap
        # and the oracle's replace-count is exact
        "k2_12", "term_n_1", "term_c_1",
    )


def _q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native image+caption snapshot pipeline (BASELINE.json input_hint):
    deterministic fixture → mapInPandas pixel decode + stats → phash
    Hamming-to-previous. Not SQL-expressible (binary codecs); covered by
    golden pixel tests in tests/test_pipeline.py — driver records
    rows-only."""
    pdf = fixtures.make_fixture(n_entities=80)
    df = fixtures.to_spark(spark, pdf)
    out = imgd.add_image_features(df)
    out = imgd.phash_hamming_to_prev(out)
    # phash_dct: the true DCT perceptual hash computed FROM pixels
    # (imaging.phash_dct, golden-tested vs a textbook O(n^4) DCT) —
    # feeds the same D8 pigeonhole pair machinery as the stored phash.
    # Round 5: hash-graded against the frozen direct-from-pixels
    # goldens (same contract as image_features_sql_slice)
    return out.select("image_id",
                      F.col("ts").cast("timestamp_ntz").alias("ts"),
                      "w", "h", "fmt", "lum_mean", "lum_var",
                      "edge_density", "rowprof_mean", "phash", "phash_dct",
                      F.col("phash_hamming_prev").cast("int")
                      .alias("phash_hamming_prev"))


def _q_image_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-tier SQL slice (round 5, VERDICT r4 ask #5): the
    bitwise-gradable columns of the image snapshot pipeline, driven
    through the REAL machinery — deterministic fixture → PNG/PPM encode
    → mapInPandas decode + pixel stats → phash lag window — and graded
    against BENCH/fixtures/image_slice_golden.parquet, whose stat
    columns were frozen DIRECTLY from the pre-encode pixel arrays
    (BENCH/freeze_image_goldens.py; no codec in the freeze path). A
    hash-green row certifies codec roundtrip + Arrow batch plumbing +
    stats arithmetic + the C8+W3 hamming-drift window, bit for bit.
    The remaining non-gradable kernels (decode_ok failure mapping,
    dhash, resize) stay numpy-golden-pinned in pytest."""
    return _q_image_pipeline(spark, sf_dir)


def _q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing (task mandate): deterministic image
    fixture → nearest-neighbor resize (decode→resample→re-encode) →
    pixel stats on the RESIZED payload, plus rawvid frame sampling on a
    derived per-entity clip. Binary codecs aren't SQL-expressible —
    rows-only to the driver; numpy ground-truth equality is asserted in
    tests/test_multimodal.py."""
    from profet_spark.functions import multimodal as mm
    pdf = fixtures.make_fixture(n_entities=24, img_sizes=(16, 32))
    df = fixtures.to_spark(spark, pdf).select("image_id", "ts", "bytes", "w", "h", "fmt")
    resized = mm.resize_images(df, 8, 8)
    return imgd.add_image_features(resized).select(
        "image_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        "w", "h", "fmt", "lum_mean", "lum_var", "edge_density")



def _q_multimodal_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize tier, graded BITWISE (round 5): the REAL
    pipeline — fixture → PNG/PPM encode → mapInPandas decode →
    nearest-neighbor 8×8 resample → PPM re-encode → second decode →
    pixel stats — against BENCH/fixtures/resize_slice_golden.parquet,
    whose stats were frozen from _resize_nn over the RAW pre-encode
    pixel arrays (no codec in the freeze path). A hash-green row
    certifies BOTH codec roundtrips plus the resample plumbing bit for
    bit; the video/audio kernels stay numpy-golden-pinned in
    tests/test_multimodal.py."""
    return _q_multimodal(spark, sf_dir)


def _q_image_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image curation gate (functions/image_descriptors.py curate_images):
    metadata tier (resolution/aspect/format — Catalyst predicates, bytes
    of rejects never decoded, reject-branch scan prunes the binary column:
    plan-asserted) then pixel tier (decode_ok, exposure bounds, flat and
    blur floors) over the deterministic image fixture. Binary codecs are
    not SQL-expressible — rows-only to the driver; planted-defect ground
    truth in tests/test_descriptors.py::test_curate_images_two_tier_gate.
    The F1/F2 validity-gate shape of [R] FastaFilter.py ~L20-90 on the
    image payload."""
    pdf = fixtures.make_fixture(n_entities=60, img_sizes=(16, 32))
    df = fixtures.to_spark(spark, pdf).select(
        "image_id", "ts", "bytes", "w", "h", "fmt")
    # plant deterministic metadata defects (salted-hash selected) so the
    # gate demonstrably rejects: ~1/13 get a disallowed format, ~1/17 a
    # sub-floor resolution — their bytes are never decoded
    sel = H.h32(F.col("image_id"))
    df = (df.withColumn("fmt", F.when(F.pmod(sel, F.lit(13)) == 0,
                                      F.lit("jpg")).otherwise(F.col("fmt")))
          .withColumn("w", F.when(F.pmod(sel, F.lit(17)) == 0,
                                  F.lit(4)).otherwise(F.col("w"))))
    out = imgd.curate_images(df, min_w=16, min_h=16, max_aspect=4.0,
                             fmts=("png", "ppm"), lum_bounds=(1.0, 254.0),
                             min_lum_var=0.0)
    return out.select("image_id",
                      F.col("ts").cast("timestamp_ntz").alias("ts"),
                      "w", "h", "fmt", "meta_ok",
                      "pixel_ok", "keep_image", "reject_reason", "lum_mean")


def _q_bigram_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 k-mer (k=2) composition over the hydrophobicity-reduced alphabet,
    SQL-expressible long form (wide struct form is golden-tested in
    profet_caption_features)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.upper("text"), "[^A-Z]", "")
    t = F.translate(norm, _HYD_SRC, _HYD_DST)
    d = docs.select("doc_id", t.alias("t")).where(F.length("t") > 1)
    return (
        d.select(
            "doc_id", (F.length("t") - 1).alias("nk"),
            F.explode(F.sequence(F.lit(1), F.length("t") - 1)).alias("i"),
            F.col("t"),
        )
        .select("doc_id", "nk", F.substring(F.col("t"), F.col("i").cast("int"), 2).alias("kmer"))
        .groupBy("doc_id", "kmer")
        .agg(F.count("*").alias("cnt"), (F.count("*") / F.first("nk")).alias("freq"))
    )


def _q_terminal_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 terminal-segment projection: char composition of the first 60
    normalized chars (N-terminal analog) per document."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.upper("text"), "[^A-Z]", "")
    seg = F.substring(norm, 1, 60)
    return (
        docs.select("doc_id", seg.alias("s"))
        .where(F.length("s") > 0)
        .select("doc_id", F.length("s").alias("slen"),
                F.explode(F.split("s", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").alias("cnt"), (F.count("*") / F.first("slen")).alias("freq"))
    )


# ------------------------------------------- training-data pipeline ops
# (dedup / similarity / text analysis — task mandate beyond ProFET's set)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ts.add_language_id(docs).select("doc_id", "lang", "pred_lang", "pred_score")


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ts.add_quality_features(docs).select(
        "doc_id", "n_tokens", "mean_tok_len", "alpha_ratio",
        "stopword_ratio", "quality_score")


def _q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ts.add_token_counts(docs).select("doc_id", "ws_tokens", "bpe_tokens")


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ts.add_fingerprint(docs).select("doc_id", "fp_minhash", "fp_windows")


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id", "content_fp")


def _q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: Gopher-style within-document repetition features (duplicate
    n-gram mass + top-n-gram mass for n in {2,3}; exact-int ratios)."""
    docs = load_table(spark, sf_dir, "documents")
    return ts.add_repetition_features(docs).select(
        "doc_id", "dup_2gram_frac", "top_2gram_frac",
        "dup_3gram_frac", "top_3gram_frac")


def _q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: corpus-level duplicated-segment removal (C4-style line dedup;
    fixed-width word segmenter — the synthetic corpus has no newlines,
    real line mode is delimiter='\\n', tested in tests/test_dedup.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.drop_duplicate_segments(docs, width=8)


def _q_fp_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: generic 64-bit hamming_pairs over the T4 minhash fingerprint
    column (pigeonhole 16-bit-block join — the D4 machinery on an
    arbitrary precomputed signature). The -1 no-window sentinel rows are
    excluded (they would otherwise form an artificial hamming-0 cluster)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = (ts.add_fingerprint(docs)
          .where(F.col("fp_minhash") >= 0).select("doc_id", "fp_minhash"))
    return dedup.hamming_pairs(fp, id_col="doc_id", bits_col="fp_minhash",
                               max_hamming=3)


def _q_phash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 image adapter: near-dup image pairs by phash Hamming distance
    over the native snapshot fixture (input_hint shape), with the
    max_bucket skew guard active against the fixture's planted hot-phash
    cluster. Fixture-backed (no sf image table) — rows-only to the
    driver; exactness vs a numpy brute force is asserted in
    tests/test_dedup.py."""
    pdf = fixtures.make_fixture(n_entities=80)
    df = fixtures.to_spark(spark, pdf).select("image_id", "ts", "phash")
    latest = df.groupBy("image_id").agg(F.max_by("phash", "ts").alias("phash"))
    return dedup.phash_dup_pairs(latest, max_hamming=3, max_bucket=16)


def _q_image_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8×D6 image keep-one near-dedup, graded BITWISE (round 5): the
    full composition — uncapped pigeonhole hamming pairs (≤3 bits) on
    the stored perceptual hash of each entity's latest snapshot →
    connected components → keep-min-id anti-join
    (dedup.drop_near_duplicate_images, stored-hash mode: bytes never
    read) — against a DuckDB oracle that recomputes pairs with
    bit_count(xor) and the components with a recursive CTE over the
    SAME frozen fixture table the image slice grades against. The
    fixture's collapsed average-hashes (hundreds of hamming-0 pairs)
    make the cluster structure non-trivial. The capped production
    variant (max_bucket=16 vs the planted mega-cluster) stays
    rows-only as d8_phash_dup_pairs + numpy-asserted."""
    pdf = fixtures.make_fixture(n_entities=80)
    df = fixtures.to_spark(spark, pdf)
    latest = df.groupBy("image_id").agg(
        F.max_by("phash", "ts").alias("phash"))
    kept = dedup.drop_near_duplicate_images(
        latest, hash_col="phash", max_hamming=3, max_bucket=None)
    return kept.select("image_id", "phash")


def _q_exact_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1+D7 merged suite: exact-dedup survivors AND the duplicated-
    segment-removal rewrite, tagged by ``part`` so one graded driver row
    covers both corpus-dedup operators. -1 sentinels (never NULL) keep
    integer dtype kinds unambiguous for the driver value hash."""
    docs = load_table(spark, sf_dir, "documents")
    d1 = dedup.exact_dedup(docs).select(
        F.lit("doc").alias("part"), "doc_id",
        F.col("content_fp").alias("txt"),
        F.lit(-1).cast("int").alias("n_a"),
        F.lit(-1).cast("int").alias("n_b"))
    d7 = dedup.drop_duplicate_segments(docs, width=8).select(
        F.lit("seg").alias("part"), "doc_id",
        F.col("new_text").alias("txt"),
        F.col("n_segments").alias("n_a"),
        F.col("n_kept").alias("n_b"))
    return d1.unionByName(d7)


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5)


def _q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5)


def _q_lsh_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3+D6 merged suite: the MinHash-LSH pair edges AND the connected
    components over them, tagged by ``part`` so one graded driver row
    covers both operators. Cluster rows carry -1 sentinels (never NULL)
    in the pair-only columns so every column keeps an integer dtype kind
    and the driver's value hash is unambiguous."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup._register(
        dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5).persist())
    clusters = dedup.dup_clusters(pairs)
    pair_rows = pairs.select(
        F.lit("pair").alias("part"),
        F.col("id_a").alias("a"), F.col("id_b").alias("b"),
        "inter", "na", "nb", "jaccard")
    cluster_rows = clusters.select(
        F.lit("cluster").alias("part"),
        F.col("id").alias("a"), F.col("cluster_id").alias("b"),
        F.lit(-1).cast("int").alias("inter"),
        F.lit(-1).cast("bigint").alias("na"),
        F.lit(-1).cast("bigint").alias("nb"),
        F.lit(-1.0).alias("jaccard"))
    # D11 incremental pairs (round 4 session 7): the daily-ingest path,
    # graded in the same row — its pairs are a SUBSET relation the
    # oracle reproduces by filtering the same full-D3 pair CTE
    d11_rows = _q_incremental_dedup(spark, sf_dir).select(
        F.lit("d11").alias("part"),
        F.col("id_a").alias("a"), F.col("id_b").alias("b"),
        "inter", "na", "nb", "jaccard")
    return pair_rows.unionByName(cluster_rows).unionByName(d11_rows)


def _q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11 incremental near-dup detection (operators/dedup.py
    `incremental_near_dup_pairs`): docs with doc_id % 10 == 0 play the
    new ingest batch, the rest the already-signatured corpus (its
    signature table stands in for an S7/S13 read — content-derived, so
    values are identical). Result contract: EXACTLY the full-D3 pairs
    over the whole corpus restricted to batch-touching pairs (band
    union == union banding; exact verify identical) — which is
    verbatim how the oracle grades it."""
    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    store = docs.where(F.col("doc_id") % 10 != 0)
    ssig = dedup.minhash_signature_table(store)
    return dedup.incremental_near_dup_pairs(batch, ssig, store)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_table(docs, k=2)


def _q_hamming_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4+D8 merged suite: the 64-bit simhash table AND the generic
    hamming_pairs pigeonhole join (over the T4 minhash fingerprint),
    tagged by ``part`` so one graded driver row covers both hamming
    operators. ``b`` holds the simhash for D4 rows and id_b for D8 rows
    (both bigint); the -1 hamming sentinel (never NULL) keeps the
    driver value hash dtype-kind unambiguous."""
    docs = load_table(spark, sf_dir, "documents")
    d4 = dedup.simhash_table(docs, k=2).select(
        F.lit("simhash").alias("part"),
        F.col("id").alias("a"), F.col("simhash").alias("b"),
        F.lit(-1).cast("int").alias("hamming"))
    fp = (ts.add_fingerprint(docs)
          .where(F.col("fp_minhash") >= 0).select("doc_id", "fp_minhash"))
    d8 = dedup.hamming_pairs(fp, id_col="doc_id", bits_col="fp_minhash",
                             max_hamming=3).select(
        F.lit("pair").alias("part"),
        F.col("id_a").alias("a"), F.col("id_b").alias("b"), "hamming")
    return d4.unionByName(d8)


# P1-P4 corpus pipeline suite literals — shared between the Spark queries
# and the DuckDB oracles (es is deliberately absent from the sample
# allowlist: strata without a rate are dropped, rate 0).
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_SAMPLE_RATES = {"en": 0.5, "de": 0.8, "fr": 0.2, "zh": 0.6}
_PACK_CAPACITY = 2048


def _q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: deterministic hash-bucket train/val/test split."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.hash_split(docs, _SPLIT_WEIGHTS).select(
        "doc_id", "split_bucket", "split")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: per-language deterministic downsampling (allowlist semantics)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.stratified_sample(
        docs, _SAMPLE_RATES, strata_col="lang").select("doc_id", "lang")


def _q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: concat-and-chunk sequence packing on the exact n_chars counts
    (distributed prefix sum == the oracle's serial window cumsum)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.pack_chunks(docs, "n_chars", capacity=_PACK_CAPACITY)


def _q_pack_chunks_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 sharded variant: per-language packing — a pure-JVM window plan
    (one hash exchange on the shard key), chunk ids shard-local."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.pack_chunks_sharded(docs, "n_chars",
                                      capacity=_PACK_CAPACITY,
                                      shard_col="lang")


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: TF-IDF term weights, division-only smooth idf (bitwise
    reproducible — no libm ln in the score)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.tfidf(docs)


def _q_corpus_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P5 + P7 merged suite (key name kept stable across rounds): one
    graded driver row covers the whole corpus pipeline tier. Per-doc rows
    (part='doc') carry split + sample-flag + packing columns; per-term
    rows (part='tfidf') carry tf/df/score; per-(doc, round) rows
    (part='neg') carry the hash-ring negatives; per-(doc, copy) rows
    (part='mix') carry the P7 mixture repetitions — all in the same
    generic layout. -1 integer sentinels (never NULL) keep every column's
    dtype kind unambiguous for the driver value hash."""
    docs = load_table(spark, sf_dir, "documents")
    splits = corpus.hash_split(docs, _SPLIT_WEIGHTS)
    sampled = (corpus.stratified_sample(docs, _SAMPLE_RATES,
                                        strata_col="lang")
               .select("doc_id").withColumn("_s", F.lit(1)))
    packed = corpus.pack_chunks(docs, "n_chars", capacity=_PACK_CAPACITY)
    doc_rows = (splits
                .join(sampled, "doc_id", "left")
                .join(packed, "doc_id")
                .select(F.lit("doc").alias("part"), "doc_id",
                        F.col("split").alias("s"),
                        F.col("split_bucket").cast("bigint").alias("i1"),
                        F.coalesce(F.col("_s"), F.lit(0)).cast("bigint")
                        .alias("i2"),
                        F.col("n_tokens").alias("i3"),
                        F.col("start_offset").alias("i4"),
                        F.col("chunk_id").alias("i5"),
                        F.col("chunk_offset").alias("i6"),
                        F.lit(-1.0).alias("x")))
    term_rows = corpus.tfidf(docs).select(
        F.lit("tfidf").alias("part"), "doc_id",
        F.col("word").alias("s"),
        F.col("tf").cast("bigint").alias("i1"),
        F.col("df").cast("bigint").alias("i2"),
        F.lit(-1).cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"),
        F.lit(-1).cast("bigint").alias("i5"),
        F.lit(-1).cast("bigint").alias("i6"),
        F.col("tfidf").alias("x"))
    neg_rows = _q_hash_negatives(spark, sf_dir).select(
        F.lit("neg").alias("part"), "doc_id", F.lit("").alias("s"),
        F.col("r").alias("i1"),
        F.coalesce(F.col("neg_id"), F.lit(-1).cast("bigint")).alias("i2"),
        F.lit(-1).cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"),
        F.lit(-1).cast("bigint").alias("i5"),
        F.lit(-1).cast("bigint").alias("i6"),
        F.lit(-1.0).alias("x"))
    mix_rows = _q_mixture_weights(spark, sf_dir).select(
        F.lit("mix").alias("part"), "doc_id",
        F.col("source").alias("s"), F.col("rep").alias("i1"),
        F.lit(-1).cast("bigint").alias("i2"),
        F.lit(-1).cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"),
        F.lit(-1).cast("bigint").alias("i5"),
        F.lit(-1).cast("bigint").alias("i6"),
        F.lit(-1.0).alias("x"))
    chunk_rows = _q_chunk_docs(spark, sf_dir).select(
        F.lit("chunk").alias("part"), "doc_id",
        F.col("chunk_text").alias("s"),
        F.col("chunk_idx").alias("i1"),
        F.col("chunk_start").alias("i2"),
        F.col("chunk_len").alias("i3"),
        F.col("n_chunks").alias("i4"),
        F.lit(-1).cast("bigint").alias("i5"),
        F.lit(-1).cast("bigint").alias("i6"),
        F.lit(-1.0).alias("x"))
    vocab_rows = _q_vocab_topk(spark, sf_dir).select(
        F.lit("vocab").alias("part"),
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.col("token").alias("s"),
        F.col("cnt").alias("i1"),
        F.col("rank").alias("i2"),
        F.col("cum_cnt").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"),
        F.lit(-1).cast("bigint").alias("i5"),
        F.lit(-1).cast("bigint").alias("i6"),
        F.col("coverage").alias("x"))
    return (doc_rows.unionByName(term_rows).unionByName(neg_rows)
            .unionByName(mix_rows).unionByName(chunk_rows)
            .unionByName(vocab_rows))


_P5_K, _P5_BUCKETS = 3, 16



def _q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10 exact duplicated-substring report (operators/dedup.py
    `repeated_spans`, Lee et al. 2022 at span granularity): every
    40-char substring occurring >= 2 times corpus-wide, merged into
    maximal per-doc intervals — the within-document boilerplate that
    document-level dedup cannot see. Portable (md5 lo/hi pair) hash
    strategy so the DuckDB oracle reproduces the intervals bit for bit;
    non-vacuous on this corpus (~45 intervals at sf0.01)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.repeated_spans(docs, span=40, min_count=2,
                                hash_strategy="portable")


def _q_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10c span excision (`cut_spans`): remove every D10 interval from
    the affected documents via the pure-JVM aggregate fold (no Python
    boundary) and return the rewritten text — string-hash-graded against
    the SQL reconstruction from gap slices."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spans = dedup.repeated_spans(docs, span=40, min_count=2,
                                 hash_strategy="portable")
    hit = docs.join(spans.select("doc_id").distinct(), "doc_id",
                    "left_semi")
    return (dedup.cut_spans(hit, spans)
            .select("doc_id", F.col("text").alias("text_cut")))


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 benchmark decontamination: assign the shared P1 hash split
    (80/10/10), treat the held-out test slice as the benchmark, and flag
    every train doc that shares a word 3-gram with it
    (corpus.decontaminate — broadcast probe-hash set, the wide corpus
    never shuffles; plan-asserted in tests/test_corpus.py). ProFET has no
    corpus hygiene ([R] FeatureGen.py ~L600-700 walks files as-is); this
    is the task-mandated training-data tier."""
    docs = load_table(spark, sf_dir, "documents")
    sp = corpus.hash_split(docs, _SPLIT_WEIGHTS, id_col="doc_id")
    out = corpus.decontaminate(
        sp.where(F.col("split") == "train").drop("split"),
        sp.where(F.col("split") == "test").drop("split"),
        text_col="text", id_col="doc_id", n=3)
    return out.select("doc_id", "n_shingles", "n_contaminated",
                      "contaminated")



def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 PII scrubbing (functions/textstats.py scrub_pii): mask emails,
    SSN-format ids, IPv4 addresses, and international phone numbers with
    typed placeholders and count the masks per row. The testdata carries
    no real PII, so the query plants deterministic PII derived from
    c_custkey arithmetic on 4/5 of the customer rows with clean controls
    on the rest; the oracle builds the SAME text and runs
    the SAME pattern literals (scrub_pii_sql_duckdb — cannot drift).
    Engine portability: patterns stick to the Java-regex ≡ RE2 subset
    (bitwise-pinned in tests/test_textstats.py). Pure codegen'd
    projection — zero Exchange, zero Python (plan-asserted)."""
    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    pii_text = F.concat(
        F.lit("contact user"), ks, F.lit("@example.com tel +"),
        (k % 90 + 10).cast("string"), F.lit(" "),
        (k % 900 + 100).cast("string"), F.lit(" "),
        (k % 9000 + 1000).cast("string"), F.lit(" ssn "),
        (k % 900 + 100).cast("string"), F.lit("-"),
        (k % 90 + 10).cast("string"), F.lit("-"),
        (k % 9000 + 1000).cast("string"), F.lit(" host 10."),
        (k % 250).cast("string"), F.lit("."),
        (k % 199).cast("string"), F.lit("."),
        (k % 97).cast("string"), F.lit(" end"))
    text = F.when(k % 5 == 0,
                  F.concat(F.lit("no pii for key "), ks)).otherwise(pii_text)
    return ts.scrub_pii(cust.select("c_custkey", text.alias("text")), "text")


def _planted_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image dimensions from event_id arithmetic (the sf
    tables carry no w/h columns — same planting pattern as t6's PII):
    w, h span 64..2050 over coprime strides so every aspect bucket is
    hit. The oracle builds the SAME ints (_PLANTED_SHAPES_SQL)."""
    k = F.col("event_id")
    return _events(spark, sf_dir).select(
        "event_id",
        (F.lit(64) + k % 1987).cast("bigint").alias("w"),
        (F.lit(64) + (k * 31) % 1987).cast("bigint").alias("h"))


_PLANTED_SHAPES_SQL = """
        SELECT event_id, CAST(64 + event_id % 1987 AS BIGINT) AS w,
               CAST(64 + (event_id * 31) % 1987 AS BIGINT) AS h
        FROM events"""
_B1_BATCH, _B1_SHARDS = 8, 4
_B2_CROP, _B2_EPOCHS = 256, 2


def _q_aspect_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 aspect-ratio bucketing + fixed-size batch assembly
    (operators/batching.py plan_aspect_batches): SDXL-style nearest-
    ratio buckets in exact cross-multiplied integer arithmetic, salted-
    h32 order within (bucket, shard), batch_size groups — ONE exchange,
    bounded window partitions. ProFET has no batching tier
    ([R] Model_trainer.py builds one in-memory sklearn matrix); this is
    the task-mandated image-training addition."""
    out = batching.plan_aspect_batches(
        _planted_shapes(spark, sf_dir), id_col="event_id",
        batch_size=_B1_BATCH, n_shards=_B1_SHARDS)
    return out.select(
        "event_id", "w", "h", "aspect_bucket", "aspect_bucket_label",
        "shard", "batch_id", "batch_pos", "is_complete")


def _q_augment_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 deterministic augmentation planning
    (operators/batching.py plan_augmentations): per-(row, epoch) crop
    origin + flip from the salted portable h32 — epoch explode + one
    codegen'd projection, zero shuffle, reproducible across engines and
    cluster sizes."""
    out = batching.plan_augmentations(
        _planted_shapes(spark, sf_dir), id_col="event_id",
        crop_w=_B2_CROP, crop_h=_B2_CROP, epochs=_B2_EPOCHS)
    return out.select(
        "event_id", "w", "h", F.col("epoch").cast("bigint").alias("epoch"),
        "crop_x", "crop_y", "flip")


_B3_EPOCHS = 2


def _q_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 deterministic per-epoch batch serving order
    (operators/batching.py epoch_serving_order): a fresh global batch
    permutation every epoch from the salted h32 of (epoch, batch
    identity), with the dense position computed by the distributed
    global_row_number (operators/ordering.py) — range exchange +
    streaming Arrow scan + P x epochs offset window, NO data-sized
    global window. Bitwise engine-portable (hash tiebroken by batch
    identity)."""
    plan = batching.plan_aspect_batches(
        _planted_shapes(spark, sf_dir), id_col="event_id",
        batch_size=_B1_BATCH, n_shards=_B1_SHARDS)
    return batching.epoch_serving_order(plan, epochs=_B3_EPOCHS)


def _b3_oracle_sql() -> str:
    """DuckDB twin of _q_epoch_order: B1's distinct batch identities,
    the same serve_key h32, row_number over (key, identity)."""
    k = batching.serve_key_sql_duckdb(
        ["aspect_bucket", "shard", "batch_id"])
    return f"""
        WITH b AS (
          SELECT DISTINCT aspect_bucket, shard, batch_id
          FROM ({{b1}})),
        rep AS (
          SELECT b.*, CAST(e.epoch AS BIGINT) AS epoch
          FROM b, (SELECT unnest(range(1, {_B3_EPOCHS + 1})) AS epoch) e),
        keyed AS (SELECT *, {k} AS serve_key FROM rep)
        SELECT epoch, CAST(aspect_bucket AS BIGINT) AS aspect_bucket,
               shard, batch_id, serve_key,
               CAST(row_number() OVER (
                 PARTITION BY epoch
                 ORDER BY serve_key, aspect_bucket, shard, batch_id)
                 - 1 AS BIGINT) AS serve_pos
        FROM keyed
    """


_P7_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.4, "src3": 3.0}


def _q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 training-mixture oversampling (corpus.mixture_weights):
    per-source repetition weights over documents — floor(w)/ceil(w)
    copies decided by the P1/P2 salted hash bucket, strata outside the
    spec dropped. Zero shuffle (explode + projection, plan-asserted in
    tests/test_corpus.py); rep numbers the copies so downstream packing
    and augmentation can treat each as a distinct example."""
    docs = load_table(spark, sf_dir, "documents")
    out = corpus.mixture_weights(docs, _P7_WEIGHTS, strata_col="source")
    return out.select("doc_id", "source", "rep")


def _p7_oracle_sql() -> str:
    """DuckDB twin of _q_mixture_weights: same CASE weight lookup, same
    salted bucket, same range explode (built from the SAME _P7_WEIGHTS
    literals so the spec cannot drift)."""
    bucket = corpus.bucket_bp_sql_duckdb("doc_id", "mix")
    whole_arms = " ".join(
        f"WHEN '{k}' THEN {int(w)}" for k, w in _P7_WEIGHTS.items())
    frac_arms = " ".join(
        f"WHEN '{k}' THEN {round((w - int(w)) * corpus.SPLIT_BP)}"
        for k, w in _P7_WEIGHTS.items())
    return f"""
        WITH b AS (
          SELECT doc_id, source, {bucket} AS bp FROM documents),
        c AS (
          SELECT doc_id, source,
                 CASE source {whole_arms} ELSE 0 END
                 + CASE WHEN bp < CASE source {frac_arms} ELSE 0 END
                        THEN 1 ELSE 0 END AS n
          FROM b)
        SELECT doc_id, source,
               CAST(unnest(range(1, n + 1)) AS BIGINT) AS rep
        FROM c
    """


_P8_CHUNK, _P8_STRIDE = 160, 120
_P9_TOPK = 64


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 overlapping context-window chunking (corpus.chunk_documents):
    one row per [i*stride, i*stride+chunk) character window, total
    coverage, no degenerate tails, empty docs survive as one empty
    chunk. Zero-shuffle explode projection (plan-asserted in
    tests/test_corpus.py); substring is character-indexed in BOTH
    engines, so chunk_text hash-grades bitwise on unicode."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.chunk_documents(
        docs, chunk_chars=_P8_CHUNK, stride=_P8_STRIDE)


def _p8_oracle_sql() -> str:
    return corpus.chunk_documents_sql_duckdb(_P8_CHUNK, _P8_STRIDE)


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 vocabulary + coverage curve (corpus.build_vocab): top-k tokens
    by (count DESC, token ASC) over the shared whitespace tokenization,
    exact-int cumulative counts, one IEEE division for coverage. The
    rank window runs AFTER TakeOrderedAndProject(top_k) — O(top_k),
    never O(distinct tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.build_vocab(docs, top_k=_P9_TOPK)


def _p9_oracle_sql() -> str:
    return corpus.build_vocab_sql_duckdb(_P9_TOPK)


def _q_hash_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: deterministic contrastive negative sampling — k salted-hash
    ring successors per doc within hash buckets (operators/corpus.py).
    Pure function of (salt, id): hash-grades bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.hash_ring_negatives(docs, "doc_id", k=_P5_K,
                                      n_buckets=_P5_BUCKETS)


def _p5_oracle_sql() -> str:
    """DuckDB twin of _q_hash_negatives: same salted h32 ring positions,
    same (r, bucket) window with wrap via first_value."""
    h = H.h32_sql_duckdb(
        "'neg:' || CAST(r AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")
    return f"""
        WITH rep AS (
          SELECT doc_id, r
          FROM documents, (SELECT unnest(range(1, {_P5_K + 1})) AS r) _r),
        b AS (
          SELECT doc_id, r, {h} AS h, {h} % {_P5_BUCKETS} AS bucket
          FROM rep),
        s AS (
          SELECT doc_id, r,
                 coalesce(lead(doc_id) OVER w, first_value(doc_id) OVER w)
                   AS neg
          FROM b
          WINDOW w AS (PARTITION BY r, bucket ORDER BY h, doc_id))
        SELECT doc_id, r,
               CASE WHEN neg = doc_id THEN NULL ELSE neg END AS neg_id
        FROM s
    """


def _q_embedding_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_dup_pairs(emb, threshold=0.3)


def _q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 20), k=5)


def _q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2 LSH ANN — approximate vs N1 but fully DETERMINISTIC (band
    collision over integer plane dots, exact cosine, (cosine desc, id)
    ranking), so it carries a bit-exact SQL oracle (_duck_lsh_ann_sql);
    recall vs the exact N1 baseline is asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_ann(emb, emb.where(F.col("vec_id") < 20), k=5, dim=64)


def _q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3 IVF-partitioned ANN (bucket-pruned scale path). The driver row
    runs the deterministic 'lowest_id' centroid strategy so the ENTIRE
    machinery — centroid assignment (argmax exact int cosine, first-max
    tiebreak), n_probe probing, candidate re-rank — is reproduced bit for
    bit by the SQL oracle (_duck_ivf_ann_sql). The production default is
    sampled k-means (float Lloyd math, not SQL-expressible); its recall
    advantage over this stub and its determinism are asserted in
    tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_ann(emb, emb.where(F.col("vec_id") < 20), k=5,
                              n_centroids=16, n_probe=3, centroids="lowest_id")


# ------------------------------------------------------- misc operators


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 interval/range join: purchase validity windows x events."""
    from pyspark.sql.window import Window
    ev = _events(spark, sf_dir)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ts").distinct()
        .withColumn("end_ts", F.lead("ts").over(
            Window.partitionBy("user_id").orderBy("ts")))
        .withColumnRenamed("ts", "start_ts")
    )
    joined = ev.alias("e").join(
        p.alias("p"),
        (F.col("e.user_id") == F.col("p.user_id"))
        & (F.col("e.ts") >= F.col("p.start_ts"))
        & (F.col("p.end_ts").isNull() | (F.col("e.ts") < F.col("p.end_ts"))),
    )
    return joined.groupBy(F.col("p.user_id").alias("user_id"), "start_ts").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("e.value").cast("decimal(18,2)")).cast("string").alias("sv"),
    )


def _q_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale-path twin: the SAME purchase-validity-window semantics as
    j4_range_join but with NO equi key (global validity windows over the
    whole event stream) through ``asof.interval_join`` — the binned
    grid-cell equi-join that avoids the BroadcastNestedLoop a keyless
    range predicate otherwise plans (operators/asof.py; plan-asserted in
    tests/test_asof.py::TestIntervalJoin)."""
    from pyspark.sql.window import Window

    from profet_spark.operators import asof as _asof

    ev = _events(spark, sf_dir).select("event_id", "ts", "value")
    # global lead over the (bounded: distinct purchase timestamps)
    # interval table — pmod dummy key silences the unpartitioned-window
    # warning without being constant-folded away (corpus.py:266 pattern)
    w = Window.partitionBy(
        F.pmod(F.unix_timestamp("ts"), F.lit(1))).orderBy("ts")
    iv = (
        _events(spark, sf_dir).where(F.col("event_type") == "purchase")
        .select("ts").distinct()
        .withColumn("end_ts", F.lead("ts").over(w))
        .withColumnRenamed("ts", "start_ts")
    )
    j = _asof.interval_join(ev, iv, "ts", "start_ts", "end_ts",
                            bin_seconds=3600)
    return j.groupBy("start_ts").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("string").alias("sv"),
    )


def _q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 multi-granularity rollup with grouping indicators."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("string").alias("total"),
        F.grouping("o_orderstatus").alias("g_status"),
        F.grouping("o_orderpriority").alias("g_prio"),
    )


def _q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 distinct-count diagnostics (exact; approx_count_distinct is the
    scale path, exercised in tests — approximate values can't hash-match)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5(dedup.normalized("text"))).alias("n_contents"),
    )


_AC_LAGS = (1, 2, 3)


def _q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 temporal autocorrelation family (Pearson at lags 1..3 — the
    Moreau-Broto/Moran lag-series analog, [R] Autocorrelation.py ≈L60-300)
    per entity, from exact DECIMAL sums -> IEEE-deterministic doubles.
    Per-lag conditional sums: each lag excludes its own leading rows."""
    from pyspark.sql.window import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.col("value").cast("decimal(18,2)").alias("y"),
    ).select(
        "user_id", "y",
        *[F.lag("y", k).over(w).alias(f"x{k}") for k in _AC_LAGS],
    )
    aggs = []
    for k in _AC_LAGS:
        ok = F.col(f"x{k}").isNotNull()
        cond = lambda c: F.sum(F.when(ok, c))  # noqa: B023
        aggs += [
            F.sum(ok.cast("bigint")).alias(f"n{k}"),
            cond(F.col(f"x{k}")).alias(f"sx{k}"),
            cond(F.col("y")).alias(f"sy{k}"),
            cond(F.col(f"x{k}") * F.col("y")).alias(f"sxy{k}"),
            cond(F.col(f"x{k}") * F.col(f"x{k}")).alias(f"sxx{k}"),
            cond(F.col("y") * F.col("y")).alias(f"syy{k}"),
        ]
    s = o.groupBy("user_id").agg(*aggs).where(F.col("n1") >= 2)
    cols = [F.col("user_id"), F.col("n1").alias("n")]
    for k in _AC_LAGS:
        d = lambda c: F.col(c).cast("double")  # noqa: E731,B023
        vx = d(f"n{k}") * d(f"sxx{k}") - d(f"sx{k}") * d(f"sx{k}")
        vy = d(f"n{k}") * d(f"syy{k}") - d(f"sy{k}") * d(f"sy{k}")
        corr = F.when(
            (F.col(f"n{k}") >= 2) & (vx * vy > 0),
            (d(f"n{k}") * d(f"sxy{k}") - d(f"sx{k}") * d(f"sy{k}"))
            / (F.sqrt(vx) * F.sqrt(vy)))
        cols.append(corr.alias(f"autocorr_lag{k}"))
    return s.select(*cols)


# --------------------------------------- descriptor long-tail (SQL-oracle)
# Exact-integer derivations throughout: every double in these outputs is a
# single division/multiplication of exact integers, so Spark and DuckDB
# produce bitwise-identical values (no float accumulation order games).

# Kyte-Doolittle hydropathy x10 — exact int per letter, A..Z order.
_KD10 = [int(round(HYDRO_SCALE[c] * 10)) for c in ALPHABET]
_KD10_DUCK = "[" + ", ".join(str(x) for x in _KD10) + "]"


def _kd10_arr() -> F.Column:
    # built lazily — F.lit needs an active SparkContext
    return F.array(*[F.lit(x) for x in _KD10])
_AROMATIC, _POSITIVE, _NEGATIVE, _POLAR = "FWYH", "KRH", "DE", "RKEDQN"


def _norm_col() -> F.Column:
    return F.regexp_replace(F.upper("text"), "[^A-Z]", "")


def _explode_positions(d: DataFrame, col: str = "s") -> DataFrame:
    """(doc_id, n, i, v): per-position KD10 value of the normalized text —
    the codegen explode form (HOF lambdas are interpreted per element)."""
    e = d.select(
        "doc_id", F.length(col).alias("n"),
        F.explode(F.sequence(F.lit(1), F.length(col))).alias("i"), F.col(col),
    )
    ch = F.substring(F.col(col), F.col("i").cast("int"), 1)
    return e.select("doc_id", "n", "i",
                    F.element_at(_kd10_arr(), F.ascii(ch) - 64).alias("v"))


def _q_trigram_comp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 3-gram spectrum over the hydrophobicity-reduced alphabet
    ([R] AAComposition.py ≈L140-200 GetSpectrumDict; SURVEY.md §2.4 A3)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.translate(_norm_col(), _HYD_SRC, _HYD_DST)
    d = docs.select("doc_id", t.alias("t")).where(F.length("t") > 2)
    return (
        d.select(
            "doc_id", (F.length("t") - 2).alias("nk"),
            F.explode(F.sequence(F.lit(1), F.length("t") - 2)).alias("i"),
            F.col("t"),
        )
        .select("doc_id", "nk", F.substring(F.col("t"), F.col("i").cast("int"), 3).alias("kmer"))
        .groupBy("doc_id", "kmer")
        .agg(F.count("*").alias("cnt"), (F.count("*") / F.first("nk")).alias("freq"))
    )


def _q_ctd_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 CTD-Distribution (hydrophobicity property), propy rank
    convention ([R] CTD.py ≈L170-230): for each class, the position (as %
    of length) of the 1st / floor(m*q)-th / last occurrence, rank clamped
    to >= 1. Long form (doc_id, cls, d001..d100)."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    t = F.translate(_norm_col(), _HYD_SRC, _HYD_DST)
    d = docs.select("doc_id", t.alias("t")).where(F.length("t") > 0)
    e = d.select(
        "doc_id", F.length("t").alias("n"),
        F.explode(F.sequence(F.lit(1), F.length("t"))).alias("i"), F.col("t"),
    ).select("doc_id", "n", "i",
             F.substring(F.col("t"), F.col("i").cast("int"), 1).alias("cls"))
    r = (
        e.withColumn("rn", F.row_number().over(
            Window.partitionBy("doc_id", "cls").orderBy("i")))
        .withColumn("m", F.count("*").over(Window.partitionBy("doc_id", "cls")))
    )
    ranks = {
        "d001": F.lit(1),
        "d025": F.greatest(F.lit(1), F.floor(F.col("m") * 1 / 4)),
        "d050": F.greatest(F.lit(1), F.floor(F.col("m") * 2 / 4)),
        "d075": F.greatest(F.lit(1), F.floor(F.col("m") * 3 / 4)),
        "d100": F.col("m"),
    }
    g = r.groupBy("doc_id", "cls").agg(
        F.first("n").alias("n"),
        *[F.max(F.when(F.col("rn") == rk, F.col("i"))).alias(f"p_{tag}")
          for tag, rk in ranks.items()],
    )
    pct = lambda tag: ((F.col(f"p_{tag}").cast("double") / F.col("n").cast("double"))
                       * F.lit(100.0)).alias(tag)
    return g.select("doc_id", "cls", *[pct(tag) for tag in ranks])


def _q_scalar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 scalar aggregates (GRAVY / aromaticity / net charge / polar
    fraction analogs, [R] FeatureGen.py ≈L100-320) as pure codegen
    expressions: per-letter counts via length-minus-replace, weighted by
    exact x10 integer scales — shuffle-free, scan-to-result."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", _norm_col().alias("s")).where(F.length("s") > 0)
    n = F.length("s")
    cnt_l = lambda L: n - F.length(F.regexp_replace("s", L, ""))
    cnt_set = lambda cs: n - F.length(F.translate("s", cs, ""))
    s10 = None
    for idx, L in enumerate(ALPHABET):
        if _KD10[idx] == 0:
            continue
        term = cnt_l(L) * F.lit(_KD10[idx])
        s10 = term if s10 is None else s10 + term
    dbl = lambda c: c.cast("double")
    return d.select(
        "doc_id",
        (dbl(s10) / (F.lit(10.0) * n)).alias("gravy"),
        (dbl(cnt_set(_AROMATIC)) / dbl(n)).alias("aromaticity"),
        (dbl(cnt_set(_POSITIVE) - cnt_set(_NEGATIVE)) / dbl(n)).alias("net_charge"),
        (dbl(cnt_set(_POLAR)) / dbl(n)).alias("frac_polar"),
    )


def _q_pseaac_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 PseAAC-analog sequence-order correlation
    ([R] PseudoAAC.py ≈L90-260): theta_d = mean((x[t]-x[t+d])^2) for
    d=1..3 over the KD hydropathy stream — lead() windows, exact-int sums."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", _norm_col().alias("s")).where(F.length("s") > 3)
    e = _explode_positions(d)
    w = Window.partitionBy("doc_id").orderBy("i")
    lags = [1, 2, 3]
    ld = e.select("doc_id", "n", "v",
                  *[F.lead("v", k).over(w).alias(f"v{k}") for k in lags])
    g = ld.groupBy("doc_id").agg(
        F.first("n").alias("n"),
        *[F.sum((F.col("v") - F.col(f"v{k}")) * (F.col("v") - F.col(f"v{k}"))).alias(f"s{k}")
          for k in lags],
    )
    return g.select(
        "doc_id",
        *[(F.col(f"s{k}").cast("double") / (F.lit(100.0) * (F.col("n") - k))).alias(f"pse_corr_{k}")
          for k in lags],
    )


def _q_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 sliding-window property profile summary ([R] FeatureGen.py
    ≈L320-440 via ProtParam.protein_scale): window-5 moving mean of the KD
    stream, then max/min/mean + first-argmax position — all from exact
    integer window sums."""
    from pyspark.sql.window import Window
    W = 5
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", _norm_col().alias("s")).where(F.length("s") >= W)
    e = _explode_positions(d)
    wwin = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(W - 1), 0)
    p = e.withColumn("ws", F.sum("v").over(wwin)).where(F.col("i") >= W)
    g = p.groupBy("doc_id").agg(
        F.max("ws").alias("mx"), F.min("ws").alias("mn"),
        F.sum("ws").alias("sm"), F.count("*").alias("np"),
    )
    am = (
        p.select(
            "doc_id", "i", "ws",
            F.row_number().over(Window.partitionBy("doc_id")
                                .orderBy(F.desc("ws"), F.asc("i"))).alias("rx"),
            F.row_number().over(Window.partitionBy("doc_id")
                                .orderBy(F.asc("ws"), F.asc("i"))).alias("rm"),
        )
        .where((F.col("rx") == 1) | (F.col("rm") == 1))
        .groupBy("doc_id")
        .agg(F.max(F.when(F.col("rx") == 1, F.col("i"))).alias("am_i"),
             F.max(F.when(F.col("rm") == 1, F.col("i"))).alias("an_i"))
    )
    den = F.lit(float(10 * W))
    return g.join(am, "doc_id").select(
        "doc_id",
        (F.col("mx").cast("double") / den).alias("prof_max"),
        (F.col("mn").cast("double") / den).alias("prof_min"),
        (F.col("sm").cast("double") / (den * F.col("np"))).alias("prof_mean"),
        ((F.col("am_i") - W).cast("double") / F.col("np")).alias("argmax_rel"),
        ((F.col("an_i") - W).cast("double") / F.col("np")).alias("argmin_rel"),
    )


def _q_phash_nibble_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 image variant (imgd.phash_ngrams): 3-gram spectrum over the
    16-nibble stream of a 64-bit hash — the k-mer machinery on the phash
    "sequence". The testdata has no image table, so the graded 64-bit
    value is a pseudo-phash over documents: the (h32, h32_hi) pair folded
    into a SIGNED two's-complement int64 with pure arithmetic (no
    left-shift — DuckDB raises on << overflow), which deliberately
    exercises negative hashes through the arithmetic-shift nibble
    extractor in both engines. Output: the corpus gram spectrum."""
    docs = load_table(spark, sf_dir, "documents")
    h1 = H.h32(F.col("text"))
    h2 = H.h32_hi(F.col("text"))
    ph = ((h1 - F.when(h1 >= F.lit(2 ** 31), F.lit(2 ** 32))
           .otherwise(F.lit(0))) * F.lit(2 ** 32) + h2).cast("bigint")
    d = docs.select("doc_id", ph.alias("phash"))
    return (imgd.phash_ngrams(d, n=3)
            .groupBy("gram")
            .agg(F.count("*").alias("n"),
                 F.countDistinct("doc_id").alias("n_docs")))


def _q_bit_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 bit operators on a 32-bit content hash (the phash-analog over
    documents): nibble extraction, popcount, Hamming distance to the
    previous row. The single global window is oracle-scale only — the
    engine's scale form partitions by entity (imgd.phash_hamming_to_prev)."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", H.h32(dedup.normalized("text")).alias("h"))
    # constant partitionBy: semantically identical single-partition
    # window, but no "No Partition Defined" warning in the logs
    # (pmod(doc_id, 1) == 0 always; a literal would be constant-folded
    # back out of the partition spec)
    w = Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(1))).orderBy("doc_id")
    return d.select(
        "doc_id", "h",
        F.shiftright("h", 28).bitwiseAND(F.lit(15)).cast("int").alias("nib_hi"),
        F.col("h").bitwiseAND(F.lit(15)).cast("int").alias("nib_lo"),
        F.bit_count("h").cast("int").alias("popcnt"),
        F.bit_count(F.col("h").bitwiseXOR(F.lag("h").over(w))).cast("int").alias("hamming_prev"),
    )


_FLEX1000 = [int(round(FLEX_SCALE[c] * 1000)) for c in ALPHABET]
_FLEX1000_DUCK = "[" + ", ".join(str(x) for x in _FLEX1000) + "]"
# Grantham (1974) exact-int property encodings (alphabets.py) — d^2/rho^2
# * 1e8 is a pure integer expression, so the coupling numbers are exact
_GC100 = [A.GRANTHAM_C100[c] for c in ALPHABET]
_GP10 = [A.GRANTHAM_P10[c] for c in ALPHABET]
_GV10 = [A.GRANTHAM_V10[c] for c in ALPHABET]
_GC100_DUCK = "[" + ", ".join(str(x) for x in _GC100) + "]"
_GP10_DUCK = "[" + ", ".join(str(x) for x in _GP10) + "]"
_GV10_DUCK = "[" + ", ".join(str(x) for x in _GV10) + "]"


def _q_qso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 quasi-sequence-order ([R] QuasiSequenceOrder.py ≈L60-300):
    sequence-order coupling numbers tau_d = sum_t dist^2 for lag d, under
    TWO distances, mirroring upstream's _Distance1/_Distance2 pair:

    - ``tau_k``/``qso_k`` — the two-property stand-in (hydropathy +
      flexibility; the documented in-sandbox substitute for the
      Schneider-Wrede matrix, whose 400 derived constants have no
      public source in this environment);
    - ``tau_g{k}``/``qso_g{k}`` — the REAL Grantham matrix, reconstructed
      exactly from the published 1974 formula + property table
      (alphabets.py; checksummed against published integer distances).
      tau sums SQUARED distances, so d^2/rho^2 * 1e8 stays a pure
      integer expression — exact in both engines; the rho^2/1e8 factor
      cancels in the QSO normalization.

    Exact integer sums; the engine's scale path for per-row descriptors
    is the fused Arrow kernel (profet_caption_features); this form is the
    engine-neutral oracle."""
    from pyspark.sql.window import Window
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", _norm_col().alias("s")).where(F.length("s") > 3)
    e = d.select(
        "doc_id", F.length("s").alias("n"),
        F.explode(F.sequence(F.lit(1), F.length("s"))).alias("i"), F.col("s"),
    )
    ch = F.substring(F.col("s"), F.col("i").cast("int"), 1)
    flex_arr = F.array(*[F.lit(x) for x in _FLEX1000])
    idx = F.ascii(ch) - 64
    arr = lambda vals: F.array(*[F.lit(x) for x in vals])  # noqa: E731
    e = e.select(
        "doc_id", "n", "i",
        F.element_at(_kd10_arr(), idx).alias("v"),
        F.element_at(flex_arr, idx).alias("fv"),
        # bigint: the three-term Grantham sum peaks ~3.2e9 per position,
        # past int32 (ANSI would error on the overflow)
        F.element_at(arr(_GC100), idx).cast("bigint").alias("gc"),
        F.element_at(arr(_GP10), idx).cast("bigint").alias("gp"),
        F.element_at(arr(_GV10), idx).cast("bigint").alias("gv"),
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    lags = [1, 2, 3]
    ld = e.select(
        "doc_id", "v", "fv", "gc", "gp", "gv",
        *[F.lead("v", k).over(w).alias(f"v{k}") for k in lags],
        *[F.lead("fv", k).over(w).alias(f"fv{k}") for k in lags],
        *[F.lead("gc", k).over(w).alias(f"gc{k}") for k in lags],
        *[F.lead("gp", k).over(w).alias(f"gp{k}") for k in lags],
        *[F.lead("gv", k).over(w).alias(f"gv{k}") for k in lags],
    )
    dist2 = lambda k: ((F.col("v") - F.col(f"v{k}")) * (F.col("v") - F.col(f"v{k}"))
                       + (F.col("fv") - F.col(f"fv{k}")) * (F.col("fv") - F.col(f"fv{k}")))
    dd = lambda c, k: F.col(c) - F.col(f"{c}{k}")  # noqa: E731
    gdist2 = lambda k: (F.lit(18330) * dd("gc", k) * dd("gc", k)
                        + F.lit(101800) * dd("gp", k) * dd("gp", k)
                        + F.lit(399) * dd("gv", k) * dd("gv", k))
    g = ld.groupBy("doc_id").agg(
        *[F.sum(dist2(k)).alias(f"tau_{k}") for k in lags],
        *[F.sum(gdist2(k)).alias(f"tau_g{k}") for k in lags])
    total = F.lit(1).cast("bigint") + sum(F.col(f"tau_{k}") for k in lags)
    # the Grantham normalizer folds w=0.1 and the rho^2/1e8 rescale into
    # ONE exact integer weight: qso_gk = w*tau_real_k / (1 + w*sum(tau_real))
    # with tau_real = tau_gk * rho^2/1e8; dividing through by w*rho^2/1e8
    # gives qso_gk = tau_gk / (1e8/(w*rho^2) + sum(tau_gk)), and
    # 1e8/(0.1*50.723^2) rounds to 388678 — the same constant in both
    # engines (round-4 review caught an earlier 10x-too-large constant
    # that both sides shared, i.e. an effective w of 0.01)
    total_g = (F.lit(388678).cast("bigint")
               + sum(F.col(f"tau_g{k}") for k in lags))
    return g.select(
        "doc_id", *[F.col(f"tau_{k}") for k in lags],
        *[F.col(f"tau_g{k}") for k in lags],
        *[(F.col(f"tau_{k}").cast("double") / total.cast("double")).alias(f"qso_{k}")
          for k in lags],
        *[(F.col(f"tau_g{k}").cast("double") / total_g.cast("double")).alias(f"qso_g{k}")
          for k in lags],
    )


def _q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 pair join: pigeonhole byte-block equi-join — exact recall for
    hamming<=3 without a cross join (oracle verifies via brute force)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, k=2, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 sliding variant: 1-hour windows every 15 minutes — each row lands
    in 4 overlapping buckets."""
    ev = _events(spark, sf_dir)
    out = temporal.sliding_time_window(
        ev, "1 hour", "15 minutes",
        [F.count("*").alias("n"),
         F.sum(F.col("value").cast("decimal(18,2)")).cast("string").alias("sv")],
        entity="user_id", ts="ts",
    )
    return out.select("user_id", "win_start", "n", "sv")


def _q_bfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 backward-fill (train-only; reads the future by contract)."""
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("pv"),
    )
    return temporal.bfill(ev, ["pv"], entity="user_id", ts="ts", tiebreak=["event_id"]).select(
        "user_id", "ts", "event_id", "pv", "pv_bfill"
    )


def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type", "value")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purch_val"))
    )
    return ev, purchases


def _q_asof_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3a broadcast-asof strategy — same oracle as j3_asof_join."""
    ev, purchases = _asof_inputs(spark, sf_dir)
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts", strategy="broadcast")
    return out.select("user_id", "ts", "event_id", "value", "purch_val")


def _q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3c salted-asof skew strategy (hot keys split across salt buckets,
    build side replicated) — same oracle as j3_asof_join."""
    ev, purchases = _asof_inputs(spark, sf_dir)
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts",
                         strategy="salted", skew_frac=0.01)
    return out.select("user_id", "ts", "event_id", "value", "purch_val")


def _q_asof_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 with a strict bound (right.ts < left.ts): rows at the exact same
    timestamp are NOT visible — the serving-time convention when right-side
    data lands at the same instant as the request."""
    ev, purchases = _asof_inputs(spark, sf_dir)
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts",
                         strategy="window", allow_exact_matches=False)
    return out.select("user_id", "ts", "event_id", "value", "purch_val")


def _q_label_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3f forward as-of (operators/asof.py `label_join`): attach to
    every event the FIRST purchase outcome at-or-after its ts within a
    one-day horizon — the label-attachment operator (deliberate forward
    look, labels only; the payload is the outcome's event_id so the
    match structure grades exactly). Build side pre-aggregated per
    (user, ts), same contract as the backward strategies."""
    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    labels = (_events(spark, sf_dir)
              .where(F.col("event_type") == "purchase")
              .groupBy("user_id", "ts")
              .agg(F.max("event_id").alias("y_id")))
    return asof.label_join(ev, labels, entity="user_id", ts="ts",
                           horizon_s=86400.0)


_JB_BUILD = "event_type = 'purchase' AND value > 90"


def _jb_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JB build side: users with at least one >90-value purchase —
    small relative to the probe (events), the canonical semi-join
    shape."""
    return (_events(spark, sf_dir)
            .where((F.col("event_type") == "purchase")
                   & (F.col("value") > 90))
            .select("user_id"))


def _q_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JB bloom-pruned semi join (operators/membership.py
    `bloom_semi_join`): every event of a user with a >90-value purchase.
    The broadcast Bloom tier rejects non-members map-side (no shuffle);
    the exact left_semi over the survivors repairs false positives, so
    the result is bit-for-bit a plain IN-subquery — which is exactly
    the oracle."""
    from profet_spark.operators import membership as mb

    ev = _events(spark, sf_dir)
    out = mb.bloom_semi_join(ev, _jb_build(spark, sf_dir), "user_id")
    return out.select("event_id", "user_id",
                      F.col("ts").cast("timestamp_ntz").alias("ts"))


def _q_bloom_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JB bloom-routed anti join (`bloom_anti_join`): events of users
    with NO >90-value purchase. Filter-rejected rows are definitely
    non-members and bypass the join; only the might-match sliver runs
    the exact left_anti. Equals NOT EXISTS up to row order."""
    from profet_spark.operators import membership as mb

    ev = _events(spark, sf_dir)
    out = mb.bloom_anti_join(ev, _jb_build(spark, sf_dir), "user_id")
    return out.select("event_id", "user_id",
                      F.col("ts").cast("timestamp_ntz").alias("ts"))


def _q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 with a 2-hour tolerance: matches older than the bound are nulled
    (merge_asof tolerance semantics, inclusive)."""
    ev, purchases = _asof_inputs(spark, sf_dir)
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts",
                         strategy="sort_merge", tolerance_s=7200.0)
    return out.select("user_id", "ts", "event_id", "value", "purch_val")


# --------------------------------------------- remaining §2 long tail


def _q_star_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 star-schema dimension chain: supplier ⋈ nation ⋈ region with
    both dims broadcast — zero shuffles on the fact side."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_suppliers"),
             F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("string").alias("total_bal"))
    )


def _q_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 variant over part: per-brand counts + exact DECIMAL price sums."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"),
             F.min("p_size").alias("min_size"),
             F.max("p_size").alias("max_size"),
             F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("string").alias("total_price"))
    )


def _q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 cube variant: all grouping-set combinations with indicators."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("string").alias("total"),
        F.grouping("o_orderstatus").alias("g_status"),
        F.grouping("o_orderpriority").alias("g_prio"),
    )


def _q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 exceptAll: customers that placed orders minus those with an
    open ('O') order — multiset semantics preserved."""
    orders = load_table(spark, sf_dir, "orders")
    placed = orders.select("o_custkey")
    open_ = orders.where(F.col("o_orderstatus") == "O").select("o_custkey")
    return placed.exceptAll(open_).groupBy("o_custkey").agg(F.count("*").alias("n"))


def _q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O5 global sort + limit: top-25 orders by price (deterministic
    tiebreak on key). TakeOrderedAndProject — no full global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey",
                F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("price"))
    )


def _q_date_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 date/time scalars: truncation, field extraction, interval
    arithmetic — all codegen'd built-ins."""
    ev = _events(spark, sf_dir)
    return (
        ev.select(
            F.date_trunc("day", "ts").alias("day"),
            F.hour("ts").alias("hr"),
            F.dayofweek("ts").alias("dow"),
            (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("ts_shift"),
        )
        .groupBy("day", "hr", "dow")
        .agg(F.count("*").alias("n"), F.max("ts_shift").alias("max_shift"))
    )


def _q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 array scalars over embeddings: slice / element_at / size plus
    exact integer folds over the quantized vector (aggregate/zip_with are
    the HOF forms; the exact-int derivation keeps the oracle bitwise)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", H.quantize_vec("embedding").alias("q"))
    head = F.slice("q", 1, 8)
    return q.select(
        "vec_id",
        F.size("q").alias("dim"),
        F.element_at("q", 1).alias("first_q"),
        F.element_at("q", -1).alias("last_q"),
        F.aggregate(head, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("head_sum"),
        F.aggregate("q", F.lit(0).cast("bigint"),
                    lambda acc, x: acc + F.abs(x)).alias("l1_q"),
    )


def _q_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 map scalars over events props: map_from_arrays / map_filter /
    map_concat / map_keys exercised in the plan; outputs are projected to
    plain scalars so the DuckDB oracle can reproduce the values."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    m = F.map_from_arrays(F.array(F.lit("k"), F.lit("k2")), F.array(k, k * 2))
    mf = F.map_filter(m, lambda _, v: v % 2 == 0)
    mc = F.map_concat(
        m, F.create_map(F.lit("etype_len"), F.length("event_type").cast("bigint")))
    return ev.select(
        "event_id",
        F.element_at(m, F.lit("k")).alias("k_val"),
        F.element_at(m, F.lit("k2")).alias("k2_val"),
        F.size(mf).alias("n_even"),
        F.size(mc).alias("n_all"),
        F.concat_ws(",", F.array_sort(F.map_keys(mc))).alias("keys_sorted"),
    )


def _q_checkpoint_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 checkpointed partition sink, driver-graded end to end: write the
    events projection through the resumable bucketed sink (fresh temp dir),
    then return the committed manifest (bucket, rows, checksum). The
    'portable' hash strategy makes bucket assignment and the
    order-insensitive checksum md5/h32-derived, so the DuckDB oracle
    recomputes the exact same manifest from the raw table."""
    import tempfile

    from profet_spark.sources import checkpoint as ckpt

    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    out = tempfile.mkdtemp(prefix="s7_manifest_")
    ckpt.checkpointed_write(ev, out, key_cols=["event_id"], num_buckets=8,
                            lineage=f"events@{sf_dir}", hash_strategy="portable")
    entries = ckpt.read_manifest(spark, out)
    rows = [(int(e["bucket"]), int(e["rows"]), int(e["checksum"])) for e in entries]
    return spark.createDataFrame(rows, "bucket int, rows bigint, checksum bigint")


def _q_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1b raw-ingest roundtrip, driver-graded end to end: write the
    documents table to a JSONL landing dir (fresh temp dir), read it
    back through the explicit-schema ingest reader
    (sources/ingest.py ingest_jsonl — no inference scan, FAILFAST mode:
    the writer guarantees clean lines), and return the table. The
    oracle is the raw projection — JSON string escaping is lossless, so
    the roundtrip must be value-exact; the quarantine path for dirty
    lines is pinned separately in tests/test_ingest.py."""
    import tempfile

    from profet_spark.sources import ingest as ing

    docs = load_table(spark, sf_dir, "documents")
    landing = tempfile.mkdtemp(prefix="s1b_ingest_") + "/landing"
    docs.coalesce(2).write.mode("overwrite").json(landing)
    # the table's own schema (the default DOCUMENTS_DDL is the minimal
    # landing contract and omits the optional `source` column)
    back = ing.ingest_jsonl(spark, landing, schema=docs.schema,
                            mode="fail")
    return back.select("doc_id", "text", "lang", "source", "n_chars")


# comma + quoted token + newline + backslash: one of each CSV hazard
# class, planted so the graded roundtrip exercises quoting/escaping
# (the testdata text itself contains none of them)
_CSV_HAZARD = ', "q"\nline2 \\tail'


def _q_ingest_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1b CSV twin of the JSONL roundtrip, with PLANTED hazards: a
    comma, a quoted token, an embedded newline, and a backslash are
    appended to every text (the testdata alone would grade only the
    benign path) — written with Spark's default quoting and read back
    through ingest_csv (multiLine=True for the in-quote newlines,
    FAILFAST). Oracle: the same concat over the raw table, so the
    quoting/escaping roundtrip must be value-exact."""
    import tempfile

    from profet_spark.sources import ingest as ing

    docs = load_table(spark, sf_dir, "documents")
    hazard = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(_CSV_HAZARD)).alias("text"),
        "lang", "source", "n_chars")
    landing = tempfile.mkdtemp(prefix="s1b_csv_") + "/landing"
    hazard.coalesce(2).write.mode("overwrite").option("header", True).csv(
        landing)
    back = ing.ingest_csv(spark, landing, schema=hazard.schema,
                          mode="fail", multiLine=True)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


def _q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 incremental upsert, driver-graded end to end: materialize the
    pre-Jan-20 events into a hidden-partitioned store (fresh temp dir),
    merge a batch covering Jan-10-onward with shifted values (dynamic
    partition overwrite — only touched (day, bucket) partitions rewritten,
    byte-identity of the rest pinned in tests/test_partitioned.py), and
    return the merged table. The oracle recomputes the merge from the raw
    table: every event, value shifted iff it is in the batch window."""
    import tempfile

    from profet_spark.sources import partitioned as P

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.col("value").cast("double").alias("val"))
    out = tempfile.mkdtemp(prefix="s8_upsert_")
    P.write_partitioned(ev.where(F.col("ts") < F.lit("2024-01-20")), out,
                        ts_col="ts", entity_col="user_id", n_buckets=8)
    batch = (ev.where(F.col("ts") >= F.lit("2024-01-10"))
             .withColumn("val", F.col("val") + 1000.0))
    P.upsert_partitioned(spark, batch, out, key_cols=["event_id"])
    return (spark.read.parquet(out)
            .select("event_id", "user_id", "ts", "val"))


def _q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 small-file compaction, driver-graded end to end: fragment a
    hidden-partitioned store (16-way parallel write), compact every
    partition above the file threshold to one file (dynamic overwrite),
    and return the table — the oracle is the raw projection: compaction
    moves bytes between files, never rows (file-count mechanics pinned
    in tests/test_partitioned.py)."""
    import tempfile

    from profet_spark.sources import partitioned as P

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.col("value").cast("double").alias("val"))
    out = tempfile.mkdtemp(prefix="s9_compact_")
    P.write_partitioned(ev.repartition(16), out, ts_col="ts",
                        entity_col="user_id", n_buckets=2)
    P.compact_partitions(spark, out, max_files_per_partition=2)
    return (spark.read.parquet(out)
            .select("event_id", "user_id", "ts", "val"))


_W3_BACKFILL_S = 3 * 86400.0  # the s10 trailing feature window (3 days)


def _q_incremental_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 incremental feature materialization, driver-graded end to end
    (the "compute only the delta" feature-store loop; north_rule:
    resumable jobs with row-count metrics): bootstrap the store from the
    pre-Jan-20 events with trailing 3-day per-user exact-int window
    features computed at write, then run ONE incremental pass over the
    full table — the watermark comes from the partition layout plus a
    single-day probe (sources/partitioned.py:high_watermark, never a
    full-history scan), the delta is the rows at/after it, ``lookback``
    re-feeds 3 days of context so recomputed boundary features see their
    full window, and the upsert replaces the re-emitted rows (dynamic
    partition overwrite, idempotent re-runs). The oracle is the
    FULL-history recompute: incremental == full, hash-exact, is the
    graded contract."""
    import datetime
    import tempfile

    from profet_spark.operators.feature_matrix import windowed_spine_agg
    from profet_spark.sources import partitioned as P

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.col("value").cast("double").alias("val"))

    def compute(df: DataFrame) -> DataFrame:
        return windowed_spine_agg(
            df, df.select("user_id", "ts", "event_id"),
            {"w3_n": ("count", "event_id"), "w3_sum": ("sum", "event_id")},
            entity="user_id", ts="ts", window_s=_W3_BACKFILL_S)

    out = tempfile.mkdtemp(prefix="s10_incr_")
    P.materialize_incremental(
        spark, ev.where(F.col("ts") < F.lit("2024-01-20")), out,
        compute=compute, ts_col="ts", entity_col="user_id", n_buckets=8)
    P.materialize_incremental(
        spark, ev, out, compute=compute, key_cols=["event_id"],
        lookback=datetime.timedelta(seconds=_W3_BACKFILL_S))
    return (spark.read.parquet(out)
            .select("event_id", "user_id", "ts", "val", "w3_n", "w3_sum"))


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 snapshot diff (sources/partitioned.py:snapshot_diff) — the
    CDC-style store audit that closes the incremental loop (S8 upsert,
    S10 materialization, S11 "what changed?"). Two deterministic versions
    of the events table: the left drops event_id multiples of 97, the
    right drops multiples of 101 and bumps value on multiples of 89 —
    so all three statuses (added / removed / changed) are populated. The
    engine reduces each side to (key, injective netstring-md5
    fingerprint) BEFORE the full-outer join (wide payloads never
    shuffle); the oracle computes the same statuses by direct
    IS DISTINCT FROM comparison — fingerprint-equality must coincide
    with value-equality column for column."""
    from profet_spark.sources.partitioned import snapshot_diff

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    left = ev.where(F.col("event_id") % 97 != 0)
    right = (ev.where(F.col("event_id") % 101 != 0)
             .withColumn("value",
                         F.when(F.col("event_id") % 89 == 0,
                                F.col("value") + F.lit(1.0))
                         .otherwise(F.col("value"))))
    return snapshot_diff(left, right, key_cols=["event_id"])


_S12_CUTOFF = "2024-01-10"


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 TTL retention (sources/partitioned.py:expire_partitions),
    driver-graded end to end: materialize events into a hidden-
    partitioned store (fresh temp dir), expire every day-partition
    strictly older than the cutoff (pure metadata: directory listing +
    parquet-footer row metrics, no Spark job, survivors byte-identical
    — pinned in tests/test_partitioned.py), and return the surviving
    table. The oracle applies the same closed-left day predicate to the
    raw table: retention must equal a day filter, exactly."""
    import tempfile

    from profet_spark.sources import partitioned as P

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.col("value").cast("double").alias("val"))
    out = tempfile.mkdtemp(prefix="s12_retain_")
    P.write_partitioned(ev, out, ts_col="ts", entity_col="user_id",
                        n_buckets=4)
    P.expire_partitions(spark, out, older_than=_S12_CUTOFF)
    return (spark.read.parquet(out)
            .select("event_id", "user_id", "ts", "val"))


def _q_versioned_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 versioned snapshots + S14 schema evolution
    (sources/versioned.py), SQL-oracled end to end through a full
    snapshot lifecycle on a fresh temp store:

    v1 create  = events before Jan-20;
    v2 upsert  = the [Jan-10, Jan-20) slice with +1000 values, keyed by
                 event_id (exercises the moved-key probe path);
    v3 evolve  = ALTER-ADD ``src:string`` (metadata-only);
    v4 append  = the Jan-20-onward slice tagged src='late';
    v5 rollback to v2 (metadata-only), then expire keep_last=2 —
    commit dirs still referenced by v4/v5 must survive the expiry.

    Parts returned (one physical read each, part-tagged union):
    ``tt`` = time travel to v1 (pre-image intact after 4 later commits);
    ``v4`` = snapshot v4 read AFTER the expiry (old+evolved rows);
    ``rb`` = the post-rollback latest (== v2 content, no src column).
    The oracle recomputes all three from the raw events table."""
    import tempfile

    from profet_spark.sources import versioned as V

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.col("value").cast("double").alias("val"))
    store = tempfile.mkdtemp(prefix="s13_versioned_")
    V.create_versioned(ev.where(F.col("ts") < F.lit("2024-01-20")), store,
                       ts_col="ts", entity_col="user_id", n_buckets=8,
                       lineage="s13: base load")
    batch = (ev.where((F.col("ts") >= F.lit("2024-01-10"))
                      & (F.col("ts") < F.lit("2024-01-20")))
             .withColumn("val", F.col("val") + 1000.0))
    V.upsert_versioned(spark, batch, store, key_cols=["event_id"],
                       lineage="s13: backfill correction")
    V.evolve_schema(spark, store, {"src": "string"},
                    lineage="s13: add provenance column")
    late = (ev.where(F.col("ts") >= F.lit("2024-01-20"))
            .withColumn("src", F.lit("late")))
    V.append_versioned(spark, late, store, lineage="s13: late arrivals")
    V.rollback_versioned(spark, store, to_version=2,
                         lineage="s13: undo the late batch")

    cols = ["event_id", "user_id", "ts", "val"]
    # resolve the v1 manifest BEFORE expiry: keep_last=2 drops the v1-v3
    # manifests, but every data dir v1 references (commit 1) stays live
    # through v4/v5's untouched partitions — the lazy read below scans
    # those surviving files, proving reference-counted expiry
    tt = (V.read_versioned(spark, store, version=1)
          .select(*cols).withColumn("src", F.lit(None).cast("string")))
    V.expire_versions(spark, store, keep_last=2)
    v4 = V.read_versioned(spark, store, version=4).select(*cols, "src")
    rb = (V.read_versioned(spark, store)  # latest == v5 == v2 content
          .select(*cols).withColumn("src", F.lit(None).cast("string")))
    return (tt.withColumn("part", F.lit("tt"))
            .unionByName(v4.withColumn("part", F.lit("v4")))
            .unionByName(rb.withColumn("part", F.lit("rb")))
            .select("part", *cols, "src"))


def _q_stream_versioned_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 streaming twin (streaming/versioned_sink.py), SQL-oracled:
    create the versioned store from the pre-Jan-20 events, stream the
    Jan-20-onward slice through the exactly-once foreachBatch append
    sink as TWO micro-batches (file source, maxFilesPerTrigger=1,
    availableNow), then REPLAY the same stream from a fresh checkpoint —
    the redelivered batch ids must dedupe against the manifest's lineage
    log — and return the final table. The oracle is the raw events
    table: exactly-once means the replay changes nothing."""
    import tempfile

    from profet_spark.sources import versioned as V
    from profet_spark.streaming import versioned_sink as VS

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts",
        F.col("value").cast("double").alias("val"))
    store = tempfile.mkdtemp(prefix="st_s13_store_")
    V.create_versioned(ev.where(F.col("ts") < F.lit("2024-01-20")), store,
                       ts_col="ts", entity_col="user_id", n_buckets=8,
                       lineage="st_s13: base load")
    late = ev.where(F.col("ts") >= F.lit("2024-01-20"))
    src = tempfile.mkdtemp(prefix="st_s13_src_")
    late.repartition(2).write.mode("overwrite").parquet(src)

    def _run():
        stream = (spark.readStream.schema(late.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        VS.append_stream(stream, store,
                         tempfile.mkdtemp(prefix="st_s13_ck_"),
                         lineage_prefix="st_s13").awaitTermination()

    _run()   # ingest: one append commit per micro-batch
    _run()   # crash-replay twin: fresh checkpoint, same ids -> all skipped
    return V.read_versioned(spark, store).select(
        "event_id", "user_id", "ts", "val")


def _q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 Iceberg-style hidden partitioning, driver-graded end to end:
    write events through the days(ts) x bucket(8, user_id) partition spec
    (fresh temp dir), scan back with a ts-range + entity-set predicate that
    the layer rewrites into PartitionFilters (directory pruning — asserted
    against the physical plan in tests/test_partitioned.py), and aggregate.
    The oracle applies the same row-level predicates to the raw table:
    pruning must never change results."""
    import datetime
    import tempfile

    from profet_spark.sources import partitioned as P

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts")
    out = tempfile.mkdtemp(prefix="s1_part_")
    P.write_partitioned(ev, out, ts_col="ts", entity_col="user_id", n_buckets=8)
    lo = ev.agg(F.min("ts")).collect()[0][0]
    hi = lo + datetime.timedelta(days=3)
    pruned = P.scan_pruned(spark, out, ts_col="ts", entity_col="user_id",
                           n_buckets=8, ts_between=(lo, hi),
                           entity_in=list(range(20)))
    return pruned.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_eid"),
        F.max("event_id").alias("max_eid"),
    )


def _q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming, driver-graded: replay the events table through the
    Structured Streaming tumbling-count twin (file source -> watermark ->
    window agg -> availableNow -> memory sink) and return the drained
    result. The oracle is the SAME SQL as the batch w7_tumbling operator —
    streaming/batch parity is the graded contract."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_tumbling_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    st.run_available_now(st.tumbling_counts(stream, "1 hour"), name)
    return spark.table(name).select(
        "user_id", "win_start", "n", F.col("sv").cast("string").alias("sv"))


def _q_embedding_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5-scale: LSH-bucketed embedding near-dup pairs. Fully oracle-graded
    even though bucketed: the 64-plane sign signatures are deterministic
    integer dot products, so the DuckDB twin replicates band collision AND
    the exact int64 cosine bit for bit (_duck_lsh_dup_sql)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_dup_pairs_lsh(emb, threshold=0.3)


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4 product quantization (similarity.pq_encode/pq_topk): the
    compressed embedding store (m=8 one-byte codes per row instead of
    64 float32s) + asymmetric-distance top-k over it. Graded with the
    deterministic ``codebooks='lowest_id'`` (same convention as N3/D9):
    encoding argmins, the per-query LUTs, and the ADC sums are all exact
    int64, so the APPROXIMATE result reproduces in SQL bit for bit —
    approximation error and all. The production kmeans codebooks and the
    exact-L2 rerank tier are pytest-asserted (recall vs brute force)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, emb.where(F.col("vec_id") < 20), k=5, codebooks="lowest_id")


def _q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4×N3 IVF-PQ (similarity.ivf_pq_topk): coarse L2 cell pruning over
    the PQ-compressed store — the FAISS-IVFADC shape. Graded fully
    deterministic (lowest_id coarse centroids AND codebooks): cell
    assignment, probing, encode argmins, and ADC sums are all exact
    int64, so the doubly-approximate result reproduces in SQL bitwise;
    kmeans quality + the exact rerank tier are pytest-asserted."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb, emb.where(F.col("vec_id") < 20), k=5,
        n_centroids=16, n_probe=3, coarse="lowest_id",
        codebooks="lowest_id")


def _q_ivf_pq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4×N3 index build (similarity.ivf_pq_encode): the persistable
    (id, cid, codes) IVF-PQ table — graded as exploded scalar rows
    (vec_id, cid, s, code) so the driver hash covers every code byte.
    The partitionBy('cid') write + PartitionFilters probe pruning is
    executed in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = similarity.ivf_pq_encode(emb, n_centroids=16,
                                   coarse="lowest_id",
                                   codebooks="lowest_id")
    return idx.select(
        F.col("id").alias("vec_id"), "cid",
        F.posexplode("codes").alias("s", "code"))


def _q_ivf_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4×N3 SERVING path (similarity.write_ivf_pq_index/ivf_pq_probe):
    persist the index + codebooks to parquet, then answer the SAME query
    set from the compressed artifact alone — probed cells are a pushed
    PartitionFilter, no corpus vectors are read. Graded against the SAME
    oracle SQL as n4_ivf_pq_topk: the strongest roundtrip evidence the
    contract allows (persisted-store serving == in-memory build,
    bitwise)."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="n4_ivfpq_")
    similarity.write_ivf_pq_index(emb, root, n_centroids=16,
                                  coarse="lowest_id",
                                  codebooks="lowest_id")
    return similarity.ivf_pq_probe(
        spark, root, emb.where(F.col("vec_id") < 20), k=5, n_probe=3)


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 SemDeDup (operators/dedup.py semantic_dup_pairs/semdedup):
    coarse k-means cells, then the near-dup pair search ONLY within each
    cell — sum(m_c^2) instead of n^2 pair work, ONE cid-hash Exchange.
    Graded with ``centroids='lowest_id'`` (the deterministic strategy,
    same convention as n3_ivf_ann) so assignment (argmax cosine, ties ->
    lowest cid), the within-cell exact int64 cosines, AND the keep-min-id
    drop set all reproduce in SQL bit for bit; the production kmeans
    default's recall is pytest-asserted instead. Parts: 'pair' rows
    (id_a, id_b, cid, cosine) + 'drop' rows (the non-canonical member of
    every semantic-duplicate component)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.semantic_dup_pairs(
        emb, n_centroids=8, threshold=0.3, centroids="lowest_id")
    clusters = dedup.dup_clusters(pairs)
    drops = clusters.where(F.col("id") != F.col("cluster_id"))
    p = pairs.select(F.lit("pair").alias("part"), "id_a", "id_b",
                     "cid", "cosine")
    dr = drops.select(F.lit("drop").alias("part"),
                      F.col("id").alias("id_a"),
                      F.lit(-1).cast("bigint").alias("id_b"),
                      F.lit(-1).cast("int").alias("cid"),
                      F.lit(-1.0).cast("double").alias("cosine"))
    return p.unionByName(dr)


def _q_embedding_dup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5+D9 in one graded row: brute-force verifier pairs, the
    LSH-bucketed scale path, and the SemDeDup within-cluster tier plus
    its keep-min-id drop set, tier-tagged. The LSH output is a strict
    subset of brute (identical int64 cosine arithmetic) and the 'sem'
    pairs are the same arithmetic restricted to same-cell pairs, so one
    UNION ALL oracle hash-grades recall AND exactness of all tiers at
    once."""
    brute = _q_embedding_dup(spark, sf_dir)
    lsh = _q_embedding_dup_lsh(spark, sf_dir)
    sem = _q_semantic_dedup(spark, sf_dir)
    mcid = F.lit(-1).cast("int").alias("cid")
    return (brute.select(F.lit("brute").alias("tier"), "id_a", "id_b",
                         mcid, "cosine")
            .unionByName(lsh.select(F.lit("lsh").alias("tier"), "id_a",
                                    "id_b", mcid, "cosine"))
            .unionByName(sem.select(
                F.concat(F.lit("sem-"), F.col("part")).alias("tier"),
                "id_a", "id_b", "cid", "cosine")))


def _q_feature_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S5: feature sink + source round trip, graded end to end. Quality
    features are WRITTEN to a fresh parquet feature table and READ BACK,
    then aggregated with order-insensitive stats (count / integer sum /
    min / max — doubles survive parquet bit-for-bit, and min/max avoid
    order-dependent double summation). The oracle aggregates the same
    features computed directly, so any sink/source corruption fails the
    hash."""
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    feats = ts.add_quality_features(docs).select(
        "doc_id", "n_tokens", "quality_score")
    out = tempfile.mkdtemp(prefix="s4_features_") + "/features"
    feats.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy((F.col("doc_id") % 10).alias("g")).agg(
        F.count("*").alias("n"),
        F.sum("n_tokens").alias("sum_tokens"),
        F.min("quality_score").alias("min_q"),
        F.max("quality_score").alias("max_q"),
    )


def _stream_events_dir(sf_dir: str) -> str:
    """Copy the events parquet into a fresh dir for a file-source stream."""
    import os
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="st_events_")
    shutil.copy(os.path.join(sf_dir, "events.parquet"),
                os.path.join(d, "part-0.parquet"))
    return d


def _q_stream_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 A17 streaming twin: per-day theta distinct sketches built by
    a STREAMING windowed aggregation (state = partial sketch bytes per
    open window), drained with availableNow, then the batch
    retention_rollup set expressions over the drained sketch rows. In
    the exact-mode regime the streamed sketches equal the batch rollup's
    (merge-order-free hash sample), so this grades against the SAME SQL
    oracle as a17_theta_retention — streaming/batch parity on sketch
    STATE is the graded contract."""
    import uuid

    from profet_spark import streaming as st
    from profet_spark.operators import sketches

    ev = _events(spark, sf_dir)
    name = f"st_theta_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    # complete mode: append would withhold the final day's window (the
    # watermark never passes the max event time), dropping one pair
    st.run_available_now(st.theta_daily_rollup(stream), name)
    return sketches.retention_rollup(spark.table(name), "day").select(
        "period_a", "period_b", "n_a", "n_b", "retained", "churned",
        "fresh")


def _q_stream_stateful_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 CUSTOM STATEFUL streaming operator, driver-graded: the
    applyInPandasWithState as-of join (O(1) per-entity state across
    micro-batches — the pattern built-in stream joins cannot express)
    replayed over events with availableNow, graded against DuckDB's native
    ASOF JOIN. Streaming state semantics vs a SQL oracle is the strongest
    §2.9 evidence the contract allows."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_asof_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    tagged = stream.withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value")))
    st.run_available_now(st.stateful_asof_attach(tagged), name,
                         output_mode="append")
    return spark.table(name).select("event_id", "user_id", "value", "pv_asof")


def _q_stream_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 FM streaming twin: the N-table feature-store spine join as one
    applyInPandasWithState operator (per-column O(1) state), replayed with
    availableNow and graded against chained DuckDB ASOF JOINs — the
    streaming analog of fm_training_matrix."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_fm_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    tagged = (stream
              .withColumn("pv", F.when(F.col("event_type") == "purchase",
                                       F.col("value")))
              .withColumn("cv", F.when(F.col("event_type") == "click",
                                       F.col("value"))))
    st.run_available_now(
        st.stateful_matrix_attach(tagged, right_cols=["pv", "cv"]),
        name, output_mode="append")
    return spark.table(name).select("event_id", "user_id", "value",
                                    "pv_asof", "cv_asof")


def _q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 session-window streaming twin, driver-graded: F.session_window
    gap sessions drained via availableNow must equal the batch sessionize
    + per-session aggregate SQL."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_sess_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    st.run_available_now(st.session_agg(stream, 3600), name)
    return spark.table(name).select("user_id", "session_start", "n")


def _q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 W11 streaming twin: the stateful Hamming-drift profile
    (applyInPandasWithState; last-bits + cumulative + recent-history state)
    replayed with availableNow and graded against the SAME DuckDB oracle
    as the batch w11_phash_drift (restricted to the shared columns)."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_drift_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(
        spark, _stream_events_dir(sf_dir), ev.schema
    ).withColumn("ph", _phash64("props"))
    st.run_available_now(st.stateful_drift_profile(stream, "ph"), name,
                         output_mode="append")
    return spark.table(name).select("event_id", "user_id", "ph", "ph_drift",
                                    "ph_drift_mean4", "ph_drift_cum")


def _q_stream_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 W12 streaming twin: bounded half-life decayed stats as a
    stateful kernel ((n-1)-value history + presence mask per entity),
    replayed with availableNow and graded against the SAME DuckDB oracle
    as the batch w12_decayed — including its bitwise float contract."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_decay_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    st.run_available_now(
        st.stateful_decayed_stats(stream, "value", n=_W12_N,
                                  decay=_W12_DECAY),
        name, output_mode="append")
    return spark.table(name).select(
        "user_id", "ts", "event_id", f"value_dsum{_W12_N}",
        f"value_dwt{_W12_N}", f"value_dmean{_W12_N}")


def _q_stream_wagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 FM3 streaming twin: trailing-window aggregation features
    (purchases in the 2h before each event) as a stateful kernel whose
    per-entity state is only the in-window feature rows — replayed with
    availableNow and graded against an inequality-join+group DuckDB
    oracle (count + int64 sum/min/max, all exact)."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_wagg_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(
        spark, _stream_events_dir(sf_dir), ev.schema
    ).withColumn("f_eid", F.when(F.col("event_type") == "purchase",
                                 F.col("event_id")))
    st.run_available_now(
        st.stateful_windowed_agg(stream, "f_eid", window_s=7200.0),
        name, output_mode="append")
    return spark.table(name).select(
        "user_id", "ts", "event_id", "f_eid_n", "f_eid_sum", "f_eid_min",
        "f_eid_max")


def _q_stream_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 FE2 streaming twin: online time-aware target encoding —
    O(1) per-category (count, exact micro-unit sum) state, each row
    encoded strictly before its own label folds in. Replayed with
    availableNow and graded against the SAME mirrored-decimal DuckDB
    oracle as the batch fe2 (smoothed variant)."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_te_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir),
                                    ev.schema)
    st.run_available_now(
        st.stateful_target_encode(stream, "event_type", "value",
                                  smoothing=_FE2_M, prior=_FE2_PRIOR,
                                  out_col="te_smooth"),
        name, output_mode="append")
    return spark.table(name).select("event_id", "ts", "event_type",
                                    "value", "te_smooth")


def _e2e_oracle_sql() -> str:
    """DuckDB twin of _q_e2e_training_pipeline: the four component
    oracles (FM ASOF joins, FM5 fold grid, FE1 mirrored scaler text,
    FE2 strictly-prior window) composed as one CTE chain — identical
    expression text to each component oracle, so the integrated result
    is bitwise."""
    n, k = _FM5_KW["n_folds"], _FM5_KW["val_fold"]
    emb = int(round(_FM5_KW["embargo_s"] * 1_000_000))
    pur = int(round(_FM5_KW["purge_s"] * 1_000_000))
    m, p = _FE2_M, _FE2_PRIOR
    fold = lambda shift: (  # noqa: E731
        f"least(CAST({n - 1} AS BIGINT), "
        f"(greatest(us + CAST({shift} AS BIGINT), lo) - lo) * {n} "
        f"// (hi - lo + 1))")
    stats = lambda c: (  # noqa: E731
        f"count({c}) AS n_{c}, "
        f"CAST(sum(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS s_{c}, "
        f"CAST(sum(CAST({c} AS DECIMAL(18,6)) * CAST({c} AS DECIMAL(18,6)))"
        f" AS DOUBLE) AS ss_{c}")
    std = lambda c: (  # noqa: E731
        f"CASE WHEN n_{c} >= 2 THEN sqrt(greatest("
        f"(ss_{c} - s_{c} * (s_{c} / CAST(n_{c} AS DOUBLE)))"
        f" / (CAST(n_{c} AS DOUBLE) - 1.0), 0.0)) END")
    z = lambda c: (  # noqa: E731
        f"CASE WHEN sd_{c} > 0 THEN ({c} - m_{c}) / sd_{c} END")
    te = (f"CASE WHEN CAST(n_prev AS DOUBLE) + {m!r} > 0 THEN "
          f"(coalesce(s_prev, 0.0) + {m!r} * {p!r})"
          f" / (CAST(n_prev AS DOUBLE) + {m!r}) END")
    return f"""
        WITH purch AS (
          SELECT user_id, ts, max(value) AS purch_val
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        clicks AS (
          SELECT user_id, ts, CAST(count(*) AS DOUBLE) AS n_click
          FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        mat AS (
          SELECT e.user_id, e.ts, e.event_id, e.event_type,
                 CAST(e.value AS DOUBLE) AS value,
                 pf.purch_val, c.n_click
          FROM events e
          ASOF LEFT JOIN purch pf
            ON e.user_id = pf.user_id AND e.ts >= pf.ts
          ASOF LEFT JOIN clicks c
            ON e.user_id = c.user_id AND e.ts >= c.ts),
        b AS (
          SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
          FROM mat),
        r AS (
          SELECT mat.*, epoch_us(ts) AS us, b.lo, b.hi FROM mat, b),
        f AS (
          SELECT *, {fold(0)} AS fold, {fold(pur)} AS fold_p,
                 {fold(-emb)} AS fold_e
          FROM r),
        roled AS (
          SELECT user_id, ts, event_id, event_type, value, purch_val,
                 n_click, fold,
                 CASE WHEN fold = {k} THEN 'val'
                      WHEN fold < {k} AND fold_p >= {k} THEN 'purged'
                      WHEN fold > {k} AND fold_e <= {k} THEN 'purged'
                      ELSE 'train' END AS cv_role
          FROM f),
        fit AS (
          SELECT {stats('value')}, {stats('purch_val')}
          FROM roled WHERE cv_role = 'train'),
        sc AS (
          SELECT n_value, s_value / CAST(n_value AS DOUBLE) AS m_value,
                 {std('value')} AS sd_value,
                 n_purch_val,
                 s_purch_val / CAST(n_purch_val AS DOUBLE) AS m_purch_val,
                 {std('purch_val')} AS sd_purch_val
          FROM fit),
        zed AS (
          SELECT roled.*, {z('value')} AS value_z,
                 {z('purch_val')} AS purch_val_z
          FROM roled, sc),
        w AS (
          SELECT zed.*,
                 count(CAST(value AS DECIMAL(18,6))) OVER win AS n_prev,
                 CAST(sum(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE)
                   AS s_prev
          FROM zed
          WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        SELECT user_id, ts, event_id, event_type, fold, cv_role, value,
               purch_val, n_click, value_z, purch_val_z,
               {te} AS te_smooth
        FROM w
    """


def _q_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 FM4 streaming twin: the production drift monitor — per-6h
    tumbling window drift histograms of the streamed 'current' half
    against the STATIC reference edges (stream-static broadcast join +
    windowed count). Replayed with availableNow; the oracle recomputes
    the same bins and windows over the same slice in DuckDB."""
    import uuid

    from profet_spark import streaming as st
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir)
    split = F.lit(_FM4_SPLIT).cast("timestamp")
    base = ev.select(
        "ts", F.col("value").cast("double").alias("value"),
        F.length("props").cast("double").alias("plen"))
    edges = fm.drift_edges(base.where(F.col("ts") < split),
                           ["value", "plen"])
    name = f"st_drift_{uuid.uuid4().hex[:8]}"
    stream = (st.read_parquet_stream(spark, _stream_events_dir(sf_dir),
                                     ev.schema)
              .where(F.col("ts") >= F.lit(_FM4_SPLIT).cast("timestamp"))
              .select("ts", F.col("value").cast("double").alias("value"),
                      F.length("props").cast("double").alias("plen")))
    st.run_available_now(
        st.windowed_drift_counts(stream, edges, ["value", "plen"],
                                 n_bins=_FM4_BINS, window="6 hours"),
        name)
    return spark.table(name).select(
        F.col("win_start").cast("timestamp_ntz").alias("win_start"),
        F.col("win_end").cast("timestamp_ntz").alias("win_end"),
        "feature", "bin", "n_cur")


def _st_fm4_oracle_sql() -> str:
    """DuckDB twin of _q_stream_drift_monitor: identical edge/bin expressions
    (shared with _fm4_oracle_sql), time_bucket tumbling windows."""
    n, split = _FM4_BINS, _FM4_SPLIT
    return f"""
        WITH base AS (
          SELECT ts, CAST(value AS DOUBLE) AS value,
                 CAST(length(props) AS DOUBLE) AS plen
          FROM events),
        refp AS (
          SELECT 'plen' AS feature, plen AS v FROM base
          WHERE ts < TIMESTAMP '{split}' AND plen IS NOT NULL
          UNION ALL
          SELECT 'value', value FROM base
          WHERE ts < TIMESTAMP '{split}' AND value IS NOT NULL),
        edges AS (
          SELECT feature, min(v) AS lo, max(v) AS hi
          FROM refp GROUP BY 1),
        cur AS (
          SELECT ts, 'plen' AS feature, plen AS v FROM base
          WHERE ts >= TIMESTAMP '{split}' AND plen IS NOT NULL
          UNION ALL
          SELECT ts, 'value', value FROM base
          WHERE ts >= TIMESTAMP '{split}' AND value IS NOT NULL),
        binned AS (
          SELECT time_bucket(INTERVAL '6 hours', c.ts) AS win_start,
                 c.feature,
                 CASE WHEN e.hi = e.lo THEN CAST(1 AS BIGINT)
                      ELSE 1 + CAST(floor(least(greatest(
                               ((c.v - e.lo) * {float(n)!r}) / (e.hi - e.lo),
                               0.0), {float(n - 1)!r})) AS BIGINT)
                 END AS bin
          FROM cur c JOIN edges e USING (feature))
        SELECT win_start, win_start + INTERVAL '6 hours' AS win_end,
               feature, bin, CAST(count(*) AS BIGINT) AS n_cur
        FROM binned
        GROUP BY win_start, feature, bin
    """


# ------------------------------------------- merged coverage queries
# The driver grades only the FIRST 50 keys of queries() (insertion order).
# Full §2 operator coverage needs ~57 distinct queries, so closely-related
# single-operator queries are ALSO exposed as merged suites: each suite is
# a join/union of already-hash-green components over the same table, giving
# one green driver row that covers several §2 operators at once. The
# individual component queries stay registered past position 50 and remain
# locally oracle-tested (tests/test_entry_oracle.py runs every key).


def _q_kmer_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+A3 merged: char / bigram / trigram composition spectra in one
    long frame tagged by k (A1 over the raw alphabet, A2/A3 over the
    hydrophobicity-reduced alphabet — same shapes as the component
    queries, which remain registered individually)."""
    a1 = _q_char_comp(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("k"), F.col("ch").alias("gram"), "cnt", "freq")
    a2 = _q_bigram_comp(spark, sf_dir).select(
        "doc_id", F.lit(2).alias("k"), F.col("kmer").alias("gram"), "cnt", "freq")
    a3 = _q_trigram_comp(spark, sf_dir).select(
        "doc_id", F.lit(3).alias("k"), F.col("kmer").alias("gram"), "cnt", "freq")
    return a1.unionByName(a2).unionByName(a3)


def _q_ctd_comp_trans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A5 merged: CTD composition and transition (hydrophobicity
    property) joined per document. Inner join = docs with len(t) > 1 on
    both engines (A5's filter dominates)."""
    return _q_ctd_comp(spark, sf_dir).join(_q_ctd_trans(spark, sf_dir), "doc_id")


def _q_textstats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+T3+T4+T5 merged: one chained pass over documents adds
    language ID, quality features, token counts, the minhash fingerprint,
    and the repetition features — the production single-scan shape (the
    scalar add_* are withColumn-only; T4/T5 each contribute one narrow
    join-back keyed on doc_id)."""
    docs = load_table(spark, sf_dir, "documents")
    out = ts.add_repetition_features(ts.add_fingerprint(
        ts.add_token_counts(ts.add_quality_features(ts.add_language_id(docs)))))
    return out.select(
        "doc_id", "lang", "pred_lang", "pred_score",
        "n_tokens", "mean_tok_len", "alpha_ratio", "stopword_ratio",
        "quality_score", "ws_tokens", "bpe_tokens", "fp_minhash", "fp_windows",
        "dup_2gram_frac", "top_2gram_frac", "dup_3gram_frac", "top_3gram_frac")


def _q_event_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5+C7 merged: date/time scalars and map scalars in one per-event
    codegen'd projection (same expressions as c5_date_scalars /
    c7_map_ops, ungrouped so both operator families grade per row)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    m = F.map_from_arrays(F.array(F.lit("k"), F.lit("k2")), F.array(k, k * 2))
    mf = F.map_filter(m, lambda _, v: v % 2 == 0)
    mc = F.map_concat(
        m, F.create_map(F.lit("etype_len"), F.length("event_type").cast("bigint")))
    return ev.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day"),
        F.hour("ts").alias("hr"),
        F.dayofweek("ts").alias("dow"),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).alias("ts_shift"),
        F.element_at(m, F.lit("k")).alias("k_val"),
        F.element_at(m, F.lit("k2")).alias("k2_val"),
        F.size(mf).alias("n_even"),
        F.size(mc).alias("n_all"),
        F.concat_ws(",", F.array_sort(F.map_keys(mc))).alias("keys_sorted"),
    )


def _q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: connected components over the D3 MinHash-LSH pair edges —
    (id, cluster_id=min member id). The min-label fixpoint is unique, so
    the iterative Spark loop grades hash-exact against a DuckDB recursive
    CTE over the same pair SQL."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5)
    return dedup.dup_clusters(pairs)


def _q_setops_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4+O1/O5 merged: exceptAll multiset difference (COMPOSED from the
    o4 component so the definitions cannot drift, mirroring the oracle
    composition), then global top-25 by multiplicity (deterministic
    tiebreak) — TakeOrderedAndProject over the set-op result, no full
    sort."""
    return (_q_set_ops(spark, sf_dir)
            .orderBy(F.desc("n"), F.asc("o_custkey")).limit(25))


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 stateful-dedup twin: dropDuplicatesWithinWatermark on
    (user_id, ts) replayed with availableNow. Only the deduped KEYS are
    graded (which row survives among exact-key duplicates is
    engine-arbitrary; the key set is deterministic)."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_dedup_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    st.run_available_now(
        st.dedup_within_watermark(stream, ["user_id", "ts"]).select("user_id", "ts"),
        name, output_mode="append")
    # the stream cast ts NTZ->LTZ for the watermark; cast back for grading
    return spark.table(name).select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts"))


def _q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 sliding-window twin: overlapping F.window counts drained via
    availableNow must equal the batch sliding-window SQL."""
    import uuid

    from profet_spark import streaming as st

    ev = _events(spark, sf_dir)
    name = f"st_slide_{uuid.uuid4().hex[:8]}"
    stream = st.read_parquet_stream(spark, _stream_events_dir(sf_dir), ev.schema)
    st.run_available_now(st.sliding_counts(stream, "1 hour", "15 minutes"), name)
    return spark.table(name).select(
        "user_id", F.col("win_start").cast("timestamp_ntz").alias("win_start"), "n")


def _q_seqorder_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12+A13+A14 merged suite (frees two grading-window slots for the
    round-4 store-maintenance / streaming-profile suites): PseAAC lag
    correlation, per-entity autocorrelation, and both quasi-sequence-order
    distance variants in one generic (part, e, i1-i3, x1-x3) layout. The
    component queries stay registered at 51+ and mirror-graded."""
    i64 = lambda v: F.lit(v).cast("bigint")  # noqa: E731
    pse = _q_pseaac_corr(spark, sf_dir).select(
        F.lit("pse").alias("part"), F.col("doc_id").alias("e"),
        i64(-1).alias("i1"), i64(-1).alias("i2"), i64(-1).alias("i3"),
        F.col("pse_corr_1").alias("x1"), F.col("pse_corr_2").alias("x2"),
        F.col("pse_corr_3").alias("x3"))
    ac = _q_autocorr(spark, sf_dir).select(
        F.lit("ac").alias("part"), F.col("user_id").alias("e"),
        F.col("n").alias("i1"), i64(-1).alias("i2"), i64(-1).alias("i3"),
        F.col("autocorr_lag1").alias("x1"), F.col("autocorr_lag2").alias("x2"),
        F.col("autocorr_lag3").alias("x3"))
    qso = _q_qso(spark, sf_dir)
    qso_std = qso.select(
        F.lit("qso").alias("part"), F.col("doc_id").alias("e"),
        F.col("tau_1").alias("i1"), F.col("tau_2").alias("i2"),
        F.col("tau_3").alias("i3"),
        F.col("qso_1").alias("x1"), F.col("qso_2").alias("x2"),
        F.col("qso_3").alias("x3"))
    qso_g = qso.select(
        F.lit("qsog").alias("part"), F.col("doc_id").alias("e"),
        F.col("tau_g1").alias("i1"), F.col("tau_g2").alias("i2"),
        F.col("tau_g3").alias("i3"),
        F.col("qso_g1").alias("x1"), F.col("qso_g2").alias("x2"),
        F.col("qso_g3").alias("x3"))
    return pse.unionByName(ac).unionByName(qso_std).unionByName(qso_g)


def _q_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6+C8+C9 merged suite: array scalars over embeddings, bit ops over
    the content hash, and JSON aggregates over events in one generic
    (part, e, s, i1-i5) layout — all exact integers, so the merged row
    hash-grades. Components stay registered at 51+."""
    i64 = lambda c: F.col(c).cast("bigint")  # noqa: E731
    neg = F.lit(-1).cast("bigint")
    c6 = _q_array_ops(spark, sf_dir).select(
        F.lit("c6").alias("part"), F.col("vec_id").cast("bigint").alias("e"),
        F.lit("").alias("s"), i64("dim").alias("i1"),
        i64("first_q").alias("i2"), i64("last_q").alias("i3"),
        i64("head_sum").alias("i4"), i64("l1_q").alias("i5"))
    c8 = _q_bit_ops(spark, sf_dir).select(
        F.lit("c8").alias("part"), F.col("doc_id").cast("bigint").alias("e"),
        F.lit("").alias("s"), i64("h").alias("i1"), i64("nib_hi").alias("i2"),
        i64("nib_lo").alias("i3"), i64("popcnt").alias("i4"),
        i64("hamming_prev").alias("i5"))
    c9 = _q_json_props(spark, sf_dir).select(
        F.lit("c9").alias("part"), neg.alias("e"),
        F.col("event_type").alias("s"), i64("n").alias("i1"),
        i64("sum_k").alias("i2"), i64("min_k").alias("i3"),
        i64("max_k").alias("i4"), neg.alias("i5"))
    return c6.unionByName(c8).unionByName(c9)


def _q_store_maintenance_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+S9+S10+S12+S13+S14 merged suite, driver-graded end to end: the
    incremental upsert (dynamic partition overwrite, merged table equals
    the recomputed one), the small-file compaction (content-invariant
    rewrite), the incremental feature backfill (watermark-delta
    recompute with lookback context equals the full-history recompute,
    parts s10n/s10s), the TTL retention (day-partition expiry equals
    a closed-left day filter, part s12), the versioned-snapshot
    lifecycle (create→upsert→evolve→append→rollback→expire; parts
    s13tt/s13v4/s13src/s13rb — s13src selects rows BY the evolved
    column, so S14 schema evolution is hash-visible), and the
    exactly-once streaming append sink incl. a full fresh-checkpoint
    replay (part s13st) — every component runs its full
    write→maintain→read-back cycle against fresh temp stores; file-level
    mechanics (byte-identity of untouched partitions,
    one-file-per-victim, one-day watermark probe, metadata-only expiry,
    snapshot isolation, refcounted version expiry, replay dedupe) are
    pinned in tests/test_partitioned.py and tests/test_versioned.py."""
    s8 = _q_upsert_merge(spark, sf_dir).select(
        F.lit("s8").alias("part"), "event_id", "user_id", "ts", "val")
    s9 = _q_compaction(spark, sf_dir).select(
        F.lit("s9").alias("part"), "event_id", "user_id", "ts", "val")
    s10 = _q_incremental_backfill(spark, sf_dir)
    s10n = s10.select(
        F.lit("s10n").alias("part"), "event_id", "user_id", "ts",
        F.col("w3_n").cast("double").alias("val"))
    s10s = s10.select(
        F.lit("s10s").alias("part"), "event_id", "user_id", "ts",
        F.col("w3_sum").cast("double").alias("val"))
    s12 = _q_retention(spark, sf_dir).select(
        F.lit("s12").alias("part"), "event_id", "user_id", "ts", "val")
    # S1b raw-ingest roundtrips (round 5, VERDICT r4 ask #2): JSONL +
    # CSV quarantine ingest, every surviving row value-visible — the
    # string payload rides the suite's `s` column as a \x1f-joined
    # (text, lang, source) tuple, counts in user_id
    def _s1b(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("part"),
            F.col("doc_id").cast("bigint").alias("event_id"),
            F.col("n_chars").cast("bigint").alias("user_id"),
            F.lit(None).cast("timestamp_ntz").alias("ts"),
            F.lit(-1.0).cast("double").alias("val"),
            F.concat_ws("\x1f", "text", "lang", "source").alias("s"))

    s1bj = _s1b(_q_ingest_roundtrip(spark, sf_dir), "s1bj")
    s1bc = _s1b(_q_ingest_csv_roundtrip(spark, sf_dir), "s1bc")
    # S13/S14 lifecycle + the exactly-once streaming sink, folded into
    # the DRIVER-GRADED window (standalone keys stay at 51+): tt = time
    # travel, v4 = post-evolve/append snapshot, src = rows selected BY
    # the evolved column (schema evolution is hash-visible as
    # membership), rb = rollback, st = streamed appends + full replay
    s13 = _q_versioned_store(spark, sf_dir)
    cols = ["event_id", "user_id", "ts", "val"]
    s13tt = s13.where(F.col("part") == "tt").select(
        F.lit("s13tt").alias("part"), *cols)
    s13v4 = s13.where(F.col("part") == "v4").select(
        F.lit("s13v4").alias("part"), *cols)
    s13src = s13.where((F.col("part") == "v4")
                       & (F.col("src") == "late")).select(
        F.lit("s13src").alias("part"), *cols)
    s13rb = s13.where(F.col("part") == "rb").select(
        F.lit("s13rb").alias("part"), *cols)
    s13st = _q_stream_versioned_append(spark, sf_dir).select(
        F.lit("s13st").alias("part"), *cols)
    out = (s8.unionByName(s9).unionByName(s10n).unionByName(s10s)
           .unionByName(s12).unionByName(s13tt).unionByName(s13v4)
           .unionByName(s13src).unionByName(s13rb).unionByName(s13st))
    return (out.withColumn("s", F.lit(""))
            .unionByName(s1bj).unionByName(s1bc))


def _q_stream_profile_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 merged streaming suite #1 — the five profile/monitor twins
    (st_w11 drift, st_w12 decayed, st_fm3 trailing-window aggregates,
    st_fe2 online target encode, st_fm4 drift monitor) replayed with
    availableNow and unioned part-tagged into one generic
    (part, e, t, s, i1-i4, x1) layout. Each part grades against the SAME
    SQL as its batch operator (composed verbatim in oracle_sql), so this
    one driver row certifies five stateful streaming kernels."""
    i64 = lambda v: F.lit(v).cast("bigint")  # noqa: E731
    ntz = lambda c: F.col(c).cast("timestamp_ntz")  # noqa: E731
    null_t = F.lit(None).cast("timestamp_ntz")
    drift = _q_stream_drift(spark, sf_dir).select(
        F.lit("w11").alias("part"), F.col("user_id").alias("e"),
        null_t.alias("t"), F.lit("").alias("s"),
        F.col("event_id").alias("i1"), F.col("ph_drift").alias("i2"),
        F.col("ph_drift_cum").alias("i3"), F.col("ph").alias("i4"),
        F.col("ph_drift_mean4").alias("x1"))
    dec = _q_stream_decayed(spark, sf_dir)
    decay_parts = [
        dec.select(
            F.lit(tag).alias("part"), F.col("user_id").alias("e"),
            ntz("ts").alias("t"), F.lit("").alias("s"),
            F.col("event_id").alias("i1"), i64(-1).alias("i2"),
            i64(-1).alias("i3"), i64(-1).alias("i4"), F.col(c).alias("x1"))
        for tag, c in [("dsum", f"value_dsum{_W12_N}"),
                       ("dwt", f"value_dwt{_W12_N}"),
                       ("dmean", f"value_dmean{_W12_N}")]]
    wagg = _q_stream_wagg(spark, sf_dir).select(
        F.lit("wagg").alias("part"), F.col("user_id").alias("e"),
        ntz("ts").alias("t"), F.lit("").alias("s"),
        F.col("event_id").alias("i1"), F.col("f_eid_n").alias("i2"),
        F.col("f_eid_sum").alias("i3"), F.col("f_eid_min").alias("i4"),
        F.col("f_eid_max").cast("double").alias("x1"))
    te = _q_stream_target_encode(spark, sf_dir).select(
        F.lit("te").alias("part"), F.col("event_id").alias("e"),
        ntz("ts").alias("t"), F.col("event_type").alias("s"),
        i64(-1).alias("i1"), i64(-1).alias("i2"), i64(-1).alias("i3"),
        i64(-1).alias("i4"), F.col("te_smooth").alias("x1"))
    fm4 = _q_stream_drift_monitor(spark, sf_dir).select(
        F.lit("fm4").alias("part"), i64(-1).alias("e"),
        F.col("win_start").alias("t"), F.col("feature").alias("s"),
        F.col("bin").alias("i1"), F.col("n_cur").alias("i2"),
        i64(-1).alias("i3"), i64(-1).alias("i4"), F.lit(-1.0).alias("x1"))
    # st_a17 streaming theta retention (round 5, VERDICT r4 ask #2):
    # the day-pair set-algebra counts from streamed daily sketches —
    # grades against the batch A17 oracle verbatim
    a17 = _q_stream_theta_retention(spark, sf_dir).select(
        F.lit("a17").alias("part"),
        F.col("period_a").cast("bigint").alias("e"),
        null_t.alias("t"), F.col("period_b").cast("string").alias("s"),
        F.col("n_a").cast("bigint").alias("i1"),
        F.col("n_b").cast("bigint").alias("i2"),
        F.col("retained").cast("bigint").alias("i3"),
        F.col("churned").cast("bigint").alias("i4"),
        F.col("fresh").cast("double").alias("x1"))
    out = drift
    for p in decay_parts + [wagg, te, fm4, a17]:
        out = out.unionByName(p)
    return out


def _q_stream_curation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 merged streaming suite #2 — the remaining three twins
    (st_f3 watermark dedup, st_w7 sliding counts, st_fm N-table matrix
    attach) replayed with availableNow, part-tagged in one generic
    (part, e, t, i1, x1-x3) layout; same composed-oracle contract as the
    profile suite."""
    i64 = lambda v: F.lit(v).cast("bigint")  # noqa: E731
    null_t = F.lit(None).cast("timestamp_ntz")
    ded = _q_stream_dedup(spark, sf_dir).select(
        F.lit("dedup").alias("part"), F.col("user_id").alias("e"),
        F.col("ts").alias("t"), i64(-1).alias("i1"),
        F.lit(-1.0).alias("x1"), F.lit(-1.0).alias("x2"),
        F.lit(-1.0).alias("x3"))
    sli = _q_stream_sliding(spark, sf_dir).select(
        F.lit("slide").alias("part"), F.col("user_id").alias("e"),
        F.col("win_start").alias("t"), F.col("n").cast("bigint").alias("i1"),
        F.lit(-1.0).alias("x1"), F.lit(-1.0).alias("x2"),
        F.lit(-1.0).alias("x3"))
    mat = _q_stream_matrix(spark, sf_dir).select(
        F.lit("matrix").alias("part"), F.col("user_id").alias("e"),
        null_t.alias("t"), F.col("event_id").alias("i1"),
        F.col("value").cast("double").alias("x1"),
        F.col("pv_asof").cast("double").alias("x2"),
        F.col("cv_asof").cast("double").alias("x3"))
    return ded.unionByName(sli).unionByName(mat)


def _q_j4j5_range_anti_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+J5 merged suite (frees a grading-window slot for the round-4
    hygiene suite): the purchase-validity interval join and the
    no-orders anti join part-tagged in one generic (part, e, t, i1, s)
    layout. Components stay registered at 51+ and mirror-graded."""
    j4 = _q_range_join(spark, sf_dir).select(
        F.lit("j4").alias("part"), F.col("user_id").cast("bigint").alias("e"),
        F.col("start_ts").cast("timestamp_ntz").alias("t"),
        F.col("n_events").cast("bigint").alias("i1"), F.col("sv").alias("s"))
    j5 = _q_anti_join(spark, sf_dir).select(
        F.lit("j5").alias("part"),
        F.col("user_id").cast("bigint").alias("e"),
        F.lit(None).cast("timestamp_ntz").alias("t"),
        F.col("n_events").cast("bigint").alias("i1"), F.lit("").alias("s"))
    # J3f forward as-of label attachment (round 4 session 6): e carries
    # the spine event, t its ts, i1 the matched outcome's event_id
    # (NULL = right-censored inside the horizon)
    j3f = _q_label_forward(spark, sf_dir).select(
        F.lit("j3f").alias("part"), F.col("event_id").alias("e"),
        F.col("ts").cast("timestamp_ntz").alias("t"),
        F.col("y_id").cast("bigint").alias("i1"), F.lit("").alias("s"))
    # JB Bloom-membership joins (round 4: operators/membership.py) —
    # semi + anti over the same build set partition the events table,
    # so the suite grades both routing branches AND their completeness
    jbs = _q_bloom_semi(spark, sf_dir).select(
        F.lit("jbs").alias("part"), F.col("event_id").alias("e"),
        F.col("ts").alias("t"),
        F.col("user_id").cast("bigint").alias("i1"), F.lit("").alias("s"))
    jba = _q_bloom_anti(spark, sf_dir).select(
        F.lit("jba").alias("part"), F.col("event_id").alias("e"),
        F.col("ts").alias("t"),
        F.col("user_id").cast("bigint").alias("i1"), F.lit("").alias("s"))
    return (j4.unionByName(j5).unionByName(j3f)
            .unionByName(jbs).unionByName(jba))


def _q_a7a8_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+A8 merged suite (frees a grading-window slot so the image
    curation gate gets a driver row): per-document Shannon entropy and
    the four scalar biophysical aggregates in one generic
    (part, e, x1-x4) layout. All doubles derive from exact integer
    counts (A7 is round()ed) — the merged row hash-grades bitwise.
    Components stay registered at 51+ and mirror-graded."""
    neg = F.lit(-1.0)
    a7 = _q_entropy(spark, sf_dir).select(
        F.lit("a7").alias("part"), F.col("doc_id").alias("e"),
        F.col("entropy").alias("x1"), neg.alias("x2"), neg.alias("x3"),
        neg.alias("x4"))
    a8 = _q_scalar_features(spark, sf_dir).select(
        F.lit("a8").alias("part"), F.col("doc_id").alias("e"),
        F.col("gravy").alias("x1"), F.col("aromaticity").alias("x2"),
        F.col("net_charge").alias("x3"), F.col("frac_polar").alias("x4"))
    return a7.unionByName(a8)


# exact FLOOR division (pmod-adjusted): `div` alone truncates toward
# zero, which would disagree with DuckDB's `//`, with Spark's 1-day
# window alignment (the streaming twin), for pre-epoch timestamps.
# Identical on the post-epoch testdata; see operators/sketches.epoch_day.
_A16_DAY = ("CAST((unix_micros(CAST(ts AS TIMESTAMP)) "
            "- pmod(unix_micros(CAST(ts AS TIMESTAMP)), 86400000000))"
            " div 86400000000 AS BIGINT)")


def _q_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16 mergeable sketch rollups (operators/sketches.py): per-day HLL
    distinct-user sketches ('hll' parts), the days→total union computed
    from the SKETCH rows only ('hllm' part — the rescan-free span-query
    path), and per-user KLL(200) medians of value ('kll' parts). Graded
    in the documented EXACT regime (sparse-mode HLL at lgk=14, KLL below
    k — see the module docstring's exactness contract), where all three
    equal plain SQL distinct counts / quantile_disc bitwise; the
    approximate large-cardinality regime is property-tested in
    tests/test_sketches.py (5-sigma error envelope, idempotent union)."""
    from profet_spark.operators import sketches

    ev = _events(spark, sf_dir).withColumn("day", F.expr(_A16_DAY))
    daily = sketches.distinct_rollup(ev, ["day"], "user_id")
    hll = daily.select(
        F.lit("hll").alias("part"), F.col("day").alias("i1"),
        F.col("n_distinct_est").alias("i2"),
        F.lit(-1.0).cast("double").alias("x1"))
    hllm = sketches.merge_distinct_rollup(daily, []).select(
        F.lit("hllm").alias("part"), F.lit(-1).cast("bigint").alias("i1"),
        F.col("n_distinct_est").alias("i2"),
        F.lit(-1.0).cast("double").alias("x1"))
    kll = sketches.quantile_rollup(ev, ["user_id"], "value").select(
        F.lit("kll").alias("part"), F.col("user_id").alias("i1"),
        F.lit(-1).cast("bigint").alias("i2"), F.col("q50").alias("x1"))
    return hll.unionByName(hllm).unionByName(kll)


def _q_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 theta set-expression rollup (operators/sketches.py
    `theta_rollup` + `retention_rollup`): per-day theta sketches of
    user_id, then day-over-day retained / churned / fresh distinct
    counts computed ONLY from the stored sketch rows (intersection and
    difference — the queries HLL registers cannot answer). Graded in
    the documented EXACT regime (per-day cardinality ≤ 2^12 nominal
    entries ⇒ theta = 1, verbatim hash sample, set ops exact), where
    every count equals plain COUNT(DISTINCT)/set-algebra SQL; the
    approximate regime is property-tested (5-sigma envelope) in
    tests/test_sketches.py."""
    from profet_spark.operators import sketches

    ev = _events(spark, sf_dir).withColumn("day", F.expr(_A16_DAY))
    daily = sketches.theta_rollup(ev, ["day"], "user_id")
    return sketches.retention_rollup(daily, "day").select(
        "period_a", "period_b", "n_a", "n_b", "retained", "churned",
        "fresh")


def _q_a10a11_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+A11+A16 merged suite (frees a grading-window slot for the
    round-4 B1+B2 batch suite): distinct-count diagnostics, the rollup
    with grouping indicators, and the mergeable sketch rollups in one
    generic (part, s1, s2, s3, i1-i3, x1) layout (rollup total rows keep
    their NULL group keys — the driver hashes NULLs deterministically,
    as the standalone a11 row always did). Components stay registered at
    51+ and mirror-graded."""
    i64 = lambda c: F.col(c).cast("bigint")  # noqa: E731
    a10 = _q_distinct(spark, sf_dir).select(
        F.lit("a10").alias("part"), F.col("lang").alias("s1"),
        F.lit("").alias("s2"), F.lit("").alias("s3"),
        i64("n_docs").alias("i1"), i64("n_sources").alias("i2"),
        i64("n_contents").alias("i3"),
        F.lit(-1.0).cast("double").alias("x1"))
    a11 = _q_rollup(spark, sf_dir).select(
        F.lit("a11").alias("part"), F.col("o_orderstatus").alias("s1"),
        F.col("o_orderpriority").alias("s2"), F.col("total").alias("s3"),
        i64("n").alias("i1"), i64("g_status").alias("i2"),
        i64("g_prio").alias("i3"),
        F.lit(-1.0).cast("double").alias("x1"))
    a16 = _q_sketch_rollup(spark, sf_dir).select(
        F.concat(F.lit("a16-"), F.col("part")).alias("part"),
        F.lit("").alias("s1"), F.lit("").alias("s2"), F.lit("").alias("s3"),
        i64("i1").alias("i1"), i64("i2").alias("i2"),
        F.lit(-1).cast("bigint").alias("i3"), F.col("x1"))
    # A17 theta retention (round 4: set-expression sketch rollup) —
    # day pair in s1/s2, the three set-algebra counts in i1-i3
    a17 = _q_theta_retention(spark, sf_dir).select(
        F.lit("a17").alias("part"),
        F.col("period_a").cast("string").alias("s1"),
        F.col("period_b").cast("string").alias("s2"), F.lit("").alias("s3"),
        i64("retained").alias("i1"), i64("churned").alias("i2"),
        i64("fresh").alias("i3"), F.lit(-1.0).cast("double").alias("x1"))
    # a17m: the days→total theta UNION from the stored sketch rows only
    # (merge_theta_rollup — the rescan-free span path, theta twin of
    # a16-hllm; exact-regime == plain COUNT DISTINCT)
    from profet_spark.operators import sketches as _sk
    ev17 = _events(spark, sf_dir).withColumn("day", F.expr(_A16_DAY))
    a17m = _sk.merge_theta_rollup(
        _sk.theta_rollup(ev17, ["day"], "user_id"), []).select(
        F.lit("a17m").alias("part"), F.lit("").alias("s1"),
        F.lit("").alias("s2"), F.lit("").alias("s3"),
        i64("n_distinct_est").alias("i1"),
        F.lit(-1).cast("bigint").alias("i2"),
        F.lit(-1).cast("bigint").alias("i3"),
        F.lit(-1.0).cast("double").alias("x1"))
    return (a10.unionByName(a11).unionByName(a16).unionByName(a17)
            .unionByName(a17m))


def _q_b1b2_batch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1+B2 merged suite — the round-4 image-training batch tier in one
    driver-graded row: aspect-bucketed fixed-size batch assembly and the
    deterministic augmentation plan, part-tagged in one generic
    (part, e, s, i1-i5) layout. Each part grades against the SAME SQL as
    its standalone key (composed verbatim in oracle_sql); components
    stay registered at 51+ and mirror-graded."""
    b1 = _q_aspect_batches(spark, sf_dir).select(
        F.lit("b1").alias("part"), F.col("event_id").alias("e"),
        F.col("aspect_bucket_label").alias("s"),
        F.col("aspect_bucket").alias("i1"), F.col("shard").alias("i2"),
        F.col("batch_id").alias("i3"), F.col("batch_pos").alias("i4"),
        F.col("is_complete").cast("bigint").alias("i5"))
    b2 = _q_augment_plan(spark, sf_dir).select(
        F.lit("b2").alias("part"), F.col("event_id").alias("e"),
        F.lit("").alias("s"), F.col("epoch").alias("i1"),
        F.col("crop_x").alias("i2"), F.col("crop_y").alias("i3"),
        F.col("flip").alias("i4"), F.lit(-1).cast("bigint").alias("i5"))
    b3 = _q_epoch_order(spark, sf_dir).select(
        F.lit("b3").alias("part"), F.col("epoch").alias("e"),
        F.lit("").alias("s"),
        F.col("aspect_bucket").cast("bigint").alias("i1"),
        F.col("shard").alias("i2"), F.col("batch_id").alias("i3"),
        F.col("serve_key").alias("i4"), F.col("serve_pos").alias("i5"))
    return b1.unionByName(b2).unionByName(b3)


def _q_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ1 declarative data-quality audit
    (operators/quality.py:check_constraints): four contract checks over
    the events table compiled into ONE aggregate pass — a not-null, a
    closed range, an injective-fingerprint uniqueness, and an in-set
    membership — chosen so the report is non-vacuous (range and set
    membership FAIL on this data, the others pass). Plan shape
    (partial+final agg, the single-distinct narrow md5 exchange, no
    Expand) is pinned in tests/test_quality.py; the oracle recomputes
    every count with DuckDB FILTER aggregates and the same netstring-md5
    fingerprint."""
    from profet_spark.operators import quality as Q

    ev = _events(spark, sf_dir)
    return Q.check_constraints(ev, [
        Q.not_null("user_id"),
        Q.in_range("value", 0, 100),
        Q.unique("event_id"),
        Q.in_set("event_type", ["click", "view", "purchase"]),
    ])


def _q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ2 shuffle-planning skew histogram
    (operators/quality.py:skew_profile): the 20 heaviest user_id keys of
    the events table with exact basis-point share and the recommended
    per-key salt fan-out at 32 shuffle partitions — the measured input
    to the salted as-of strategy (operators/asof.py). One partial-agg
    key shuffle + broadcast totals + TakeOrderedAndProject (plan pinned
    in tests/test_quality.py). NULL keys are filtered on BOTH sides:
    Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST, so a null key
    row would make the tie order engine-dependent."""
    from profet_spark.operators import quality as Q

    ev = _events(spark, sf_dir).where(F.col("user_id").isNotNull())
    return Q.skew_profile(ev, "user_id", top_n=20, num_partitions=32)


# P10 per-key cap + L1 z-order layout constants (shared with the oracle)
_P10_CAP, _P10_SALT = 7, "cap-r4"
_L1_BITS, _L1_BUCKETS = 16, 16
_L1_DIMS = {"user_id": (0, 150), "sec": (0, 86399)}


def _q_cap_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 per-key frequency capping (operators/corpus.py cap_per_key):
    keep the 7 'fairest' docs per source — ranked by the salted portable
    h32 of the doc id, so the kept set is a uniform deterministic sample,
    stable across engines/cluster sizes. The hot-key hazard (row_number
    over a domain with 10^9 pages) is bounded by the exact hash-threshold
    pre-filter: survivors ~ cap*margin per key REGARDLESS of key size,
    with an in-plan assert_true guard for the vanishingly-rare margin
    bust (plan + losslessness pinned in tests/test_corpus.py). ProFET has
    no corpus-mix control; this is the C4/RefinedWeb per-domain cap."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.cap_per_key(docs, "source", cap=_P10_CAP,
                              id_col="doc_id", salt=_P10_SALT, mode="rank")


def _q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 z-order layout + skipping audit (operators/layout.py): Morton-
    interleave (user_id, second-of-day) into one exact-int key, bucket it
    with the deterministic equal-width DIV (no sampled boundaries), and
    return the per-bucket min/max spans a min/max-pruning planner reads
    from parquet footers — the OPTIMIZE ZORDER step as a graded operator.
    All arithmetic is shift/AND/OR/div on BIGINT, bitwise equal in the
    DuckDB twin; the key projection is a zero-exchange codegen'd chain
    and the audit is ONE hash aggregate (plans pinned in
    tests/test_layout.py)."""
    from profet_spark.operators import layout as LY

    ev = _events(spark, sf_dir).select(
        "user_id",
        F.expr("(unix_micros(CAST(ts AS TIMESTAMP)) div 1000000) % 86400")
        .alias("sec"))
    c = LY.cluster_by_zorder(ev, _L1_DIMS, n_buckets=_L1_BUCKETS,
                             bits=_L1_BITS)
    return LY.layout_audit(c, ["user_id", "sec"])


def _q_join_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3 join pre-flight (operators/quality.py `join_preflight`):
    orders ⋈ customer on custkey sized BEFORE the shuffle — per-side
    rows + theta distinct keys (map-side sketch agg, the full key set
    never shuffles), matched/only-left/only-right key counts via
    theta set ops (lgk=14 keeps the sketch exact through sf0.1's 15k
    distinct custkeys — the graded SFs sit far inside), and the exact
    hot-pair products (both-sides-top-5 keys, cnt_l*cnt_r output rows
    each) that AQE skew thresholds and salting are sized against."""
    from profet_spark.operators import quality as Q

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return Q.join_preflight(orders, cust, "o_custkey", "c_custkey",
                            top_n=5, lgk=14)


def _q_hygiene_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+T6+DQ1+DQ2+P10+L1 merged suite — the round-4 corpus-hygiene
    tier plus the data-quality/skew/layout pre-flight in one
    driver-graded row: benchmark decontamination (train docs sharing a
    word 3-gram with the held-out test split), PII scrubbing (typed
    masks + per-row counts over planted deterministic PII), the one-pass
    constraint audit, the skew histogram, the per-source frequency cap
    (part p10), and the z-order layout audit (parts zxu/zxs — user and
    second-of-day spans per bucket), part-tagged in one generic
    (part, e, s, i1-i4) layout. Each part grades against the SAME SQL as
    its standalone key (composed verbatim in oracle_sql); components
    stay registered at 51+ and mirror-graded."""
    i64 = lambda c: F.col(c).cast("bigint")  # noqa: E731
    p6 = _q_decontaminate(spark, sf_dir).select(
        F.lit("p6").alias("part"), i64("doc_id").alias("e"),
        F.lit("").alias("s"), i64("n_shingles").alias("i1"),
        i64("n_contaminated").alias("i2"),
        F.col("contaminated").cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    t6 = _q_pii_scrub(spark, sf_dir).select(
        F.lit("t6").alias("part"), i64("c_custkey").alias("e"),
        F.col("text_scrubbed").alias("s"), i64("n_pii_email").alias("i1"),
        i64("n_pii_ssn").alias("i2"), i64("n_pii_ipv4").alias("i3"),
        i64("n_pii_phone").alias("i4"))
    dq1 = _q_constraint_audit(spark, sf_dir).select(
        F.lit("dq1").alias("part"), F.col("idx").cast("bigint").alias("e"),
        F.col("constraint_name").alias("s"), i64("rows").alias("i1"),
        i64("violations").alias("i2"),
        F.col("passed").cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    dq2 = _q_skew_profile(spark, sf_dir).select(
        F.lit("dq2").alias("part"), i64("rank").alias("e"),
        F.col("user_id").cast("string").alias("s"), i64("cnt").alias("i1"),
        i64("share_bp").alias("i2"), i64("salt").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    p10 = _q_cap_per_key(spark, sf_dir).select(
        F.lit("p10").alias("part"), i64("doc_id").alias("e"),
        F.col("source").alias("s"), i64("cap_rank").alias("i1"),
        F.lit(-1).cast("bigint").alias("i2"),
        F.lit(-1).cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    zx = _q_zorder_layout(spark, sf_dir)
    zxu = zx.select(
        F.lit("zxu").alias("part"), i64("zbucket").alias("e"),
        F.lit("").alias("s"), i64("n_rows").alias("i1"),
        i64("user_id_min").alias("i2"), i64("user_id_max").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    zxs = zx.select(
        F.lit("zxs").alias("part"), i64("zbucket").alias("e"),
        F.lit("").alias("s"), i64("n_rows").alias("i1"),
        i64("sec_min").alias("i2"), i64("sec_max").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    # D10 duplicated-span report + excision (round 4 session 6): the
    # within-document boilerplate tier, string-hash-graded via the cut
    # text in s
    d10 = _q_repeated_spans(spark, sf_dir).select(
        F.lit("d10").alias("part"), i64("doc_id").alias("e"),
        F.lit("").alias("s"), i64("span_start").alias("i1"),
        i64("span_end").alias("i2"), i64("n_hits").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    d10c = _q_cut_spans(spark, sf_dir).select(
        F.lit("d10c").alias("part"), i64("doc_id").alias("e"),
        F.col("text_cut").alias("s"),
        F.lit(-1).cast("bigint").alias("i1"),
        F.lit(-1).cast("bigint").alias("i2"),
        F.lit(-1).cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    # DQ3 join pre-flight (round 4 session 7): sketch tier + hot pairs
    dq3 = _q_join_preflight(spark, sf_dir).select(
        F.concat(F.lit("dq3-"), F.col("part")).alias("part"),
        F.lit(-1).cast("bigint").alias("e"), F.col("key").alias("s"),
        F.col("i1").cast("bigint").alias("i1"),
        F.col("i2").cast("bigint").alias("i2"),
        F.col("i3").cast("bigint").alias("i3"),
        F.lit(-1).cast("bigint").alias("i4"))
    return (p6.unionByName(t6).unionByName(dq1).unionByName(dq2)
            .unionByName(p10).unionByName(zxu).unionByName(zxs)
            .unionByName(d10).unionByName(d10c).unionByName(dq3))


def _q_e2e_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composed pipeline — the user-facing "assemble a
    leakage-safe training set" query, chaining four already-graded
    operators into ONE graded row so integration regressions surface:

    1. FM  point_in_time_matrix: purchase/click features attached as-of
       the event spine (ONE Exchange + ONE WindowExec);
    2. FM5 purged_cv_roles: fold + train/val/purged role per row;
    3. FE1 fit_feature_scaler on the TRAIN slice only → z-scores
       everywhere (split-aware, leakage-free);
    4. FE2 time_aware_target_encode of event_type (strictly-prior frame).

    The oracle is the composition of the four component oracles (CTE
    chain), so the integrated result hash-grades bitwise."""
    from profet_spark.operators import encoding as enc
    from profet_spark.operators import feature_matrix as fm

    ev = _events(spark, sf_dir)
    spine = ev.select("user_id", "ts", "event_id", "event_type",
                      F.col("value").cast("double").alias("value"))
    purch = (ev.where(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("purch_val")))
    clicks = (ev.where(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.count("*").cast("double").alias("n_click")))
    m = fm.point_in_time_matrix(spine, {"purch": purch, "click": clicks},
                                entity="user_id", ts="ts")
    roles = fm.purged_cv_roles(m, ts="ts", **_FM5_KW)
    fit = enc.fit_feature_scaler(
        roles.where(F.col("cv_role") == "train"), ["value", "purch_val"])
    z = enc.apply_feature_scaler(roles, fit, ["value", "purch_val"])
    out = enc.time_aware_target_encode(
        z, "event_type", "value", ts="ts", tiebreak=["event_id"],
        smoothing=_FE2_M, prior=_FE2_PRIOR, out_col="te_smooth")
    return out.select("user_id", "ts", "event_id", "event_type", "fold",
                      "cv_role", "value", "purch_val", "n_click",
                      "value_z", "purch_val_z", "te_smooth")


def _q_n1n4_ann_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1-N4 merged ANN suite (round 5, VERDICT r4 ask #2): the whole
    similarity-search family in ONE driver-graded row — exact cosine
    top-k (n1), LSH ANN (n2; n2d repeats it under the part name of the
    former distributed twin), IVF ANN (n3; likewise n3d), PQ ADC top-k
    (n4p), IVF-PQ (n4i), the persisted-index serving probe (n4s —
    write_ivf_pq_index + ivf_pq_probe over the parquet artifact, same
    oracle as n4i), and the exploded (id, cid, subspace, code) index
    rows themselves (n4x — every code byte hash-visible). All parts are deterministic
    (lowest_id centroids/codebooks, exact int64 arithmetic) so each
    grades bitwise against its standalone component oracle, composed
    verbatim in oracle_sql. Generic (part, q, nb, rank, i1, x1) layout:
    i1 carries N4's exact-int ADC distances, x1 the N1-N3 cosines.
    Components stay registered at 51+ and mirror-graded."""
    i64 = lambda c: F.col(c).cast("bigint")  # noqa: E731
    neg1 = F.lit(-1).cast("bigint")

    def cos_part(df: DataFrame, p: str) -> DataFrame:
        return df.select(
            F.lit(p).alias("part"), i64("query_id").alias("q"),
            i64("neighbor_id").alias("nb"), i64("rank").alias("rank"),
            neg1.alias("i1"), F.col("cosine").cast("double").alias("x1"))

    def adc_part(df: DataFrame, p: str) -> DataFrame:
        return df.select(
            F.lit(p).alias("part"), i64("query_id").alias("q"),
            i64("neighbor_id").alias("nb"), i64("rank").alias("rank"),
            i64("dist").alias("i1"),
            F.lit(-1.0).cast("double").alias("x1"))

    n4x = _q_ivf_pq_index(spark, sf_dir).select(
        F.lit("n4x").alias("part"), i64("vec_id").alias("q"),
        i64("cid").alias("nb"), i64("s").alias("rank"),
        i64("code").alias("i1"), F.lit(-1.0).cast("double").alias("x1"))
    lsh, ivf = _q_lsh_ann(spark, sf_dir), _q_ivf_ann(spark, sf_dir)
    out = cos_part(_q_cosine_topk(spark, sf_dir), "n1")
    for p in [cos_part(lsh, "n2"), cos_part(lsh, "n2d"),
              cos_part(ivf, "n3"), cos_part(ivf, "n3d"),
              adc_part(_q_pq_topk(spark, sf_dir), "n4p"),
              adc_part(_q_ivf_pq_topk(spark, sf_dir), "n4i"),
              adc_part(_q_ivf_pq_probe(spark, sf_dir), "n4s"),
              n4x]:
        out = out.unionByName(p)
    return out


def _q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 D11 streaming twin (round 5,
    streaming/dedup_stream.ingest_stream): the documents corpus split
    into two parquet files, drained as streaming micro-batches — each
    batch signatured once, near-dup-detected against the accumulating
    signature store (never re-shingling it), its signatures upserted
    (S8), its pairs + lineage/metrics marker committed exactly-once.
    The UNION of the per-batch pair outputs is precisely the FULL batch
    D3 pair set over the ingested corpus (batch-internal pairs land
    with their batch, cross-batch pairs with the later one, none twice)
    — so this streaming composition grades bitwise against the plain
    d3_minhash_lsh oracle, whatever the trigger file order.

    The pairs are materialized (local checkpoint) before the four temp
    directories are removed; a stream that does not finish within 600 s
    is stopped and raises."""
    import shutil
    import tempfile

    from profet_spark.streaming import ingest_stream

    src, store_root, pairs_dir, ck = (
        tempfile.mkdtemp(prefix=f"st_d11_{p}_")
        for p in ("src", "store", "pairs", "ck"))
    try:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "overwrite").parquet(src)
        docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append").parquet(src)
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = ingest_stream(stream, store_root + "/store", pairs_dir, ck)
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("st_d11 ingest stream still running after 600 s")
        return spark.read.parquet(pairs_dir).select(
            "id_a", "id_b", "inter", "na", "nb", "jaccard"
        ).localCheckpoint(eager=True)
    finally:
        for d in (src, store_root, pairs_dir, ck):
            shutil.rmtree(d, ignore_errors=True)


_QUERY_SCOPES: "list[dedup.PersistScope]" = []


def _scoped(fn: Callable[[SparkSession, str], DataFrame]
            ) -> Callable[[SparkSession, str], DataFrame]:
    """Bound the cache footprint of a sequential queries() sweep.

    The dedup/similarity operators persist multiply-referenced
    intermediates; a driver evaluating all 165 keys in ONE session used
    to accumulate those blocks until heap pressure (observed: OOM at
    key ~112 under a 1 GiB default driver). Each wrapped query
    registers its persists in a fresh PersistScope that stays alive
    after the function returns (the driver evaluates the returned frame
    next, and the cached subtrees serve that evaluation). The LAST TWO
    scopes are kept; older ones are released — so a driver that
    pipelines one step ahead (build query N+1, then evaluate query N)
    still evaluates N from cache, while the sweep's total footprint
    stays bounded at two queries' intermediates. Released frames
    recompute correctly if re-evaluated."""
    import functools

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        scope = dedup.PersistScope()
        _QUERY_SCOPES.append(scope)
        while len(_QUERY_SCOPES) > 2:
            _QUERY_SCOPES.pop(0).release()
        active = dedup.PersistScope._active
        prev = active.scope
        active.scope = scope
        try:
            return fn(spark, sf_dir)
        finally:
            active.scope = prev
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Insertion order is load-bearing: the driver grades the FIRST 50 keys.
    Positions 1-50 are chosen so every SURVEY §2 operator has a graded
    representative (merged suites cover A1-A3, A4+A5, A7+A8, A12-A14,
    T1-T5, P6+T6 (hygiene), C5+C7, C6+C8+C9, O4+O5, W3+W4, J4+J5,
    W9-W12+FM2-FE2, S8-S14+S1b (store maintenance incl. the round-5
    JSONL/CSV ingest parts), N1-N4 (the round-5 nine-part ANN suite:
    exact/LSH/IVF (n2d/n3d repeat n2/n3) + PQ/IVF-PQ/index/serving probe),
    and the §2.9 streaming twins — three standalone plus the profile
    (round 5: + st_a17 retention part) and curation stream suites — in
    one row each; e2e_training_pipeline is the composed FM→FM5→FE1→FE2
    integration row; d11_incremental_dedup holds its own round-5 row;
    image_features_sql_slice / image_snapshot_pipeline /
    multimodal_resize_slice / image_curation_pipeline all hash-grade
    the image tier against frozen direct-from-pixels goldens — the
    only rows-only key left in the window is profet_caption_features,
    whose full 340-float vector is allclose-by-design).
    Positions 51+ are strategy variants,
    the merged suites' components, and the round-5 st_d11 streaming
    ingest twin — still run by tests/test_entry_oracle.py, and the
    window composition is pinned by
    test_grading_window_covers_every_operator_family.

    Every entry is wrapped by :func:`_scoped`, which bounds the cache
    footprint of a sequential full-registry sweep to ONE query's
    persisted intermediates (see its docstring)."""
    d = {
        # -- windows (W1-W11) ------------------------------- 1-7
        # W3+W4 share one graded row (merged suite) so the window can also
        # grade the W9-W11+FM2 profile/audit suite without losing coverage
        "w3w4_lag_ffill": _q_lag_ffill_suite,
        "w9fm_profile_audit_suite": _q_profile_audit_suite,
        "w5_sessionize": _q_sessionize,
        "w8_expanding": _q_expanding,
        "w7_tumbling": _q_tumbling,
        "w6_topk_latest": _q_topk,
        "w1_profile_summary": _q_profile_summary,
        # -- joins (J2-J5) ---------------------------------- 8-12
        "j3_asof_join": _q_asof,
        "j2_broadcast_join": _q_bcast_join,
        # J4+J5 share one graded row (merged suite) so the window can
        # also grade the round-4 P6+T6 hygiene suite
        "j4j5_range_anti_suite": _q_j4j5_range_anti_suite,
        # -- corpus hygiene (P6+T6, round 4) -----------------
        "hygiene_suite": _q_hygiene_suite,
        # -- aggregations / descriptors (A1-A14) ------------ 13-23
        "a9_pricing_summary": _q_pricing,
        "a1a3_kmer_composition": _q_kmer_composition,
        "a4a5_ctd_comp_trans": _q_ctd_comp_trans,
        "a6_ctd_distribution": _q_ctd_dist,
        # A7+A8 share one graded row (merged suite) so the window can
        # also grade the round-4 two-tier image curation gate
        "a7a8_scalar_suite": _q_a7a8_scalar_suite,
        "image_curation_pipeline": _q_image_curation,
        # A10+A11 share one graded row (merged suite) so the window can
        # also grade the round-4 B1+B2 batch suite
        "a10a11_agg_suite": _q_a10a11_agg_suite,
        "b1b2_batch_suite": _q_b1b2_batch_suite,
        # A12+A13+A14 share one graded row (merged suite) so the window
        # can also grade the round-4 store-maintenance / streaming /
        # composed-pipeline suites without losing coverage
        "a12a14_seqorder_suite": _q_seqorder_suite,
        # -- filters / projections (F1-F5) ------------------
        "f1_doc_filter": _q_doc_filter,
        "f5_terminal_composition": _q_terminal_comp,
        # -- scalar function families (C5-C9) ---------------
        "c5c7_event_scalars": _q_event_scalars,
        # C6+C8+C9 share one graded row (merged suite)
        "c6c9_scalar_suite": _q_scalar_suite,
        # -- ordering / set ops (O1/O4/O5) ------------------
        "o4o5_setops_topk": _q_setops_topk,
        # -- UDF kernels / pipelines (U1, U3, MM) ----------- 31-34
        "profet_features_sql_slice": _q_profet_sql_slice,
        "profet_caption_features": _q_profet_features,
        "image_snapshot_pipeline": _q_image_pipeline,
        # hash-graded slice of the image pipeline vs frozen
        # direct-from-pixels goldens (round 5 — codec roundtrip +
        # Arrow plumbing + stats + drift window, bitwise)
        "image_features_sql_slice": _q_image_slice,
        # hash-graded slice of the resize tier vs frozen
        # direct-from-pixels goldens (round 5; both codec roundtrips —
        # supersedes the rows-only multimodal_resize_pipeline, which
        # moves to 51+ and stays numpy-asserted)
        "multimodal_resize_slice": _q_multimodal_slice,
        # -- text analysis (T1-T5) -------------------------- 35
        "t1t5_textstats": _q_textstats_suite,
        # -- corpus pipeline tier (P1-P4): split/sample/pack/tfidf in one
        # graded row. Occupies the slot j3_asof_strict held: J3 stays
        # graded via j3_asof_join, and the strict variant stays
        # mirror-tested at 51+ — four brand-new operators outrank a
        # second inequality variant of an already-green operator.
        "p1p4_corpus_suite": _q_corpus_suite,
        # -- dedup (D1-D7) ---------------------------------- 36-41
        # D1 survivors + D7 segment-dedup rewrite in one graded row
        "d1d7_exact_dedup": _q_exact_dedup_suite,
        "d2_ngram_jaccard": _q_ngram_jaccard,
        # D3 pairs + D6 connected components in one graded row
        "d3d6_lsh_dedup": _q_lsh_dedup_suite,
        # D4 simhash table + D8 hamming pairs in one graded row
        "d4d8_hamming": _q_hamming_suite,
        # D5 brute verifier tier + LSH scale path in one graded row —
        # frees a window slot for the training-matrix assembly below
        "d5_embedding_suite": _q_embedding_dup_suite,
        # -- feature-store spine join (J3×N composition) ----
        # the north-rule flagship shape: N feature tables attached
        # point-in-time in ONE Exchange + ONE WindowExec
        "fm_training_matrix": _q_feature_matrix,
        # -- composed end-to-end pipeline (FM→FM5→FE1→FE2) --
        # the "assemble a leakage-safe training set" integration row
        "e2e_training_pipeline": _q_e2e_training_pipeline,
        # -- ANN (N1-N4, round 5 merged: exact/LSH/IVF + PQ/IVF-PQ/
        # index/serving probe) --
        "n1n4_ann_suite": _q_n1n4_ann_suite,
        # D11 incremental ingest-vs-store near-dup, standalone driver
        # row (r4 marked it weak pending the plan pin — now green)
        "d11_incremental_dedup": _q_incremental_dedup,
        # -- sources / sinks (S1, S4, S7, S8+S9) ------------
        "s1_partition_pruned_scan": _q_partition_pruned_scan,
        "s4_feature_roundtrip": _q_feature_roundtrip,
        "s7_checkpoint_manifest": _q_checkpoint_manifest,
        # S8 upsert + S9 compaction in one graded row (components at 51+)
        "s8s9_store_maintenance": _q_store_maintenance_suite,
        # -- streaming twins (§2.9) -------------------------
        "st_w7_tumbling_stream": _q_stream_tumbling,
        "st_j3_stateful_asof_stream": _q_stream_stateful_asof,
        "st_w5_session_stream": _q_stream_session,
        # the remaining 8 §2.9 twins, graded via two merged suites:
        # profile/monitor kernels (w11/w12/fm3/fe2/fm4) ...
        "st_profile_suite": _q_stream_profile_suite,
        # ... and dedup / sliding / matrix-attach           --- pos 50
        "st_curation_suite": _q_stream_curation_suite,
        # ==== position 51+: ungraded by the driver, mirror-tested ====
        # merged-suite components (graded via the suites above)
        "s8_upsert_merge": _q_upsert_merge,
        "s9_compaction": _q_compaction,
        # S13 snapshots/time-travel + S14 schema evolution lifecycle
        "s13_versioned_store": _q_versioned_store,
        # S13 streaming twin: exactly-once micro-batch append commits
        "st_s13_append_stream": _q_stream_versioned_append,
        "a12_pseaac_corr": _q_pseaac_corr,
        "a13_autocorr": _q_autocorr,
        "a14_qso": _q_qso,
        "c6_array_ops": _q_array_ops,
        "c8_bit_ops": _q_bit_ops,
        "c9_json_props": _q_json_props,
        # as-of strategy variants (J3 graded via j3_asof_join)
        "j3_asof_strict": _q_asof_strict,
        # J3f forward as-of (label attachment; graded in-window via the
        # j4j5 suite's 'j3f' part)
        "j3f_label_forward": _q_label_forward,
        # JB Bloom-membership joins (graded in-window via
        # j4j5_range_anti_suite parts jbs/jba)
        "jb_bloom_semi": _q_bloom_semi,
        "jb_bloom_anti": _q_bloom_anti,
        "j3_asof_window": _q_asof_window,
        "j3_asof_broadcast": _q_asof_broadcast,
        "j3_asof_salted": _q_asof_salted,
        "j3_asof_tolerance": _q_asof_tolerance,
        # window variants + merged-suite components
        "w3_lag_lead": _q_lag_lead,
        "w4_ffill": _q_ffill,
        "w7_sliding": _q_sliding_window,
        "w4_bfill": _q_bfill,
        "w9_resample_grid": _q_resample_grid,
        "w10_rolling_quantile": _q_rolling_quantile,
        "w11_phash_drift": _q_phash_drift,
        "w12_decayed": _q_decayed_stats,
        "fm2_leakage_audit": _q_leakage_audit,
        # D5 tiers individually (graded via d5_embedding_suite)
        "d5_embedding_dup": _q_embedding_dup,
        "d5_embedding_dup_lsh": _q_embedding_dup_lsh,
        # D9 SemDeDup standalone (graded via d5_embedding_suite 'sem-*')
        "d9_semantic_dedup": _q_semantic_dedup,
        # ANN components (graded in-window via n1n4_ann_suite)
        "n1_cosine_topk": _q_cosine_topk,
        "n2_lsh_ann": _q_lsh_ann,
        "n3_ivf_ann": _q_ivf_ann,
        "n4_pq_topk": _q_pq_topk,
        "n4_ivf_pq_topk": _q_ivf_pq_topk,
        "n4_ivf_pq_index": _q_ivf_pq_index,
        "n4_ivf_pq_probe": _q_ivf_pq_probe,
        # FM streaming twin (batch FM graded via fm_training_matrix)
        "st_fm_matrix_stream": _q_stream_matrix,
        # merged-suite components (graded via the suites above)
        "a1_char_composition": _q_char_comp,
        "a2_bigram_composition": _q_bigram_comp,
        "a3_trigram_composition": _q_trigram_comp,
        "a4_ctd_composition": _q_ctd_comp,
        "a5_ctd_transition": _q_ctd_trans,
        "t1_language_id": _q_lang_id,
        "t2_quality_score": _q_quality,
        "t3_token_counts": _q_token_counts,
        "t4_fingerprint": _q_fingerprint,
        "t5_repetition": _q_repetition,
        "d1_exact_dedup": _q_exact_dedup,
        # D10 duplicated spans (graded in-window via hygiene_suite's
        # 'd10'/'d10c' parts)
        "d10_repeated_spans": _q_repeated_spans,
        "d10_cut_spans": _q_cut_spans,
        "d7_segment_dedup": _q_segment_dedup,
        "d8_fp_hamming": _q_fp_hamming,
        "d8_phash_dup_pairs": _q_phash_dup_pairs,
        # D8×D6 image keep-one, bitwise vs the frozen fixture table
        "d8_image_keep_one": _q_image_keep_one,
        # rows-only multimodal pipeline (window slot taken over by the
        # hash-graded multimodal_resize_slice in round 5)
        "multimodal_resize_pipeline": _q_multimodal,
        "c5_date_scalars": _q_date_scalars,
        "c7_map_ops": _q_map_ops,
        "o4_set_ops": _q_set_ops,
        "o5_global_topk": _q_global_topk,
        # agg / join variants
        "d4_simhash": _q_simhash,
        "d4_simhash_pairs": _q_simhash_pairs,
        "a11_cube": _q_cube,
        "j2_star_dims": _q_star_dims,
        "a9_part_stats": _q_part_stats,
        # D3/D6 components (graded together via d3d6_lsh_dedup above;
        # D11 now holds its own in-window row)
        "d3_minhash_lsh": _q_minhash_lsh,
        "d6_dup_clusters": _q_dup_clusters,
        # remaining §2.9 streaming twins (tumbling/session/stateful-asof
        # are graded in the top 50; these two are mirror-graded)
        "st_f3_dedup_stream": _q_stream_dedup,
        # D11 streaming twin (round 5): micro-batch ingest + signature
        # store maintenance; union of per-batch pairs == batch D3
        "st_d11_ingest_stream": _q_stream_ingest_dedup,
        "st_w7_sliding_stream": _q_stream_sliding,
        "st_w11_drift_stream": _q_stream_drift,
        "st_w12_decay_stream": _q_stream_decayed,
        "fm_embargo_matrix": _q_embargo_matrix,
        "fm3_windowed_agg": _q_windowed_agg,
        "st_fm3_wagg_stream": _q_stream_wagg,
        "st_fe2_te_stream": _q_stream_target_encode,
        "st_fm4_drift_stream": _q_stream_drift_monitor,
        "fm4_feature_drift": _q_feature_drift,
        "fm5_purged_cv": _q_purged_cv,
        "fm5_walk_forward": _q_walk_forward_cv,
        "fm5_entity_folds": _q_entity_folds,
        "fe1_split_scaler": _q_split_scaler,
        "fe2_target_encode": _q_target_encode,
        # historical keys of the former distributed N2/N3 twins: the
        # same operators as n2/n3 now (one implementation per index
        # type), kept so the key set and oracles stay stable
        "n2_lsh_ann_distributed": _q_lsh_ann,
        "n3_ivf_ann_distributed": _q_ivf_ann,
        # P1-P4 components (graded together via p1p4_corpus_suite above)
        "p1_hash_split": _q_hash_split,
        "p2_stratified_sample": _q_stratified_sample,
        "p3_pack_chunks": _q_pack_chunks,
        "p3_pack_chunks_sharded": _q_pack_chunks_sharded,
        "p4_tfidf": _q_tfidf,
        "p5_hash_negatives": _q_hash_negatives,
        # J4 scale-path twin (no-equi-key binned interval join)
        "j4_interval_binned": _q_interval_binned,
        # P6 benchmark decontamination (train split vs held-out test
        # split) + T6 PII scrubbing: graded via hygiene_suite above
        "p6_decontaminate": _q_decontaminate,
        "t6_pii_scrub": _q_pii_scrub,
        # merged-suite components (graded via j4j5 / a7a8 suites above)
        "j4_range_join": _q_range_join,
        "j5_anti_join": _q_anti_join,
        "a7_entropy": _q_entropy,
        "a8_scalar_features": _q_scalar_features,
        # B1/B2 image-training batch tier (graded via b1b2_batch_suite)
        "b1_aspect_batches": _q_aspect_batches,
        "b2_augment_plan": _q_augment_plan,
        # P7 training-mixture oversampling (graded via the corpus suite)
        "p7_mixture_weights": _q_mixture_weights,
        # merged-suite components (graded via a10a11_agg_suite above)
        "a10_distinct_counts": _q_distinct,
        "a11_rollup": _q_rollup,
        # S1b raw-ingest roundtrips (mirror-graded; quarantine in pytest)
        "s1b_ingest_roundtrip": _q_ingest_roundtrip,
        "s1b_ingest_csv_roundtrip": _q_ingest_csv_roundtrip,
        "s10_incremental_backfill": _q_incremental_backfill,
        "s11_snapshot_diff": _q_snapshot_diff,
        # P8 chunking + P9 vocab (graded via p1p4_corpus_suite above)
        "p8_chunk_docs": _q_chunk_docs,
        "p9_vocab_topk": _q_vocab_topk,
        # B3 epoch serving order (graded via b1b2_batch_suite above)
        "b3_epoch_order": _q_epoch_order,
        # S12 TTL retention (graded via s8s9_store_maintenance above)
        "s12_retention": _q_retention,
        # DQ1+DQ2 data-quality audit + skew profile (graded via
        # hygiene_suite above)
        "dq1_constraint_audit": _q_constraint_audit,
        "dq2_skew_profile": _q_skew_profile,
        # DQ3 join pre-flight (graded in-window via hygiene_suite
        # parts dq3-*)
        "dq3_join_preflight": _q_join_preflight,
        # P10 per-key cap + L1 z-order layout audit (graded via
        # hygiene_suite above)
        "p10_cap_per_key": _q_cap_per_key,
        "l1_zorder_layout": _q_zorder_layout,
        # A16 mergeable sketch rollups (graded via a10a11_agg_suite)
        "a16_sketch_rollup": _q_sketch_rollup,
        # A17 theta set-expression retention (graded in-window via
        # a10a11_agg_suite part a17)
        "a17_theta_retention": _q_theta_retention,
        "st_a17_retention_stream": _q_stream_theta_retention,
        # A3 image variant: k-mer spectrum over the phash nibble stream
        "a3_phash_nibble_ngrams": _q_phash_nibble_ngrams,
    }
    return {k: _scoped(v) for k, v in d.items()}


# --------------------------------------------------- oracle SQL builders
# DuckDB-side twins of the portable primitives in profet_spark.functions.
# hashing — same md5-derived h32, same frozen MinHash permutations, same
# integer quantization, so values match the Spark plans bit for bit.

# whitespace spelled out via hashing.WS_RE: Java \\s has \\x0B, RE2's not
_DUCK_WORDS = ("list_filter(string_split_regex(lower({c}), "
               f"'{H.WS_RE}'), x -> x <> '')")
_DUCK_NORM_TXT = (f"trim(regexp_replace(lower({{c}}), '{H.WS_RE}', ' ', "
                  "'g'), ' ')")


def _duck_shingle_cte(k: int, table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", wide: bool = False) -> str:
    """CTEs d/g/hs/cnt: distinct word-k-gram h32 hashes per doc.

    ``wide=True`` adds ``h2`` (second 32 bits of the same md5 — the oracle
    twin of dedup.exploded_shingle_hashes(wide=True), used by the 64-bit
    SimHash); distinct is then over (id, h, h2) on both engines."""
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(k))
    hs = (f"hs AS (SELECT DISTINCT id, {H.h32_sql_duckdb('s')} AS h, "
          f"{H.h32_hi_sql_duckdb('s')} AS h2 FROM g)"
          if wide else
          f"hs AS (SELECT DISTINCT id, {H.h32_sql_duckdb('s')} AS h FROM g)")
    return f"""
        d AS (SELECT {id_col} AS id, {_DUCK_WORDS.format(c=text_col)} AS w FROM {table}),
        g AS (SELECT id, {parts} AS s
              FROM (SELECT id, w, unnest(generate_series(1, greatest(len(w) - {k - 1}, 0))) AS i
                    FROM d)),
        {hs},
        cnt AS (SELECT id, count(*) AS n FROM hs GROUP BY id)"""


def _duck_minhash_lsh_sql(threshold: float) -> str:
    p = H.MINHASH_P
    mins = ",\n                   ".join(
        f"min(({a} * (h % {p}) + {b}) % {p}) AS m{i}"
        for i, (a, b) in enumerate(H.MINHASH_PERMS))
    bands = ", ".join(
        "md5('{b},' || CAST(m{0} AS VARCHAR) || ',' || CAST(m{1} AS VARCHAR))".format(
            b * H.LSH_ROWS, b * H.LSH_ROWS + 1, b=b)
        for b in range(H.LSH_BANDS))
    return f"""
        WITH {_duck_shingle_cte(3)},
        sig AS (SELECT id, {mins} FROM hs GROUP BY id),
        bands AS (SELECT id, unnest([{bands}]) AS bh FROM sig),
        cand AS (SELECT a.id AS ia, b.id AS ib FROM bands a
                 JOIN bands b ON a.bh = b.bh AND a.id < b.id GROUP BY 1, 2),
        i AS (SELECT ia, ib, count(*) AS k FROM cand c
              JOIN hs x ON x.id = c.ia JOIN hs y ON y.id = c.ib AND y.h = x.h
              GROUP BY 1, 2)
        SELECT ia AS id_a, ib AS id_b, k AS inter, ca.n AS na, cb.n AS nb,
               k / (ca.n + cb.n - k) AS jaccard
        FROM i JOIN cnt ca ON ca.id = ia JOIN cnt cb ON cb.id = ib
        WHERE k / (ca.n + cb.n - k) >= {threshold}"""


def _duck_quantized_cte(where: str = "") -> str:
    """CTEs q/nrm over embeddings: int64-quantized elements + exact norms."""
    return f"""
        q AS (SELECT vec_id, i,
                     CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(1000000.0 AS DOUBLE)
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS qx
              FROM (SELECT vec_id, embedding,
                           unnest(generate_series(1, len(embedding))) AS i
                    FROM embeddings {where})),
        nrm AS (SELECT vec_id, sum(qx * qx) AS nrm FROM q GROUP BY vec_id
                HAVING sum(qx * qx) > 0)"""


_DUCK_COS = ("CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE))")


def _duck_lsh_ann_sql(n_queries: int, k: int) -> str:
    """Oracle twin of similarity.lsh_ann: band collision, exact cosine, and
    the (cosine desc, neighbor_id) ranking are all deterministic, so the
    'approximate' ANN is exactly reproducible in SQL (see _duck_lsh_dup_sql
    for the integer-exactness argument)."""
    from profet_spark.operators.similarity import (
        ANN_BAND_BITS, ANN_PLANES, _plane_coef)

    vals = ",".join(
        f"({p},{d + 1},{_plane_coef(p, d)})"
        for p in range(ANN_PLANES) for d in range(64))
    cos = "CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE))"
    return f"""
        WITH {_duck_quantized_cte()},
        pc(p, i, c) AS (VALUES {vals}),
        dots AS (SELECT q.vec_id, pc.p, sum(q.qx * pc.c) AS pdot
                 FROM q JOIN pc ON q.i = pc.i GROUP BY 1, 2),
        dg AS (SELECT vec_id, p // {ANN_BAND_BITS} AS band,
                      sum(CASE WHEN pdot > 0
                               THEN (1 << (p % {ANN_BAND_BITS})) ELSE 0 END) AS digest
               FROM dots GROUP BY 1, 2),
        cand AS (SELECT DISTINCT qr.vec_id AS qid, c.vec_id AS nid
                 FROM dg qr JOIN dg c ON qr.band = c.band AND qr.digest = c.digest
                 WHERE qr.vec_id < {n_queries} AND c.vec_id <> qr.vec_id),
        pdots AS (SELECT cd.qid, cd.nid, sum(qa.qx * qb.qx) AS dot
                  FROM cand cd JOIN q qa ON qa.vec_id = cd.qid
                               JOIN q qb ON qb.vec_id = cd.nid AND qb.i = qa.i
                  GROUP BY 1, 2),
        cz AS (SELECT qid, nid, {cos} AS cosine
               FROM pdots JOIN nrm na ON na.vec_id = qid
                          JOIN nrm nb ON nb.vec_id = nid)
        SELECT qid AS query_id, nid AS neighbor_id, cosine, rank
        FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, nid) AS INT) AS rank
              FROM cz)
        WHERE rank <= {k}
    """


def _duck_ivf_ann_sql(n_centroids: int, n_probe: int, n_queries: int, k: int) -> str:
    """Oracle twin of similarity.ivf_ann(centroids='lowest_id'): centroid
    set, argmax assignment (ties -> lowest centroid id, matching numpy
    first-max), probe ranking, and the exact-cosine re-rank are all
    integer-deterministic, so the bucket-pruned ANN reproduces in SQL."""
    cos = ("CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE)"
           " * CAST(nc.nrm AS DOUBLE))")
    rcos = ("CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE)"
            " * CAST(nb.nrm AS DOUBLE))")
    return f"""
        WITH {_duck_quantized_cte()},
        cids AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id
                 LIMIT {n_centroids}),
        cdots AS (SELECT v.vec_id, cq.vec_id AS cid, sum(v.qx * cq.qx) AS dot
                  FROM q v JOIN q cq ON cq.i = v.i
                  JOIN cids ON cids.cid = cq.vec_id
                  GROUP BY 1, 2),
        ccos AS (SELECT c.vec_id, c.cid, {cos} AS cosine
                 FROM cdots c JOIN nrm nv ON nv.vec_id = c.vec_id
                              JOIN nrm nc ON nc.vec_id = c.cid),
        assign AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, cid) AS rn
                     FROM ccos) WHERE rn = 1),
        probe AS (SELECT vec_id AS qid, cid FROM (
                    SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY cosine DESC, cid) AS rn
                    FROM ccos WHERE vec_id < {n_queries})
                  WHERE rn <= {n_probe}),
        cand AS (SELECT p.qid, a.vec_id AS nid
                 FROM probe p JOIN assign a ON a.cid = p.cid
                 WHERE a.vec_id <> p.qid),
        pdots AS (SELECT cd.qid, cd.nid, sum(qa.qx * qb.qx) AS dot
                  FROM cand cd JOIN q qa ON qa.vec_id = cd.qid
                               JOIN q qb ON qb.vec_id = cd.nid AND qb.i = qa.i
                  GROUP BY 1, 2),
        cz AS (SELECT qid, nid, {rcos} AS cosine
               FROM pdots JOIN nrm na ON na.vec_id = qid
                          JOIN nrm nb ON nb.vec_id = nid)
        SELECT qid AS query_id, nid AS neighbor_id, cosine, rank
        FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, nid) AS INT) AS rank
              FROM cz)
        WHERE rank <= {k}
    """


def _duck_semdedup_pairs_sql(n_centroids: int, threshold: float) -> str:
    """Oracle twin of dedup.semantic_dup_pairs(centroids='lowest_id'):
    centroid set (n_centroids lowest-id nonzero-norm vectors; cid = dense
    id-order index, matching the driver-collected matrix row order),
    argmax assignment (ties -> lowest cid, matching numpy first-max), and
    the within-cell exact-int64-cosine pair search all reproduce in SQL —
    the same integer-determinism argument as _duck_ivf_ann_sql."""
    cos = ("CAST(dot AS DOUBLE) / sqrt(CAST(nv.nrm AS DOUBLE)"
           " * CAST(nc.nrm AS DOUBLE))")
    return f"""
        WITH {_duck_quantized_cte()},
        cids AS (SELECT cv, CAST(row_number() OVER (ORDER BY cv) - 1 AS INT) AS cid
                 FROM (SELECT vec_id AS cv FROM nrm ORDER BY vec_id
                       LIMIT {n_centroids})),
        cdots AS (SELECT v.vec_id, cq.vec_id AS cv, sum(v.qx * cq.qx) AS dot
                  FROM q v JOIN q cq ON cq.i = v.i
                  JOIN cids ON cids.cv = cq.vec_id
                  GROUP BY 1, 2),
        ccos AS (SELECT c.vec_id, cids.cid, {cos} AS cosine
                 FROM cdots c JOIN cids ON cids.cv = c.cv
                 JOIN nrm nv ON nv.vec_id = c.vec_id
                 JOIN nrm nc ON nc.vec_id = c.cv),
        assign AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY cosine DESC, cid) AS rn
                     FROM ccos) WHERE rn = 1),
        scand AS (SELECT a.vec_id AS ia, b.vec_id AS ib, a.cid
                  FROM assign a JOIN assign b
                    ON a.cid = b.cid AND a.vec_id < b.vec_id),
        pdots AS (SELECT c.ia, c.ib, c.cid, sum(qa.qx * qb.qx) AS dot
                  FROM scand c JOIN q qa ON qa.vec_id = c.ia
                               JOIN q qb ON qb.vec_id = c.ib AND qb.i = qa.i
                  GROUP BY 1, 2, 3)
        SELECT ia AS id_a, ib AS id_b, cid, {_DUCK_COS} AS cosine
        FROM pdots JOIN nrm na ON na.vec_id = ia
                   JOIN nrm nb ON nb.vec_id = ib
        WHERE {_DUCK_COS} >= {threshold}
    """


def _duck_pq_topk_sql(m: int, n_codes: int, n_queries: int, k: int,
                      dim: int = 64) -> str:
    """Oracle twin of similarity.pq_topk(codebooks='lowest_id'): the PQ
    codebook (subvectors of the n_codes lowest-id vectors, code = id
    rank), the encode argmin (ties -> lowest code), the per-query LUT,
    and the ADC sum are all exact int64 arithmetic, so the approximate
    top-k reproduces in SQL bit for bit — same integer-determinism
    argument as _duck_ivf_ann_sql, extended to the compressed store."""
    d_sub = dim // m
    return f"""
        WITH {_duck_quantized_cte()},
        sub AS (SELECT q.vec_id, (q.i - 1) // {d_sub} AS s,
                       (q.i - 1) % {d_sub} AS j, q.qx
                FROM q JOIN nrm USING (vec_id)),
        cb AS (SELECT cv, CAST(row_number() OVER (ORDER BY cv) - 1 AS INT) AS code
               FROM (SELECT vec_id AS cv FROM nrm ORDER BY vec_id
                     LIMIT {n_codes})),
        cbs AS (SELECT cb.code, sub.s, sub.j, sub.qx AS cx
                FROM cb JOIN sub ON sub.vec_id = cb.cv),
        d2 AS (SELECT v.vec_id, v.s, c.code,
                      sum((v.qx - c.cx) * (v.qx - c.cx)) AS d2
               FROM sub v JOIN cbs c ON c.s = v.s AND c.j = v.j
               GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, s, code FROM (
                  SELECT vec_id, s, code,
                         row_number() OVER (PARTITION BY vec_id, s
                                            ORDER BY d2, code) AS rn
                  FROM d2) WHERE rn = 1),
        adc AS (SELECT l.vec_id AS qid, e.vec_id AS nid, sum(l.d2) AS dist
                FROM enc e JOIN d2 l ON l.s = e.s AND l.code = e.code
                WHERE l.vec_id < {n_queries} AND e.vec_id <> l.vec_id
                GROUP BY 1, 2)
        SELECT qid AS query_id, nid AS neighbor_id,
               CAST(dist AS BIGINT) AS dist, rank
        FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY dist, nid) AS INT) AS rank
              FROM adc)
        WHERE rank <= {k}
    """


def _duck_ivf_pq_sql(n_centroids: int, n_probe: int, m: int, n_codes: int,
                     n_queries: int, k: int, dim: int = 64,
                     index_only: bool = False) -> str:
    """Oracle twin of similarity.ivf_pq_topk(coarse='lowest_id',
    codebooks='lowest_id'): the full-dim coarse assignment/probe (exact
    int64 L2, ties -> lowest cid) composed with _duck_pq_topk_sql's
    encode + ADC — every stage integer-deterministic, so the IVF-pruned
    compressed-store top-k reproduces bitwise. ``index_only`` stops at
    the persistable index rows (the ivf_pq_encode twin, exploded to
    scalar (vec_id, cid, s, code) rows)."""
    d_sub = dim // m
    tail = """
        SELECT e.vec_id, a.cid, e.s, e.code
        FROM enc e JOIN assign a ON a.vec_id = e.vec_id
    """ if index_only else f"""
        , adc AS (SELECT p.qid, e.vec_id AS nid, sum(l.d2) AS dist
                FROM enc e
                JOIN assign a ON a.vec_id = e.vec_id
                JOIN probe p ON p.cid = a.cid
                JOIN pd2 l ON l.vec_id = p.qid AND l.s = e.s
                           AND l.code = e.code
                WHERE e.vec_id <> p.qid
                GROUP BY 1, 2)
        SELECT qid AS query_id, nid AS neighbor_id,
               CAST(dist AS BIGINT) AS dist, rank
        FROM (SELECT *, CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY dist, nid) AS INT) AS rank
              FROM adc)
        WHERE rank <= {k}
    """
    return f"""
        WITH {_duck_quantized_cte()},
        qn AS (SELECT q.* FROM q JOIN nrm USING (vec_id)),
        sub AS (SELECT vec_id, (i - 1) // {d_sub} AS s,
                       (i - 1) % {d_sub} AS j, qx
                FROM qn),
        cc AS (SELECT cv, CAST(row_number() OVER (ORDER BY cv) - 1 AS INT) AS cid
               FROM (SELECT vec_id AS cv FROM nrm ORDER BY vec_id
                     LIMIT {n_centroids})),
        ccs AS (SELECT cc.cid, qn.i, qn.qx AS cx
                FROM cc JOIN qn ON qn.vec_id = cc.cv),
        cd2 AS (SELECT v.vec_id, c.cid,
                       sum((v.qx - c.cx) * (v.qx - c.cx)) AS d2
                FROM qn v JOIN ccs c ON c.i = v.i
                GROUP BY 1, 2),
        assign AS (SELECT vec_id, cid FROM (
                     SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d2, cid) AS rn
                     FROM cd2) WHERE rn = 1),
        probe AS (SELECT vec_id AS qid, cid FROM (
                    SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                                              ORDER BY d2, cid) AS rn
                    FROM cd2 WHERE vec_id < {n_queries})
                  WHERE rn <= {n_probe}),
        cb AS (SELECT cv, CAST(row_number() OVER (ORDER BY cv) - 1 AS INT) AS code
               FROM (SELECT vec_id AS cv FROM nrm ORDER BY vec_id
                     LIMIT {n_codes})),
        cbs AS (SELECT cb.code, sub.s, sub.j, sub.qx AS cx
                FROM cb JOIN sub ON sub.vec_id = cb.cv),
        pd2 AS (SELECT v.vec_id, v.s, c.code,
                       sum((v.qx - c.cx) * (v.qx - c.cx)) AS d2
                FROM sub v JOIN cbs c ON c.s = v.s AND c.j = v.j
                GROUP BY 1, 2, 3),
        enc AS (SELECT vec_id, s, code FROM (
                  SELECT vec_id, s, code,
                         row_number() OVER (PARTITION BY vec_id, s
                                            ORDER BY d2, code) AS rn
                  FROM pd2) WHERE rn = 1)
        {tail}
    """


def _duck_lsh_dup_sql(threshold: float) -> str:
    """Oracle twin of dedup.embedding_dup_pairs_lsh: the 64 sign-LSH plane
    dots are exact integer sums (|qx| ~ 5e6, |coef| < 2^31, dim 64 keeps
    |dot| < 2^60 — exact in int64 and HUGEINT alike, no wrap), so band
    digests, the
    collision condition, and the final exact cosine all reproduce the Spark
    plan bit for bit."""
    from profet_spark.operators.similarity import (
        ANN_BAND_BITS, ANN_PLANES, _plane_coef)

    vals = ",".join(
        f"({p},{d + 1},{_plane_coef(p, d)})"
        for p in range(ANN_PLANES) for d in range(64))
    return f"""
        WITH {_duck_quantized_cte()},
        pc(p, i, c) AS (VALUES {vals}),
        dots AS (SELECT q.vec_id, pc.p, sum(q.qx * pc.c) AS pdot
                 FROM q JOIN pc ON q.i = pc.i GROUP BY 1, 2),
        dg AS (SELECT vec_id, p // {ANN_BAND_BITS} AS band,
                      sum(CASE WHEN pdot > 0
                               THEN (1 << (p % {ANN_BAND_BITS})) ELSE 0 END) AS digest
               FROM dots GROUP BY 1, 2),
        cand AS (SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
                 FROM dg a JOIN dg b ON a.band = b.band AND a.digest = b.digest
                                    AND a.vec_id < b.vec_id),
        pdots AS (SELECT c.ia, c.ib, sum(qa.qx * qb.qx) AS dot
                  FROM cand c JOIN q qa ON qa.vec_id = c.ia
                              JOIN q qb ON qb.vec_id = c.ib AND qb.i = qa.i
                  GROUP BY 1, 2)
        SELECT ia AS id_a, ib AS id_b, {_DUCK_COS} AS cosine
        FROM pdots JOIN nrm na ON na.vec_id = ia JOIN nrm nb ON nb.vec_id = ib
        WHERE {_DUCK_COS} >= {threshold}
    """


def _duck_repetition_sql(ns: tuple[int, ...] = (2, 3)) -> str:
    """T5 oracle twin of textstats.add_repetition_features: per n, count
    occurrences per (doc, gram-h32), then duplicate-mass and top-gram-mass
    ratios of exact integer counts (bit-identical doubles on both engines)."""
    ctes, cols, joins = [], [], []
    for n in ns:
        parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
        ctes.append(f"""
        g{n} AS (SELECT id, {H.h32_sql_duckdb(f"({parts})")} AS h
                 FROM (SELECT id, w,
                              unnest(generate_series(1, greatest(len(w) - {n - 1}, 0))) AS i
                       FROM d)),
        c{n} AS (SELECT id, h, count(*) AS c FROM g{n} GROUP BY 1, 2),
        r{n} AS (SELECT id, (sum(c) - count(*)) / sum(c) AS dupf,
                        max(c) / sum(c) AS topf
                 FROM c{n} GROUP BY id)""")
        cols.append(f"coalesce(r{n}.dupf, CAST(0.0 AS DOUBLE)) AS dup_{n}gram_frac,\n"
                    f"               coalesce(r{n}.topf, CAST(0.0 AS DOUBLE)) AS top_{n}gram_frac")
        joins.append(f"LEFT JOIN r{n} ON r{n}.id = d.id")
    return f"""
        WITH d AS (SELECT doc_id AS id, {_DUCK_WORDS.format(c='text')} AS w FROM documents),
        {','.join(ctes)}
        SELECT d.id AS doc_id,
               {', '.join(cols)}
        FROM d {' '.join(joins)}
    """


def _duck_segment_dedup_sql(width: int = 8, min_count: int = 2) -> str:
    """D7 oracle twin of dedup.drop_duplicate_segments (fixed-width word
    segmenter): same segment strings, same 64-bit (h32, h32_hi) count key,
    same <min_count keep rule, same ordered re-assembly."""
    w_expr = _DUCK_WORDS.format(c="text")
    return f"""
        WITH d AS (SELECT doc_id AS id, {w_expr} AS w FROM documents),
        s AS (SELECT id, i,
                     array_to_string(list_slice(w, (i-1)*{width}+1, i*{width}), ' ') AS seg
              FROM (SELECT id, w,
                           unnest(generate_series(1, CAST(ceil(len(w)/{width}.0) AS BIGINT))) AS i
                    FROM d)),
        hx AS (SELECT id, i, seg, {H.h32_sql_duckdb('seg')} AS h,
                      {H.h32_hi_sql_duckdb('seg')} AS h2 FROM s),
        c AS (SELECT h, h2, count(*) AS n FROM hx GROUP BY 1, 2),
        k AS (SELECT hx.id, hx.i, hx.seg
              FROM hx JOIN c ON c.h = hx.h AND c.h2 = hx.h2
              WHERE c.n < {min_count}),
        agg AS (SELECT id, count(*) AS n_kept,
                       string_agg(seg, ' ' ORDER BY i) AS new_text
                FROM k GROUP BY id)
        SELECT d.id AS doc_id,
               CAST(ceil(len(d.w)/{width}.0) AS INT) AS n_segments,
               CAST(coalesce(agg.n_kept, 0) AS INT) AS n_kept,
               coalesce(agg.new_text, '') AS new_text
        FROM d LEFT JOIN agg ON agg.id = d.id
    """


def _duck_quality_sql() -> str:
    """T2 quality features (shared by t2_quality_score and the S4
    feature-sink round-trip oracle)."""
    return f"""
            WITH t AS (SELECT doc_id, text,
                              {_DUCK_WORDS.format(c="coalesce(text, '')")} AS w,
                              length(coalesce(text, '')) AS n_chars,
                              length(regexp_replace(lower(coalesce(text, '')), '[^a-z]', '', 'g')) AS alpha
                       FROM documents)
            SELECT doc_id, len(w) AS n_tokens,
                   CASE WHEN len(w) > 0 THEN alpha / len(w) ELSE CAST(0.0 AS DOUBLE) END AS mean_tok_len,
                   CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE CAST(0.0 AS DOUBLE) END AS alpha_ratio,
                   CASE WHEN len(w) > 0
                        THEN len(list_filter(w, x -> x IN ('the','a','of','and','to'))) / len(w)
                        ELSE CAST(0.0 AS DOUBLE) END AS stopword_ratio,
                   CAST(0.4 AS DOUBLE)
                     * (CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE CAST(0.0 AS DOUBLE) END)
                   + CAST(0.3 AS DOUBLE) * least(len(w) / CAST(32.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                   + CAST(0.3 AS DOUBLE)
                     * least((CASE WHEN len(w) > 0
                              THEN len(list_filter(w, x -> x IN ('the','a','of','and','to'))) / len(w)
                              ELSE CAST(0.0 AS DOUBLE) END) * CAST(4.0 AS DOUBLE),
                             CAST(1.0 AS DOUBLE)) AS quality_score
            FROM t
        """


def _duck_lid_sql() -> str:
    w = _DUCK_WORDS.format(c="text")
    scores = []
    for lang in sorted(ts.LID_LEXICONS):
        lex = ", ".join(f"'{t}'" for t in ts.LID_LEXICONS[lang])
        scores.append(
            f"CASE WHEN len(w) > 0 THEN len(list_filter(w, x -> x IN ({lex}))) / len(w) "
            f"ELSE CAST(0.0 AS DOUBLE) END AS s_{lang}")
    langs = sorted(ts.LID_LEXICONS)
    pred_cases = []
    for i, lang in enumerate(langs):
        others = [f"s_{lang} >= s_{o}" for o in langs if o != lang]
        pred_cases.append(f"WHEN {' AND '.join(others)} THEN '{lang}'")
    return f"""
        WITH t AS (SELECT doc_id, lang, {w} AS w FROM documents),
        s AS (SELECT doc_id, lang, {', '.join(scores)} FROM t)
        SELECT doc_id, lang,
               CASE {' '.join(pred_cases)} END AS pred_lang,
               greatest({', '.join('s_' + lg for lg in langs)}) AS pred_score
        FROM s"""


def _duck_autocorr_sql() -> str:
    """DuckDB twin of _q_autocorr, generated from the same lag list so the
    per-lag conditional-sum structure cannot drift between engines."""
    lag_cols = ",\n                     ".join(
        f"lag(CAST(value AS DECIMAL(18,2)), {k}) "
        f"OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x{k}"
        for k in _AC_LAGS)
    aggs = []
    for k in _AC_LAGS:
        c = lambda expr: f"sum(CASE WHEN x{k} IS NOT NULL THEN {expr} END)"  # noqa: B023
        aggs += [
            f"CAST(sum(CASE WHEN x{k} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n{k}",
            f"{c(f'x{k}')} AS sx{k}", f"{c('y')} AS sy{k}",
            f"{c(f'x{k} * y')} AS sxy{k}", f"{c(f'x{k} * x{k}')} AS sxx{k}",
            f"{c('y * y')} AS syy{k}",
        ]
    outs = []
    for k in _AC_LAGS:
        d = lambda c_: f"CAST({c_}{k} AS DOUBLE)"  # noqa: B023
        vx = f"({d('n')} * {d('sxx')} - {d('sx')} * {d('sx')})"
        vy = f"({d('n')} * {d('syy')} - {d('sy')} * {d('sy')})"
        outs.append(
            f"CASE WHEN n{k} >= 2 AND {vx} * {vy} > 0 THEN "
            f"({d('n')} * {d('sxy')} - {d('sx')} * {d('sy')}) "
            f"/ (sqrt({vx}) * sqrt({vy})) END AS autocorr_lag{k}")
    return f"""
        WITH o AS (
          SELECT user_id, CAST(value AS DECIMAL(18,2)) AS y,
                 {lag_cols}
          FROM events),
        s AS (SELECT user_id, {', '.join(aggs)} FROM o GROUP BY user_id)
        SELECT user_id, n1 AS n, {', '.join(outs)}
        FROM s WHERE n1 >= 2
    """


_ASOF_ORACLE = """
    WITH purchases AS (
      SELECT user_id, ts, max(value) AS purch_val
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT e.user_id, e.ts, e.event_id, e.value, p.purch_val
    FROM events e
    ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
"""


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_base()
    # Merged-suite oracles are COMPOSED from their components' SQL so the
    # merged and individual gradings can never drift apart (DuckDB allows
    # WITH inside a parenthesized subquery).
    d["a1a3_kmer_composition"] = f"""
        SELECT doc_id, 1 AS k, ch AS gram, cnt, freq
        FROM ({d['a1_char_composition']})
        UNION ALL
        SELECT doc_id, 2 AS k, kmer AS gram, cnt, freq
        FROM ({d['a2_bigram_composition']})
        UNION ALL
        SELECT doc_id, 3 AS k, kmer AS gram, cnt, freq
        FROM ({d['a3_trigram_composition']})
    """
    d["a4a5_ctd_comp_trans"] = f"""
        SELECT c.doc_id, c.c1, c.c2, c.c3, t.t12, t.t13, t.t23
        FROM ({d['a4_ctd_composition']}) c
        JOIN ({d['a5_ctd_transition']}) t ON t.doc_id = c.doc_id
    """
    d["t1t5_textstats"] = f"""
        SELECT t1.doc_id, t1.lang, t1.pred_lang, t1.pred_score,
               t2.n_tokens, t2.mean_tok_len, t2.alpha_ratio,
               t2.stopword_ratio, t2.quality_score,
               t3.ws_tokens, t3.bpe_tokens, t4.fp_minhash, t4.fp_windows,
               t5.dup_2gram_frac, t5.top_2gram_frac,
               t5.dup_3gram_frac, t5.top_3gram_frac
        FROM ({d['t1_language_id']}) t1
        JOIN ({d['t2_quality_score']}) t2 ON t2.doc_id = t1.doc_id
        JOIN ({d['t3_token_counts']}) t3 ON t3.doc_id = t1.doc_id
        JOIN ({d['t4_fingerprint']}) t4 ON t4.doc_id = t1.doc_id
        JOIN ({d['t5_repetition']}) t5 ON t5.doc_id = t1.doc_id
    """
    # D1+D7 merged suite: both component oracles verbatim, tagged
    d["d1d7_exact_dedup"] = f"""
        SELECT 'doc' AS part, doc_id, content_fp AS txt,
               CAST(-1 AS INTEGER) AS n_a, CAST(-1 AS INTEGER) AS n_b
        FROM ({d['d1_exact_dedup']})
        UNION ALL
        SELECT 'seg', doc_id, new_text, n_segments, n_kept
        FROM ({d['d7_segment_dedup']})
    """
    # C5+C7 per-event scalar suite (same expressions as the grouped
    # c5_date_scalars and c7_map_ops oracles, ungrouped)
    d["c5c7_event_scalars"] = """
        WITH e AS (SELECT event_id, event_type, ts,
                          CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                   FROM events)
        SELECT event_id,
               date_trunc('day', ts) AS day,
               CAST(hour(ts) AS INT) AS hr,
               CAST(dayofweek(ts) + 1 AS INT) AS dow,
               ts + INTERVAL '90' MINUTE AS ts_shift,
               k AS k_val, k * 2 AS k2_val,
               CAST(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END
                    + CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS n_even,
               CAST(3 AS INT) AS n_all,
               'etype_len,k,k2' AS keys_sorted
        FROM e
    """
    d["o4o5_setops_topk"] = f"""
        SELECT o_custkey, n FROM ({d['o4_set_ops']})
        ORDER BY n DESC, o_custkey ASC LIMIT 25
    """
    # D6: min-label connected components — the recursive CTE enumerates,
    # for every node, the labels of ALL reachable nodes (transitive
    # closure over the symmetrized D3 edges); min per node is the unique
    # fixpoint the Spark propagation loop converges to. Closure size is
    # bounded by sum(component^2) — fine for graded pair volumes.
    d["d6_dup_clusters"] = f"""
        WITH RECURSIVE p AS ({d['d3_minhash_lsh']}),
        e AS (SELECT id_a AS a, id_b AS b FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        r(id, lbl) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM e)
            UNION
            SELECT e.a, r.lbl FROM e JOIN r ON r.id = e.b
        )
        SELECT id, min(lbl) AS cluster_id FROM r GROUP BY id
    """
    # D3+D6 merged suite: pair rows verbatim plus cluster rows with -1
    # sentinels (not NULLs — keeps every column integer-kind so the
    # driver value hash has no null/NaN encoding ambiguity)
    d["d3d6_lsh_dedup"] = f"""
        WITH RECURSIVE p AS ({d['d3_minhash_lsh']}),
        e AS (SELECT id_a AS a, id_b AS b FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        r(id, lbl) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM e)
            UNION
            SELECT e.a, r.lbl FROM e JOIN r ON r.id = e.b
        ),
        c AS (SELECT id, min(lbl) AS cluster_id FROM r GROUP BY id)
        SELECT 'pair' AS part, id_a AS a, id_b AS b, inter, na, nb, jaccard
        FROM p
        UNION ALL
        SELECT 'cluster', id, cluster_id,
               CAST(-1 AS INTEGER), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1.0 AS DOUBLE)
        FROM c
        UNION ALL
        SELECT 'd11', id_a, id_b, inter, na, nb, jaccard
        FROM p WHERE id_a % 10 = 0 OR id_b % 10 = 0
    """
    # D11 standalone: the same filtered full-D3 pair set
    d["d11_incremental_dedup"] = f"""
        SELECT * FROM ({d['d3_minhash_lsh']})
        WHERE id_a % 10 = 0 OR id_b % 10 = 0
    """
    # D8: brute-force XOR/bit_count twin of the pigeonhole block join
    # (full recall for hamming<=3 is the operator's exactness claim, so
    # the quadratic oracle and the block join must agree exactly)
    d["d8_fp_hamming"] = f"""
        WITH f AS (SELECT doc_id, fp_minhash FROM ({d['t4_fingerprint']})
                   WHERE fp_minhash >= 0)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp_minhash, b.fp_minhash)) AS INT) AS hamming
        FROM f a JOIN f b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp_minhash, b.fp_minhash)) <= 3
    """
    # D4+D8 merged suite: both component oracles verbatim, tagged
    d["d4d8_hamming"] = f"""
        SELECT 'simhash' AS part, id AS a, simhash AS b,
               CAST(-1 AS INTEGER) AS hamming
        FROM ({d['d4_simhash']})
        UNION ALL
        SELECT 'pair', id_a, id_b, hamming
        FROM ({d['d8_fp_hamming']})
    """
    # P1-P4 corpus pipeline tier: oracles generated from the SAME literal
    # dicts the Spark queries use (operators/corpus.py shares the h32 +
    # basis-point construction with functions/hashing.py)
    split_bucket = corpus.bucket_bp_sql_duckdb("doc_id", "split")
    sample_bucket = corpus.bucket_bp_sql_duckdb("doc_id", "sample")
    d["p1_hash_split"] = f"""
        WITH b AS (SELECT doc_id, {split_bucket} AS split_bucket
                   FROM documents)
        SELECT doc_id, split_bucket,
               {corpus.split_case_sql_duckdb(_SPLIT_WEIGHTS, 'split_bucket')}
                 AS split
        FROM b
    """
    keep = " OR ".join(
        f"(lang = '{v}' AND sb < {round(r * corpus.SPLIT_BP)})"
        for v, r in _SAMPLE_RATES.items())
    d["p2_stratified_sample"] = f"""
        WITH b AS (SELECT doc_id, lang, {sample_bucket} AS sb
                   FROM documents)
        SELECT doc_id, lang FROM b WHERE {keep}
    """
    d["p3_pack_chunks"] = f"""
        WITH c AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_tokens,
                          CAST(sum(CAST(n_chars AS BIGINT))
                            OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED
                                  PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
                   FROM documents)
        SELECT doc_id, n_tokens, cum - n_tokens AS start_offset,
               CAST(floor((cum - n_tokens) / {_PACK_CAPACITY}) AS BIGINT)
                 AS chunk_id,
               (cum - n_tokens) % {_PACK_CAPACITY} AS chunk_offset
        FROM c
    """
    d["p3_pack_chunks_sharded"] = f"""
        WITH c AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_tokens,
                          CAST(sum(CAST(n_chars AS BIGINT))
                            OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND
                                  CURRENT ROW) AS BIGINT) AS cum
                   FROM documents)
        SELECT lang, doc_id, n_tokens, cum - n_tokens AS start_offset,
               CAST(floor((cum - n_tokens) / {_PACK_CAPACITY}) AS BIGINT)
                 AS chunk_id,
               (cum - n_tokens) % {_PACK_CAPACITY} AS chunk_offset
        FROM c
    """
    duck_words = _DUCK_WORDS.format(c="text")
    d["p4_tfidf"] = f"""
        WITH w AS (SELECT doc_id, unnest({duck_words}) AS word
                   FROM documents),
        tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
        dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents)
        SELECT tf.doc_id, tf.word, tf.tf, dfq.df,
               (CAST(tf.tf AS DOUBLE) * CAST(n.n + 1 AS DOUBLE))
                 / CAST(dfq.df + 1 AS DOUBLE) AS tfidf
        FROM tf JOIN dfq USING (word) CROSS JOIN n
    """
    # P1-P4 merged suite: all four component oracles verbatim, tagged
    d["p5_hash_negatives"] = _p5_oracle_sql()
    d["p1p4_corpus_suite"] = f"""
        SELECT 'doc' AS part, s.doc_id, s.split AS s,
               s.split_bucket AS i1,
               CAST(CASE WHEN sm.doc_id IS NOT NULL THEN 1 ELSE 0 END
                    AS BIGINT) AS i2,
               p.n_tokens AS i3, p.start_offset AS i4, p.chunk_id AS i5,
               p.chunk_offset AS i6, CAST(-1.0 AS DOUBLE) AS x
        FROM ({d['p1_hash_split']}) s
        LEFT JOIN (SELECT doc_id FROM ({d['p2_stratified_sample']})) sm
          ON sm.doc_id = s.doc_id
        JOIN ({d['p3_pack_chunks']}) p ON p.doc_id = s.doc_id
        UNION ALL
        SELECT 'tfidf', doc_id, word, tf, df,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), tfidf
        FROM ({d['p4_tfidf']})
        UNION ALL
        SELECT 'neg', doc_id, '', r,
               coalesce(neg_id, CAST(-1 AS BIGINT)),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1.0 AS DOUBLE)
        FROM ({d['p5_hash_negatives']})
        UNION ALL
        SELECT 'mix', doc_id, source, rep,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1.0 AS DOUBLE)
        FROM ({_p7_oracle_sql()})
        UNION ALL
        SELECT 'chunk', doc_id, chunk_text, chunk_idx, chunk_start,
               chunk_len, n_chunks, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1.0 AS DOUBLE)
        FROM ({_p8_oracle_sql()})
        UNION ALL
        SELECT 'vocab', CAST(-1 AS BIGINT), token, cnt, rank, cum_cnt,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               coverage
        FROM ({_p9_oracle_sql()})
    """
    # P8/P9 standalone rows (graded via the corpus suite above)
    d["p8_chunk_docs"] = _p8_oracle_sql()
    d["p9_vocab_topk"] = _p9_oracle_sql()
    # streaming twins: graded against the SAME SQL as their batch ops
    d["st_f3_dedup_stream"] = "SELECT DISTINCT user_id, ts FROM events"
    # D11 streaming twin: the per-batch pair union over a parity split
    # of documents IS the full batch D3 pair set (see the query's
    # docstring), so the batch oracle grades it verbatim
    d["st_d11_ingest_stream"] = d["d3_minhash_lsh"]
    d["st_w7_sliding_stream"] = (
        f"SELECT user_id, win_start, n FROM ({d['w7_sliding']})")
    # N4 PQ ADC top-k: exact-int approximate result (see the builder)
    d["n4_pq_topk"] = _duck_pq_topk_sql(8, 256, 20, 5)
    d["n4_ivf_pq_topk"] = _duck_ivf_pq_sql(16, 3, 8, 256, 20, 5)
    d["n4_ivf_pq_index"] = _duck_ivf_pq_sql(16, 3, 8, 256, 20, 5,
                                            index_only=True)
    # the serving path answers from the persisted artifact, so it shares
    # the in-memory operator's oracle verbatim
    d["n4_ivf_pq_probe"] = d["n4_ivf_pq_topk"]
    # D9 SemDeDup: within-cell pairs + keep-min-id drops (connected
    # components over the pair edges — same recursive-CTE twin as D6)
    d["d9_semantic_dedup"] = f"""
        WITH RECURSIVE sp AS ({_duck_semdedup_pairs_sql(8, 0.3)}),
        e AS (SELECT id_a AS a, id_b AS b FROM sp
              UNION ALL SELECT id_b, id_a FROM sp),
        r(id, lbl) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM e)
            UNION
            SELECT e.a, r.lbl FROM e JOIN r ON r.id = e.b
        ),
        c AS (SELECT id, min(lbl) AS cluster_id FROM r GROUP BY id)
        SELECT 'pair' AS part, id_a, id_b, cid, cosine FROM sp
        UNION ALL
        SELECT 'drop', id, CAST(-1 AS BIGINT), CAST(-1 AS INTEGER),
               CAST(-1.0 AS DOUBLE)
        FROM c WHERE id <> cluster_id
    """
    d["d5_embedding_suite"] = f"""
        SELECT 'brute' AS tier, id_a, id_b, CAST(-1 AS INTEGER) AS cid,
               cosine
        FROM ({d['d5_embedding_dup']})
        UNION ALL
        SELECT 'lsh', id_a, id_b, CAST(-1 AS INTEGER), cosine
        FROM ({d['d5_embedding_dup_lsh']})
        UNION ALL
        SELECT 'sem-' || part, id_a, id_b, cid, cosine
        FROM ({d['d9_semantic_dedup']})
    """
    # FM: chained DuckDB ASOF joins are the independent twin of the fused
    # single-window assembly; the *_asof_ts columns hash-grade the
    # zero-leakage invariant row by row
    d["st_fm_matrix_stream"] = """
        WITH purch AS (
          SELECT user_id, ts, max(value) AS pv
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ),
        clicks AS (
          SELECT user_id, ts, max(value) AS cv
          FROM events WHERE event_type = 'click' GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, e.value,
               p.pv AS pv_asof, c.cv AS cv_asof
        FROM events e
        ASOF LEFT JOIN purch p ON e.user_id = p.user_id AND e.ts >= p.ts
        ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """
    # §2.9 W11 streaming twin: SAME oracle as the batch drift profile,
    # restricted to the stream query's column set
    d["st_w11_drift_stream"] = f"""
        SELECT event_id, user_id, ph, ph_drift, ph_drift_mean4, ph_drift_cum
        FROM ({d['w11_phash_drift']})
    """
    # W3+W4 merged suite: both component oracles verbatim, tagged
    d["w3w4_lag_ffill"] = f"""
        SELECT 'lag' AS part, user_id, ts, event_id,
               value AS x1, value_lag1 AS x2, value_lead1 AS x3
        FROM ({d['w3_lag_lead']})
        UNION ALL
        SELECT 'ffill', user_id, ts, event_id,
               pv, pv_ffill, CAST(-1.0 AS DOUBLE)
        FROM ({d['w4_ffill']})
    """
    # W12 decayed stats: weights are the SAME Python floats on both sides
    d["w12_decayed"] = _w12_oracle_sql()
    d["fm4_feature_drift"] = _fm4_oracle_sql()
    d["fm5_purged_cv"] = _fm5_oracle_sql()
    d["fm5_walk_forward"] = _fm5_oracle_sql(walk_forward=True)
    d["fm5_entity_folds"] = _fm5c_oracle_sql()
    d["fe1_split_scaler"] = _fe1_oracle_sql()
    d["fe2_target_encode"] = _fe2_oracle_sql()
    # streaming twin grades against the same mirrored-decimal window SQL
    d["st_fe2_te_stream"] = f"""
        SELECT event_id, ts, event_type, value, te_smooth
        FROM ({_fe2_oracle_sql()})
    """
    d["st_fm4_drift_stream"] = _st_fm4_oracle_sql()
    # FM3 trailing-window aggregates: inequality join + group twin of the
    # rangeBetween window (count + int64 sum exact; min/max value copies)
    d["fm3_windowed_agg"] = """
        WITH f AS (
          SELECT user_id, ts, value AS pval, event_id AS f_eid
          FROM events WHERE event_type = 'purchase')
        SELECT e.user_id, e.ts, e.event_id,
               CAST(count(f.pval) AS BIGINT) AS n_purch,
               CAST(sum(f.f_eid) AS BIGINT) AS sum_eid,
               max(f.pval) AS max_val,
               min(f.pval) AS min_val
        FROM events e
        LEFT JOIN f ON e.user_id = f.user_id
                   AND f.ts > e.ts - INTERVAL '7200' SECOND
                   AND f.ts <= e.ts
        GROUP BY e.user_id, e.ts, e.event_id
    """
    # §2.9 W12 streaming twin: SAME oracle as the batch decayed stats
    d["st_w12_decay_stream"] = d["w12_decayed"]
    # §2.9 FM3 streaming twin: count/sum/min/max of the purchase event_ids
    # in the trailing 2h window — exact-int aggregates throughout
    d["st_fm3_wagg_stream"] = """
        WITH f AS (
          SELECT user_id, ts, event_id AS f_eid
          FROM events WHERE event_type = 'purchase')
        SELECT e.user_id, e.ts, e.event_id,
               CAST(count(f.f_eid) AS BIGINT) AS f_eid_n,
               CAST(sum(f.f_eid) AS BIGINT) AS f_eid_sum,
               CAST(min(f.f_eid) AS BIGINT) AS f_eid_min,
               CAST(max(f.f_eid) AS BIGINT) AS f_eid_max
        FROM events e
        LEFT JOIN f ON e.user_id = f.user_id
                   AND f.ts > e.ts - INTERVAL '7200' SECOND
                   AND f.ts <= e.ts
        GROUP BY e.user_id, e.ts, e.event_id
    """
    # A12+A13+A14 merged suite: component oracles composed verbatim
    d["a12a14_seqorder_suite"] = f"""
        SELECT 'pse' AS part, doc_id AS e,
               CAST(-1 AS BIGINT) AS i1, CAST(-1 AS BIGINT) AS i2,
               CAST(-1 AS BIGINT) AS i3,
               pse_corr_1 AS x1, pse_corr_2 AS x2, pse_corr_3 AS x3
        FROM ({d['a12_pseaac_corr']})
        UNION ALL
        SELECT 'ac', user_id, n, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               autocorr_lag1, autocorr_lag2, autocorr_lag3
        FROM ({d['a13_autocorr']})
        UNION ALL
        SELECT 'qso', doc_id, tau_1, tau_2, tau_3, qso_1, qso_2, qso_3
        FROM ({d['a14_qso']})
        UNION ALL
        SELECT 'qsog', doc_id, tau_g1, tau_g2, tau_g3,
               qso_g1, qso_g2, qso_g3
        FROM ({d['a14_qso']})
    """
    # C6+C8+C9 merged suite: exact-int scalars, composed verbatim
    d["c6c9_scalar_suite"] = f"""
        SELECT 'c6' AS part, CAST(vec_id AS BIGINT) AS e, '' AS s,
               CAST(dim AS BIGINT) AS i1, CAST(first_q AS BIGINT) AS i2,
               CAST(last_q AS BIGINT) AS i3, CAST(head_sum AS BIGINT) AS i4,
               CAST(l1_q AS BIGINT) AS i5
        FROM ({d['c6_array_ops']})
        UNION ALL
        SELECT 'c8', CAST(doc_id AS BIGINT), '', CAST(h AS BIGINT),
               CAST(nib_hi AS BIGINT), CAST(nib_lo AS BIGINT),
               CAST(popcnt AS BIGINT), CAST(hamming_prev AS BIGINT)
        FROM ({d['c8_bit_ops']})
        UNION ALL
        SELECT 'c9', CAST(-1 AS BIGINT), event_type, CAST(n AS BIGINT),
               CAST(sum_k AS BIGINT), CAST(min_k AS BIGINT),
               CAST(max_k AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['c9_json_props']})
    """
    # S8+S9 merged suite: both maintenance oracles verbatim, tagged
    # S12: retention == a closed-left day filter over the raw table
    d["s12_retention"] = f"""
        SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS val
        FROM events
        WHERE CAST(ts AS DATE) >= DATE '{_S12_CUTOFF}'
    """
    d["s8s9_store_maintenance"] = f"""
        SELECT 's8' AS part, event_id, user_id, ts, val, '' AS s
        FROM ({d['s8_upsert_merge']})
        UNION ALL
        SELECT 's9', event_id, user_id, ts, val, ''
        FROM ({d['s9_compaction']})
        UNION ALL
        SELECT 's10n', event_id, user_id, ts, CAST(w3_n AS DOUBLE), ''
        FROM ({d['s10_incremental_backfill']})
        UNION ALL
        SELECT 's10s', event_id, user_id, ts, CAST(w3_sum AS DOUBLE), ''
        FROM ({d['s10_incremental_backfill']})
        UNION ALL
        SELECT 's12', event_id, user_id, ts, val, ''
        FROM ({d['s12_retention']})
        UNION ALL
        SELECT 's13tt', event_id, user_id, ts, val, ''
        FROM ({d['s13_versioned_store']}) WHERE part = 'tt'
        UNION ALL
        SELECT 's13v4', event_id, user_id, ts, val, ''
        FROM ({d['s13_versioned_store']}) WHERE part = 'v4'
        UNION ALL
        SELECT 's13src', event_id, user_id, ts, val, ''
        FROM ({d['s13_versioned_store']})
        WHERE part = 'v4' AND src = 'late'
        UNION ALL
        SELECT 's13rb', event_id, user_id, ts, val, ''
        FROM ({d['s13_versioned_store']}) WHERE part = 'rb'
        UNION ALL
        SELECT 's13st', event_id, user_id, ts, val, ''
        FROM ({d['st_s13_append_stream']})
    """
    # §2.9 merged streaming suites: each part grades against the SAME
    # SQL as its standalone twin (composed verbatim), so one driver row
    # certifies five (profile) + three (curation) stateful kernels
    d["st_profile_suite"] = f"""
        SELECT 'w11' AS part, user_id AS e, CAST(NULL AS TIMESTAMP) AS t,
               '' AS s, event_id AS i1, ph_drift AS i2,
               ph_drift_cum AS i3, ph AS i4, ph_drift_mean4 AS x1
        FROM ({d['st_w11_drift_stream']})
        UNION ALL
        SELECT 'dsum', user_id, ts, '', event_id,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               value_dsum{_W12_N}
        FROM ({d['st_w12_decay_stream']})
        UNION ALL
        SELECT 'dwt', user_id, ts, '', event_id,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               value_dwt{_W12_N}
        FROM ({d['st_w12_decay_stream']})
        UNION ALL
        SELECT 'dmean', user_id, ts, '', event_id,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               value_dmean{_W12_N}
        FROM ({d['st_w12_decay_stream']})
        UNION ALL
        SELECT 'wagg', user_id, ts, '', event_id,
               f_eid_n, f_eid_sum, f_eid_min, CAST(f_eid_max AS DOUBLE)
        FROM ({d['st_fm3_wagg_stream']})
        UNION ALL
        SELECT 'te', event_id, ts, event_type, CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               te_smooth
        FROM ({d['st_fe2_te_stream']})
        UNION ALL
        SELECT 'fm4', CAST(-1 AS BIGINT), win_start, feature, bin, n_cur,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1.0 AS DOUBLE)
        FROM ({d['st_fm4_drift_stream']})
    """
    d["st_curation_suite"] = f"""
        SELECT 'dedup' AS part, user_id AS e, ts AS t,
               CAST(-1 AS BIGINT) AS i1, CAST(-1.0 AS DOUBLE) AS x1,
               CAST(-1.0 AS DOUBLE) AS x2, CAST(-1.0 AS DOUBLE) AS x3
        FROM ({d['st_f3_dedup_stream']})
        UNION ALL
        SELECT 'slide', user_id, win_start, CAST(n AS BIGINT),
               CAST(-1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE),
               CAST(-1.0 AS DOUBLE)
        FROM ({d['st_w7_sliding_stream']})
        UNION ALL
        SELECT 'matrix', user_id, CAST(NULL AS TIMESTAMP), event_id,
               CAST(value AS DOUBLE), CAST(pv_asof AS DOUBLE),
               CAST(cv_asof AS DOUBLE)
        FROM ({d['st_fm_matrix_stream']})
    """
    # composed end-to-end pipeline (FM → FM5 → FE1 → FE2)
    d["e2e_training_pipeline"] = _e2e_oracle_sql()
    # W9-W12 + FM2 merged suite: grid resampling, rolling quantile, phash
    # drift, the zero-leakage audit, and the decayed stats in one graded
    # row (generic layout, component oracles composed verbatim)
    d["w9fm_profile_audit_suite"] = f"""
        SELECT 'grid' AS part, user_id AS e, ts AS t, '' AS s,
               CAST(-1 AS BIGINT) AS i1, CAST(-1 AS BIGINT) AS i2,
               CAST(-1 AS BIGINT) AS i3, CAST(-1 AS BIGINT) AS i4,
               value AS x1
        FROM ({d['w9_resample_grid']})
        UNION ALL
        SELECT 'rq', user_id, ts, '', event_id,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               rq
        FROM ({d['w10_rolling_quantile']})
        UNION ALL
        SELECT 'drift', user_id, ts, '', event_id,
               ph_drift, ph_drift_cum, ph, ph_drift_mean4
        FROM ({d['w11_phash_drift']})
        UNION ALL
        SELECT 'audit', CAST(-1 AS BIGINT), CAST(NULL AS TIMESTAMP), feature,
               n_rows, n_matched, n_violations, max_staleness_us,
               CAST(sum_staleness_us AS DOUBLE)
        FROM ({d['fm2_leakage_audit']})
        UNION ALL
        SELECT 'dsum', user_id, ts, '', event_id,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               value_dsum{_W12_N}
        FROM ({d['w12_decayed']})
        UNION ALL
        SELECT 'dwt', user_id, ts, '', event_id,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               value_dwt{_W12_N}
        FROM ({d['w12_decayed']})
        UNION ALL
        SELECT 'dmean', user_id, ts, '', event_id,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               value_dmean{_W12_N}
        FROM ({d['w12_decayed']})
        UNION ALL
        SELECT 'wagg', user_id, ts, '', event_id,
               n_purch, sum_eid, CAST(-1 AS BIGINT), max_val
        FROM ({d['fm3_windowed_agg']})
        UNION ALL
        SELECT 'fdr', CAST(-1 AS BIGINT), CAST(NULL AS TIMESTAMP), feature,
               bin, n_ref, n_cur, CAST(-1 AS BIGINT), p_ref
        FROM ({d['fm4_feature_drift']})
        UNION ALL
        SELECT 'fdc', CAST(-1 AS BIGINT), CAST(NULL AS TIMESTAMP), feature,
               bin, n_ref, n_cur, CAST(-1 AS BIGINT), p_cur
        FROM ({d['fm4_feature_drift']})
        UNION ALL
        SELECT 'cv', user_id, ts, cv_role, event_id,
               fold, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1.0 AS DOUBLE)
        FROM ({d['fm5_purged_cv']})
        UNION ALL
        SELECT 'ecv', user_id, ts, '', event_id,
               fold, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1.0 AS DOUBLE)
        FROM ({d['fm5_entity_folds']})
        UNION ALL
        SELECT 'scv', event_id, ts, cv_role, CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               value_z
        FROM ({d['fe1_split_scaler']})
        UNION ALL
        SELECT 'scp', event_id, ts, cv_role, CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               plen_z
        FROM ({d['fe1_split_scaler']})
        UNION ALL
        SELECT 'te', event_id, ts, event_type, CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               te_raw
        FROM ({d['fe2_target_encode']})
        UNION ALL
        SELECT 'tes', event_id, ts, event_type, CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               te_smooth
        FROM ({d['fe2_target_encode']})
    """
    d["fm_training_matrix"] = """
        WITH purch AS (
          SELECT user_id, ts, max(value) AS purch_val
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
        ),
        clicks AS (
          SELECT user_id, ts, CAST(count(*) AS DOUBLE) AS n_click
          FROM events WHERE event_type = 'click' GROUP BY 1, 2
        )
        SELECT e.user_id, e.ts, e.event_id, e.value,
               p.purch_val, p.ts AS purch_asof_ts,
               c.n_click, c.ts AS click_asof_ts
        FROM events e
        ASOF LEFT JOIN purch p ON e.user_id = p.user_id AND e.ts >= p.ts
        ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """
    # FM embargo variant: visibility joins on the SHIFTED feature ts
    # (event ts + embargo); the audit columns keep the original ts
    d["fm_embargo_matrix"] = """
        WITH purch AS (
          SELECT user_id, ts + INTERVAL '1800' SECOND AS vis_ts,
                 ts AS fts, max(value) AS purch_val
          FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 3
        ),
        clicks AS (
          SELECT user_id, ts + INTERVAL '600' SECOND AS vis_ts,
                 ts AS fts, CAST(count(*) AS DOUBLE) AS n_click
          FROM events WHERE event_type = 'click' GROUP BY 1, 2, 3
        )
        SELECT e.user_id, e.ts, e.event_id, e.value,
               p.purch_val, p.fts AS purch_asof_ts,
               c.n_click, c.fts AS click_asof_ts
        FROM events e
        ASOF LEFT JOIN purch p ON e.user_id = p.user_id AND e.ts >= p.vis_ts
        ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.vis_ts
    """
    # J4 scale-path twin: the binned grid-cell join must reproduce the
    # plain theta-join semantics exactly (global validity windows)
    d["j4_interval_binned"] = """
        WITH p AS (
          SELECT DISTINCT ts AS start_ts FROM events
          WHERE event_type = 'purchase'
        ),
        iv AS (
          SELECT start_ts,
                 lead(start_ts) OVER (ORDER BY start_ts) AS end_ts
          FROM p
        )
        SELECT iv.start_ts, count(*) AS n_events,
               CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                    AS VARCHAR) AS sv
        FROM iv JOIN events e
          ON e.ts >= iv.start_ts
         AND (iv.end_ts IS NULL OR e.ts < iv.end_ts)
        GROUP BY iv.start_ts
    """
    # P6: same shingles as d2's CTE, same P1 split boundaries (train
    # bucket < 8000, test bucket >= 9000); hits restricted to train docs
    decon_bucket = corpus.bucket_bp_sql_duckdb("doc_id", "split")
    d["p6_decontaminate"] = f"""
        WITH sp0 AS (SELECT doc_id AS id, {decon_bucket} AS bp
                     FROM documents),
        sp AS (SELECT id, bp < 8000 AS is_train, bp >= 9000 AS is_eval
               FROM sp0),
        {_duck_shingle_cte(3)},
        ev AS (SELECT DISTINCT h FROM hs JOIN sp USING (id) WHERE is_eval),
        hits AS (SELECT hs.id, count(*) AS n_contaminated
                 FROM hs JOIN sp USING (id) JOIN ev USING (h)
                 WHERE is_train GROUP BY hs.id)
        SELECT d0.doc_id, coalesce(cnt.n, 0) AS n_shingles,
               coalesce(hits.n_contaminated, 0) AS n_contaminated,
               coalesce(hits.n_contaminated, 0) >= 1 AS contaminated
        FROM documents d0
        JOIN sp ON sp.id = d0.doc_id AND sp.is_train
        LEFT JOIN cnt ON cnt.id = d0.doc_id
        LEFT JOIN hits ON hits.id = d0.doc_id
    """
    # T6: same planted text, same pattern literals (scrub_pii_sql_duckdb)
    scrub_expr, scrub_counts = ts.scrub_pii_sql_duckdb("text")
    d["t6_pii_scrub"] = f"""
        WITH t AS (
          SELECT c_custkey,
                 CASE WHEN c_custkey % 5 = 0
                      THEN 'no pii for key ' || CAST(c_custkey AS VARCHAR)
                      ELSE 'contact user' || CAST(c_custkey AS VARCHAR)
                           || '@example.com tel +'
                           || CAST(c_custkey % 90 + 10 AS VARCHAR) || ' '
                           || CAST(c_custkey % 900 + 100 AS VARCHAR) || ' '
                           || CAST(c_custkey % 9000 + 1000 AS VARCHAR)
                           || ' ssn '
                           || CAST(c_custkey % 900 + 100 AS VARCHAR) || '-'
                           || CAST(c_custkey % 90 + 10 AS VARCHAR) || '-'
                           || CAST(c_custkey % 9000 + 1000 AS VARCHAR)
                           || ' host 10.'
                           || CAST(c_custkey % 250 AS VARCHAR) || '.'
                           || CAST(c_custkey % 199 AS VARCHAR) || '.'
                           || CAST(c_custkey % 97 AS VARCHAR) || ' end'
                 END AS text
          FROM customer)
        SELECT c_custkey, text, {scrub_expr} AS text_scrubbed,
               {', '.join(scrub_counts)}
        FROM t
    """
    # B1/B2: same planted shapes, same h32/bucket arithmetic via the
    # module's own SQL twins (single source of truth for the literals)
    _b1_bucket = batching.aspect_bucket_sql_duckdb("w", "h")
    _b1_label = "CASE " + " ".join(
        f"WHEN {_b1_bucket} = {i} THEN '{bw}:{bh}'"
        for i, (bw, bh) in enumerate(batching.DEFAULT_ASPECT_BUCKETS)
    ) + " END"
    _b1_oh = batching.order_hash_sql_duckdb("event_id", "batch")
    d["b1_aspect_batches"] = f"""
        WITH s AS ({_PLANTED_SHAPES_SQL}),
        b AS (SELECT *, {_b1_bucket} AS aspect_bucket,
                     {_b1_label} AS aspect_bucket_label,
                     {_b1_oh} AS oh
              FROM s),
        r AS (SELECT *, oh % {_B1_SHARDS} AS shard,
                     row_number() OVER (
                       PARTITION BY aspect_bucket, oh % {_B1_SHARDS}
                       ORDER BY oh, event_id) - 1 AS rn,
                     count(*) OVER (
                       PARTITION BY aspect_bucket, oh % {_B1_SHARDS})
                       AS np
              FROM b)
        SELECT event_id, w, h, aspect_bucket, aspect_bucket_label,
               CAST(shard AS BIGINT) AS shard,
               CAST(rn // {_B1_BATCH} AS BIGINT) AS batch_id,
               CAST(rn % {_B1_BATCH} AS BIGINT) AS batch_pos,
               rn // {_B1_BATCH} < np // {_B1_BATCH} AS is_complete
        FROM r
    """
    _b2_span = f"greatest(w - {_B2_CROP} + 1, 1)"
    _b2_spany = f"greatest(h - {_B2_CROP} + 1, 1)"
    aug = batching.augment_param_sql_duckdb
    d["b2_augment_plan"] = f"""
        WITH s AS ({_PLANTED_SHAPES_SQL}),
        e AS (SELECT s.*, ep.epoch
              FROM s, (SELECT unnest(range(1, {_B2_EPOCHS + 1})) AS epoch)
                   ep)
        SELECT event_id, w, h, CAST(epoch AS BIGINT) AS epoch,
               {aug('x', _b2_span, 'event_id', 'epoch')} AS crop_x,
               {aug('y', _b2_spany, 'event_id', 'epoch')} AS crop_y,
               {aug('f', '2', 'event_id', 'epoch')} AS flip
        FROM e
    """
    # S1b: the roundtrip oracles are raw projections (CSV plants the
    # same hazard suffix the Spark query appends)
    d["s1b_ingest_roundtrip"] = (
        "SELECT doc_id, text, lang, source, n_chars FROM documents")
    d["s1b_ingest_csv_roundtrip"] = """
        SELECT doc_id,
               text || ', "q"' || chr(10) || 'line2 \\tail' AS text,
               lang, source, n_chars
        FROM documents"""
    # ... folded into the store-maintenance suite (round 5): the string
    # payload rides the suite's `s` column as a \x1f-joined tuple
    d["s8s9_store_maintenance"] += f"""
        UNION ALL
        SELECT 's1bj', CAST(doc_id AS BIGINT), CAST(n_chars AS BIGINT),
               CAST(NULL AS TIMESTAMP), CAST(-1.0 AS DOUBLE),
               concat_ws(chr(31), text, lang, source)
        FROM ({d['s1b_ingest_roundtrip']})
        UNION ALL
        SELECT 's1bc', CAST(doc_id AS BIGINT), CAST(n_chars AS BIGINT),
               CAST(NULL AS TIMESTAMP), CAST(-1.0 AS DOUBLE),
               concat_ws(chr(31), text, lang, source)
        FROM ({d['s1b_ingest_csv_roundtrip']})
    """
    # P7: same weight/bucket literals via _p7_oracle_sql
    d["p7_mixture_weights"] = _p7_oracle_sql()
    # A10+A11 merged suite: both agg oracles composed verbatim, tagged
    # A16: the sketch rollup in its documented exact regime — per-day
    # HLL == COUNT(DISTINCT), days→total union == global COUNT(DISTINCT),
    # KLL(200) median == quantile_disc (all probed + property-tested).
    d["a16_sketch_rollup"] = """
        WITH e AS (
          SELECT (epoch_us(ts) // 86400000000) AS day, user_id, value
          FROM events)
        SELECT 'hll' AS part, day AS i1,
               CAST(count(DISTINCT user_id) AS BIGINT) AS i2,
               CAST(-1.0 AS DOUBLE) AS x1
        FROM e GROUP BY day
        UNION ALL
        SELECT 'hllm', CAST(-1 AS BIGINT),
               CAST(count(DISTINCT user_id) AS BIGINT),
               CAST(-1.0 AS DOUBLE)
        FROM e
        UNION ALL
        SELECT 'kll', user_id, CAST(-1 AS BIGINT),
               quantile_disc(value, 0.5)
        FROM e GROUP BY user_id
    """
    # A3 phash-nibble spectrum: identical two's-complement fold +
    # arithmetic-shift nibble extraction in both engines (W11's parity
    # contract); gram packs nibbles p..p+2 lsb-first as nib(p+j)*16^j
    d["a3_phash_nibble_ngrams"] = f"""
        WITH d AS (SELECT doc_id, {H.h32_sql_duckdb('text')} AS h1,
                          {H.h32_hi_sql_duckdb('text')} AS h2
                   FROM documents),
        p AS (SELECT doc_id,
                     (h1 - CASE WHEN h1 >= 2147483648 THEN 4294967296
                                ELSE 0 END) * 4294967296 + h2 AS ph
              FROM d),
        g AS (SELECT doc_id,
                     CAST(((ph >> (4 * i)) & 15)
                          + ((ph >> (4 * (i + 1))) & 15) * 16
                          + ((ph >> (4 * (i + 2))) & 15) * 256
                          AS INTEGER) AS gram
              FROM p, (SELECT unnest(generate_series(0, 13)) AS i))
        SELECT gram, count(*) AS n,
               count(DISTINCT doc_id) AS n_docs
        FROM g GROUP BY gram
    """
    # A17 theta retention: exact-mode set algebra — retained is the
    # distinct-user intersection of consecutive present days; churned /
    # fresh follow by exact set arithmetic (|A\\B| = |A| - |A∩B|)
    d["a17_theta_retention"] = """
        WITH du AS (SELECT DISTINCT (epoch_us(ts) // 86400000000) AS day,
                           user_id
                    FROM events),
        days AS (SELECT day, COUNT(*) AS n FROM du GROUP BY day),
        pairs AS (SELECT a.day AS period_a, b.day AS period_b,
                         a.n AS n_a, b.n AS n_b
                  FROM days a JOIN days b ON a.day + 1 = b.day),
        inter AS (SELECT x.day AS period_a, y.day AS period_b,
                         COUNT(*) AS retained
                  FROM du x JOIN du y ON x.user_id = y.user_id
                       AND x.day + 1 = y.day
                  GROUP BY x.day, y.day)
        SELECT p.period_a, p.period_b, p.n_a, p.n_b,
               COALESCE(i.retained, 0) AS retained,
               p.n_a - COALESCE(i.retained, 0) AS churned,
               p.n_b - COALESCE(i.retained, 0) AS fresh
        FROM pairs p LEFT JOIN inter i
             ON p.period_a = i.period_a AND p.period_b = i.period_b
    """
    d["st_a17_retention_stream"] = d["a17_theta_retention"]
    # ... and folded into the driver-graded profile suite (round 5)
    d["st_profile_suite"] += f"""
        UNION ALL
        SELECT 'a17', CAST(period_a AS BIGINT), CAST(NULL AS TIMESTAMP),
               CAST(period_b AS VARCHAR), CAST(n_a AS BIGINT),
               CAST(n_b AS BIGINT), CAST(retained AS BIGINT),
               CAST(churned AS BIGINT), CAST(fresh AS DOUBLE)
        FROM ({d['st_a17_retention_stream']})
    """
    d["a10a11_agg_suite"] = f"""
        SELECT 'a10' AS part, lang AS s1, '' AS s2, '' AS s3,
               CAST(n_docs AS BIGINT) AS i1,
               CAST(n_sources AS BIGINT) AS i2,
               CAST(n_contents AS BIGINT) AS i3,
               CAST(-1.0 AS DOUBLE) AS x1
        FROM ({d['a10_distinct_counts']})
        UNION ALL
        SELECT 'a11', o_orderstatus, o_orderpriority, total,
               CAST(n AS BIGINT), CAST(g_status AS BIGINT),
               CAST(g_prio AS BIGINT), CAST(-1.0 AS DOUBLE)
        FROM ({d['a11_rollup']})
        UNION ALL
        SELECT 'a16-' || part, '', '', '',
               CAST(i1 AS BIGINT), CAST(i2 AS BIGINT),
               CAST(-1 AS BIGINT), x1
        FROM ({d['a16_sketch_rollup']})
        UNION ALL
        SELECT 'a17', CAST(period_a AS VARCHAR), CAST(period_b AS VARCHAR),
               '', CAST(retained AS BIGINT), CAST(churned AS BIGINT),
               CAST(fresh AS BIGINT), CAST(-1.0 AS DOUBLE)
        FROM ({d['a17_theta_retention']})
        UNION ALL
        SELECT 'a17m', '', '', '',
               CAST(COUNT(DISTINCT user_id) AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1.0 AS DOUBLE)
        FROM events
    """
    # B3: serving order over B1's batch identities (same b1 oracle text)
    d["b3_epoch_order"] = _b3_oracle_sql().format(
        b1=d["b1_aspect_batches"])
    # B1+B2+B3 merged suite: batch-tier oracles composed verbatim
    d["b1b2_batch_suite"] = f"""
        SELECT 'b1' AS part, event_id AS e, aspect_bucket_label AS s,
               CAST(aspect_bucket AS BIGINT) AS i1, shard AS i2,
               batch_id AS i3, batch_pos AS i4,
               CAST(is_complete AS BIGINT) AS i5
        FROM ({d['b1_aspect_batches']})
        UNION ALL
        SELECT 'b2', event_id, '', epoch, crop_x, crop_y, flip,
               CAST(-1 AS BIGINT)
        FROM ({d['b2_augment_plan']})
        UNION ALL
        SELECT 'b3', epoch, '', aspect_bucket, shard, batch_id,
               serve_key, serve_pos
        FROM ({d['b3_epoch_order']})
    """
    # J4+J5 merged suite: both join oracles composed verbatim, tagged
    # JB Bloom-membership joins: the composed operators are EXACT (the
    # Bloom tier only prunes; the exact join repairs false positives),
    # so plain IN / NOT EXISTS grade them bitwise
    d["jb_bloom_semi"] = """
        SELECT event_id, user_id, ts FROM events
        WHERE user_id IN (SELECT user_id FROM events
                          WHERE event_type = 'purchase' AND value > 90)
    """
    d["jb_bloom_anti"] = """
        SELECT event_id, user_id, ts FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM events p
                          WHERE p.event_type = 'purchase' AND p.value > 90
                            AND p.user_id = e.user_id)
    """
    d["j4j5_range_anti_suite"] = f"""
        SELECT 'j4' AS part, CAST(user_id AS BIGINT) AS e, start_ts AS t,
               CAST(n_events AS BIGINT) AS i1, sv AS s
        FROM ({d['j4_range_join']})
        UNION ALL
        SELECT 'j5', CAST(user_id AS BIGINT), CAST(NULL AS TIMESTAMP),
               CAST(n_events AS BIGINT), ''
        FROM ({d['j5_anti_join']})
        UNION ALL
        SELECT 'j3f', CAST(event_id AS BIGINT), ts,
               CAST(y_id AS BIGINT), ''
        FROM ({d['j3f_label_forward']})
        UNION ALL
        SELECT 'jbs', CAST(event_id AS BIGINT), ts,
               CAST(user_id AS BIGINT), ''
        FROM ({d['jb_bloom_semi']})
        UNION ALL
        SELECT 'jba', CAST(event_id AS BIGINT), ts,
               CAST(user_id AS BIGINT), ''
        FROM ({d['jb_bloom_anti']})
    """
    # A7+A8 merged suite: entropy + scalar aggregates composed verbatim
    d["a7a8_scalar_suite"] = f"""
        SELECT 'a7' AS part, doc_id AS e, entropy AS x1,
               CAST(-1.0 AS DOUBLE) AS x2, CAST(-1.0 AS DOUBLE) AS x3,
               CAST(-1.0 AS DOUBLE) AS x4
        FROM ({d['a7_entropy']})
        UNION ALL
        SELECT 'a8', doc_id, gravy, aromaticity, net_charge, frac_polar
        FROM ({d['a8_scalar_features']})
    """
    # P6+T6 hygiene suite: both component oracles composed verbatim
    # DQ1: every count recomputed with FILTER aggregates + the same
    # injective netstring-md5 fingerprint for the uniqueness check
    d["dq1_constraint_audit"] = """
        WITH agg AS (
          SELECT COUNT(*) AS n,
                 COUNT(*) FILTER (user_id IS NULL) AS v0,
                 COUNT(*) FILTER (value IS NOT NULL
                                  AND (value < 0 OR value > 100)) AS v1,
                 COUNT(*) - COUNT(DISTINCT md5(CASE WHEN event_id IS NULL
                     THEN 'n' ELSE 'v' || length(CAST(event_id AS VARCHAR))
                     || ':' || CAST(event_id AS VARCHAR) END)) AS v2,
                 COUNT(*) FILTER (event_type IS NOT NULL AND event_type
                     NOT IN ('click', 'view', 'purchase')) AS v3
          FROM events)
        SELECT 0 AS idx, 'not_null(user_id)' AS constraint_name,
               'user_id' AS "column", n AS rows, v0 AS violations,
               v0 = 0 AS passed FROM agg
        UNION ALL SELECT 1, 'in_range(value,0,100)', 'value', n, v1,
               v1 = 0 FROM agg
        UNION ALL SELECT 2, 'unique(event_id)', 'event_id', n, v2,
               v2 = 0 FROM agg
        UNION ALL SELECT 3, 'in_set(event_type)', 'event_type', n, v3,
               v3 = 0 FROM agg
    """
    # DQ2: exact integer share/salt arithmetic (// == Spark's DIV);
    # SUM(cnt) is cast back to BIGINT (DuckDB sums BIGINT into HUGEINT)
    d["dq2_skew_profile"] = """
        WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events
                   WHERE user_id IS NOT NULL GROUP BY user_id),
        t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM c),
        r AS (SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rank,
                     user_id, cnt, cnt * 10000 // tot AS share_bp,
                     (cnt * 32 + tot - 1) // tot AS salt
              FROM c, t)
        SELECT rank, user_id, cnt, share_bp, salt FROM r WHERE rank <= 20
    """
    # P10: exact top-cap by (h32(salt:id), id) per key — the Spark
    # two-step (hash-threshold pre-filter + guarded rank) reproduces the
    # plain full-partition rank bitwise.
    from profet_spark.operators.corpus import cap_per_key_sql_duckdb
    d["p10_cap_per_key"] = cap_per_key_sql_duckdb(
        "source", _P10_CAP, "doc_id", _P10_SALT, "documents")
    # L1: same clamp/normalize/interleave/bucket arithmetic (all
    # shift/AND/OR and truncating int division on BIGINT).
    from profet_spark.operators.layout import (zbucket_sql_duckdb,
                                               zorder_key_sql_duckdb)
    _zo = zorder_key_sql_duckdb(_L1_DIMS, _L1_BITS)
    _zb = zbucket_sql_duckdb("zkey", _L1_BUCKETS, len(_L1_DIMS), _L1_BITS)
    d["l1_zorder_layout"] = f"""
        WITH e AS (
          SELECT user_id,
                 (epoch_us(ts) // 1000000) % 86400 AS sec
          FROM events),
        z AS (SELECT user_id, sec, {_zo} AS zkey FROM e),
        b AS (SELECT user_id, sec, {_zb} AS zbucket FROM z)
        SELECT zbucket, CAST(count(*) AS BIGINT) AS n_rows,
               min(user_id) AS user_id_min, max(user_id) AS user_id_max,
               min(sec) AS sec_min, max(sec) AS sec_max
        FROM b GROUP BY zbucket
    """
    # DQ3 join pre-flight: exact-regime theta set algebra == plain
    # COUNT DISTINCT / INTERSECT / EXCEPT; hot tier = both-sides-top-5
    # join with exact integer products (same (cnt DESC, k ASC) order)
    d["dq3_join_preflight"] = """
        WITH lk AS (SELECT o_custkey AS k FROM orders
                    WHERE o_custkey IS NOT NULL),
        rk AS (SELECT c_custkey AS k FROM customer
               WHERE c_custkey IS NOT NULL),
        lt AS (SELECT k, COUNT(*) AS cnt FROM lk GROUP BY k
               ORDER BY cnt DESC, k ASC LIMIT 5),
        rt AS (SELECT k, COUNT(*) AS cnt FROM rk GROUP BY k
               ORDER BY cnt DESC, k ASC LIMIT 5)
        SELECT 'left' AS part, '' AS key,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lk) AS i1,
               (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM lk) AS i2,
               CAST(-1 AS BIGINT) AS i3
        UNION ALL
        SELECT 'right', '',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM rk),
               (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) FROM rk),
               CAST(-1 AS BIGINT)
        UNION ALL
        SELECT 'overlap', '',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT DISTINCT k FROM lk
                 INTERSECT SELECT DISTINCT k FROM rk)),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT DISTINCT k FROM lk
                 EXCEPT SELECT DISTINCT k FROM rk)),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM
                (SELECT DISTINCT k FROM rk
                 EXCEPT SELECT DISTINCT k FROM lk))
        UNION ALL
        SELECT 'hot', CAST(lt.k AS VARCHAR),
               CAST(lt.cnt AS BIGINT), CAST(rt.cnt AS BIGINT),
               CAST(lt.cnt * rt.cnt AS BIGINT)
        FROM lt JOIN rt ON lt.k = rt.k
    """
    d["hygiene_suite"] = f"""
        SELECT 'p6' AS part, CAST(doc_id AS BIGINT) AS e, '' AS s,
               CAST(n_shingles AS BIGINT) AS i1,
               CAST(n_contaminated AS BIGINT) AS i2,
               CAST(contaminated AS BIGINT) AS i3, CAST(-1 AS BIGINT) AS i4
        FROM ({d['p6_decontaminate']})
        UNION ALL
        SELECT 't6', CAST(c_custkey AS BIGINT), text_scrubbed,
               CAST(n_pii_email AS BIGINT), CAST(n_pii_ssn AS BIGINT),
               CAST(n_pii_ipv4 AS BIGINT), CAST(n_pii_phone AS BIGINT)
        FROM ({d['t6_pii_scrub']})
        UNION ALL
        SELECT 'dq1', CAST(idx AS BIGINT), constraint_name,
               CAST(rows AS BIGINT), CAST(violations AS BIGINT),
               CAST(passed AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['dq1_constraint_audit']})
        UNION ALL
        SELECT 'dq2', CAST(rank AS BIGINT), CAST(user_id AS VARCHAR),
               CAST(cnt AS BIGINT), CAST(share_bp AS BIGINT),
               CAST(salt AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['dq2_skew_profile']})
        UNION ALL
        SELECT 'p10', CAST(doc_id AS BIGINT), source,
               CAST(cap_rank AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['p10_cap_per_key']})
        UNION ALL
        SELECT 'zxu', CAST(zbucket AS BIGINT), '',
               CAST(n_rows AS BIGINT), CAST(user_id_min AS BIGINT),
               CAST(user_id_max AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['l1_zorder_layout']})
        UNION ALL
        SELECT 'zxs', CAST(zbucket AS BIGINT), '',
               CAST(n_rows AS BIGINT), CAST(sec_min AS BIGINT),
               CAST(sec_max AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['l1_zorder_layout']})
        UNION ALL
        SELECT 'd10', CAST(doc_id AS BIGINT), '',
               CAST(span_start AS BIGINT), CAST(span_end AS BIGINT),
               CAST(n_hits AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['d10_repeated_spans']})
        UNION ALL
        SELECT 'd10c', CAST(doc_id AS BIGINT), text_cut,
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
               CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['d10_cut_spans']})
        UNION ALL
        SELECT 'dq3-' || part, CAST(-1 AS BIGINT), key,
               CAST(i1 AS BIGINT), CAST(i2 AS BIGINT),
               CAST(i3 AS BIGINT), CAST(-1 AS BIGINT)
        FROM ({d['dq3_join_preflight']})
    """
    # Image-tier SQL slice (round 5): frozen direct-from-pixels goldens
    # (BENCH/freeze_image_goldens.py) + the hamming-drift window
    # recomputed in SQL from the stored phash column — grades the codec
    # roundtrip, the Arrow decode plumbing, and the C8+W3 drift window
    d["image_features_sql_slice"] = f"""
        SELECT image_id, ts, w, h, fmt, phash,
               g_lum_mean AS lum_mean, g_lum_var AS lum_var,
               g_edge_density AS edge_density,
               g_rowprof_mean AS rowprof_mean,
               g_phash_dct AS phash_dct,
               CASE WHEN prev IS NULL THEN NULL
                    ELSE CAST(bit_count(xor(phash, prev)) AS INTEGER)
               END AS phash_hamming_prev
        FROM (SELECT *, lag(phash) OVER (
                  PARTITION BY image_id ORDER BY ts) AS prev
              FROM read_parquet(
                  '{_FIXTURES_DIR}/image_slice_golden.parquet'))
    """
    # Image two-tier curation gate (round 5 — was rows-only): the
    # oracle replants the metadata defects with the portable h32,
    # recomputes the metadata tier's predicates, and evaluates the
    # pixel tier over the frozen direct-from-pixels stats — the WHOLE
    # gate (flags, first-failing reject_reason, NULLed stats for
    # never-decoded rejects, and the decoded lum_mean values) bitwise
    _cur = f"read_parquet('{_FIXTURES_DIR}/curate_slice_golden.parquet')"
    d["image_curation_pipeline"] = f"""
        WITH planted AS (
          SELECT image_id, ts,
                 CASE WHEN {H.h32_sql_duckdb('image_id')} % 17 = 0
                      THEN 4 ELSE w END AS w,
                 h,
                 CASE WHEN {H.h32_sql_duckdb('image_id')} % 13 = 0
                      THEN 'jpg' ELSE fmt END AS fmt,
                 g_lum_mean, g_lum_var, g_edge_density
          FROM {_cur}),
        flags AS (
          SELECT *,
                 (w < 16 OR h < 16) AS f_small,
                 (LEAST(CAST(w AS DOUBLE), CAST(h AS DOUBLE)) <= 0
                  OR GREATEST(CAST(w AS DOUBLE), CAST(h AS DOUBLE))
                     / LEAST(CAST(w AS DOUBLE), CAST(h AS DOUBLE)) > 4.0)
                     AS f_aspect,
                 (fmt NOT IN ('png', 'ppm')) AS f_fmt,
                 (g_lum_mean < 1.0 OR g_lum_mean > 254.0) AS f_lum,
                 (g_lum_var < 0.0) AS f_flat,
                 (g_edge_density < 0.0) AS f_blur
          FROM planted)
        SELECT image_id, ts, CAST(w AS INTEGER) AS w,
               CAST(h AS INTEGER) AS h, fmt,
               NOT (f_small OR f_aspect OR f_fmt) AS meta_ok,
               CASE WHEN (f_small OR f_aspect OR f_fmt) THEN FALSE
                    ELSE NOT (f_lum OR f_flat OR f_blur) END AS pixel_ok,
               CASE WHEN (f_small OR f_aspect OR f_fmt) THEN FALSE
                    ELSE NOT (f_lum OR f_flat OR f_blur) END AS keep_image,
               CASE WHEN f_small THEN 'meta_small'
                    WHEN f_aspect THEN 'meta_aspect'
                    WHEN f_fmt THEN 'meta_fmt'
                    WHEN f_lum THEN 'lum_bounds'
                    WHEN f_flat THEN 'flat'
                    WHEN f_blur THEN 'blur'
               END AS reject_reason,
               CASE WHEN NOT (f_small OR f_aspect OR f_fmt)
                    THEN g_lum_mean END AS lum_mean
        FROM flags
    """
    # Multimodal resize slice (round 5): frozen direct-from-pixels
    # goldens of the 8×8 nearest-neighbor resample's stats — grades
    # decode → resample → re-encode → decode → stats bitwise
    d["multimodal_resize_slice"] = f"""
        SELECT image_id, ts, CAST(8 AS INTEGER) AS w,
               CAST(8 AS INTEGER) AS h, 'ppm' AS fmt,
               g_lum_mean AS lum_mean, g_lum_var AS lum_var,
               g_edge_density AS edge_density
        FROM read_parquet(
            '{_FIXTURES_DIR}/resize_slice_golden.parquet')
    """
    # ... and the original pipeline key (same computation, historical
    # name) grades against the same frozen table — rows-only no more
    d["multimodal_resize_pipeline"] = d["multimodal_resize_slice"]
    # D8 image adapter WITH the max_bucket=16 skew cap (round 5 — was
    # rows-only): the oracle mirrors the pigeonhole machinery exactly —
    # 4×16-bit block explode, oversized-(blk,val)-bucket anti-join,
    # block equi-join, bit_count verify, pair-distinct — over the
    # frozen fixture's stored phash (latest snapshot per entity)
    d["d8_phash_dup_pairs"] = f"""
        WITH latest AS (
          SELECT image_id AS id, phash AS bits FROM (
            SELECT image_id, phash, row_number() OVER (
                PARTITION BY image_id ORDER BY ts DESC) AS rn
            FROM read_parquet(
                '{_FIXTURES_DIR}/image_slice_golden.parquet'))
          WHERE rn = 1),
        blocks AS (
          SELECT id, bits, blk, (bits >> (16 * blk)) & 65535 AS val
          FROM (SELECT id, bits, unnest([0, 1, 2, 3]) AS blk
                FROM latest)),
        kept AS (
          SELECT b.id, b.bits, b.blk, b.val FROM blocks b
          LEFT JOIN (SELECT blk, val FROM blocks GROUP BY blk, val
                     HAVING count(*) > 16) big
            ON b.blk = big.blk AND b.val = big.val
          WHERE big.blk IS NULL)
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.bits, b.bits)) AS INTEGER) AS hamming
        FROM kept a JOIN kept b
          ON a.blk = b.blk AND a.val = b.val AND a.id < b.id
        WHERE bit_count(xor(a.bits, b.bits)) <= 3
    """
    # D8×D6 image keep-one (round 5): pairs via bit_count(xor) on the
    # frozen fixture's stored phash (latest snapshot per entity),
    # components via the same recursive-CTE convention as d6, survivors
    # via anti-join — the whole image near-dedup composition bitwise
    d["d8_image_keep_one"] = f"""
        WITH RECURSIVE latest AS (
          SELECT image_id, phash FROM (
            SELECT image_id, phash, row_number() OVER (
                PARTITION BY image_id ORDER BY ts DESC) AS rn
            FROM read_parquet(
                '{_FIXTURES_DIR}/image_slice_golden.parquet'))
          WHERE rn = 1),
        p AS (
          SELECT a.image_id AS id_a, b.image_id AS id_b
          FROM latest a JOIN latest b
            ON a.image_id < b.image_id
           AND bit_count(xor(a.phash, b.phash)) <= 3),
        e AS (SELECT id_a AS a, id_b AS b FROM p
              UNION ALL SELECT id_b, id_a FROM p),
        r(id, lbl) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM e)
            UNION
            SELECT e.a, r.lbl FROM e JOIN r ON r.id = e.b
        ),
        c AS (SELECT id, min(lbl) AS cluster_id FROM r GROUP BY id),
        drops AS (SELECT id FROM c WHERE id <> cluster_id)
        SELECT l.image_id, l.phash
        FROM latest l LEFT JOIN drops d ON l.image_id = d.id
        WHERE d.id IS NULL
    """
    # Full image snapshot pipeline (round 5 — was rows-only): same
    # frozen-goldens contract as image_features_sql_slice, full column
    # set (rowprof + both hashes + drift window)
    d["image_snapshot_pipeline"] = f"""
        SELECT image_id, ts, w, h, fmt,
               g_lum_mean AS lum_mean, g_lum_var AS lum_var,
               g_edge_density AS edge_density,
               g_rowprof_mean AS rowprof_mean, phash,
               g_phash_dct AS phash_dct,
               CASE WHEN prev IS NULL THEN NULL
                    ELSE CAST(bit_count(xor(phash, prev)) AS INTEGER)
               END AS phash_hamming_prev
        FROM (SELECT *, lag(phash) OVER (
                  PARTITION BY image_id ORDER BY ts) AS prev
              FROM read_parquet(
                  '{_FIXTURES_DIR}/image_slice_golden.parquet'))
    """
    # N1-N4 merged ANN suite (round 5): every part composed verbatim
    # from its standalone component oracle — the serving probe (n4s)
    # deliberately grades against the SAME SQL as the in-memory IVF-PQ
    # build, and the index part (n4x) exposes every code byte.
    _ann_cos = """
        SELECT '{p}' AS part, CAST(query_id AS BIGINT) AS q,
               CAST(neighbor_id AS BIGINT) AS nb, CAST(rank AS BIGINT) AS rank,
               CAST(-1 AS BIGINT) AS i1, CAST(cosine AS DOUBLE) AS x1
        FROM ({sql})"""
    _ann_adc = """
        SELECT '{p}' AS part, CAST(query_id AS BIGINT) AS q,
               CAST(neighbor_id AS BIGINT) AS nb, CAST(rank AS BIGINT) AS rank,
               CAST(dist AS BIGINT) AS i1, CAST(-1.0 AS DOUBLE) AS x1
        FROM ({sql})"""
    d["n1n4_ann_suite"] = " UNION ALL ".join(
        [_ann_cos.format(p=p, sql=d[k]) for p, k in
         [("n1", "n1_cosine_topk"), ("n2", "n2_lsh_ann"),
          ("n2d", "n2_lsh_ann_distributed"), ("n3", "n3_ivf_ann"),
          ("n3d", "n3_ivf_ann_distributed")]]
        + [_ann_adc.format(p=p, sql=d[k]) for p, k in
           [("n4p", "n4_pq_topk"), ("n4i", "n4_ivf_pq_topk"),
            ("n4s", "n4_ivf_pq_probe")]]
        + [f"""
        SELECT 'n4x' AS part, CAST(vec_id AS BIGINT) AS q,
               CAST(cid AS BIGINT) AS nb, CAST(s AS BIGINT) AS rank,
               CAST(code AS BIGINT) AS i1, CAST(-1.0 AS DOUBLE) AS x1
        FROM ({d['n4_ivf_pq_index']})"""])
    return d


def _oracle_sql_base() -> dict[str, str]:
    return {
        "w3_lag_lead": """
            SELECT user_id, ts, event_id, value,
                   lag(value)  OVER w AS value_lag1,
                   lead(value) OVER w AS value_lead1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "w4_ffill": """
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN value END AS pv,
                   last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv_ffill
            FROM events
        """,
        "w9_resample_grid": """
            WITH span AS (
              SELECT user_id,
                     CAST(floor(epoch(min(ts)) / 21600) * 21600 AS BIGINT) AS s,
                     CAST(floor(epoch(max(ts))) AS BIGINT) AS e
              FROM events GROUP BY 1),
            grid AS (
              SELECT user_id, TIMESTAMP '1970-01-01' + to_seconds(g) AS ts
              FROM (SELECT user_id, unnest(generate_series(s, e, 21600)) AS g
                    FROM span)),
            vals AS (SELECT user_id, ts, max(value) AS value
                     FROM events GROUP BY 1, 2)
            SELECT g.user_id, g.ts, v.value FROM grid g
            ASOF LEFT JOIN vals v ON g.user_id = v.user_id AND g.ts >= v.ts
        """,
        "w10_rolling_quantile": """
            SELECT user_id, ts, event_id, value,
                   quantile_disc(value, 0.5) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS rq
            FROM events
        """,
        "w11_phash_drift": f"""
            WITH base AS (
              SELECT user_id, ts, event_id,
                     ({H.h32_sql_duckdb('props')} - 2147483648) * 4294967296
                       + {H.h32_hi_sql_duckdb('props')} AS ph
              FROM events),
            lagged AS (
              SELECT *, lag(ph) OVER w AS prev_ph
              FROM base
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            d AS (
              SELECT user_id, ts, event_id, ph,
                     CASE WHEN prev_ph IS NOT NULL
                          THEN CAST(bit_count(xor(ph, prev_ph)) AS BIGINT) END
                       AS ph_drift
              FROM lagged)
            SELECT user_id, ts, event_id, ph, ph_drift,
                   CASE WHEN count(ph_drift) OVER wm > 0 THEN
                     CAST(sum(ph_drift) OVER wm AS DOUBLE)
                       / CAST(count(ph_drift) OVER wm AS DOUBLE) END
                     AS ph_drift_mean4,
                   CAST(coalesce(sum(ph_drift) OVER wc, 0) AS BIGINT)
                     AS ph_drift_cum
            FROM d
            WINDOW wm AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
                   wc AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "fm2_leakage_audit": """
            WITH purch AS (
              SELECT DISTINCT user_id, ts
              FROM events WHERE event_type = 'purchase'),
            clicks AS (
              SELECT DISTINCT user_id, ts
              FROM events WHERE event_type = 'click'),
            m AS (
              SELECT e.ts, p.ts AS purch_fts, c.ts AS click_fts
              FROM events e
              ASOF LEFT JOIN purch p ON e.user_id = p.user_id AND e.ts >= p.ts
              ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts)
            SELECT 'click' AS feature,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(click_fts) AS BIGINT) AS n_matched,
                   CAST(sum(CASE WHEN click_fts > ts THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations,
                   CAST(min(epoch_us(ts) - epoch_us(click_fts)) AS BIGINT)
                     AS min_staleness_us,
                   CAST(max(epoch_us(ts) - epoch_us(click_fts)) AS BIGINT)
                     AS max_staleness_us,
                   CAST(sum(epoch_us(ts) - epoch_us(click_fts)) AS BIGINT)
                     AS sum_staleness_us
            FROM m
            UNION ALL
            SELECT 'purch',
                   CAST(count(*) AS BIGINT),
                   CAST(count(purch_fts) AS BIGINT),
                   CAST(sum(CASE WHEN purch_fts > ts THEN 1 ELSE 0 END)
                        AS BIGINT),
                   CAST(min(epoch_us(ts) - epoch_us(purch_fts)) AS BIGINT),
                   CAST(max(epoch_us(ts) - epoch_us(purch_fts)) AS BIGINT),
                   CAST(sum(epoch_us(ts) - epoch_us(purch_fts)) AS BIGINT)
            FROM m
        """,
        "w5_sessionize": """
            SELECT user_id, ts, event_id,
                   CAST(sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL '3600' SECOND
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                     AS BIGINT) AS session_id
            FROM (SELECT user_id, ts, event_id,
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                  FROM events)
        """,
        "w8_expanding": """
            SELECT user_id, ts, event_id, value,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                     / count(value) OVER w AS mean_cum,
                   min(value)   OVER w AS min_cum,
                   max(value)   OVER w AS max_cum,
                   count(value) OVER w AS count_cum
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "w7_tumbling": """
            SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sv
            FROM events GROUP BY 1, 2
        """,
        "w6_topk_latest": """
            SELECT * FROM (
              SELECT user_id, ts, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
                       AS snapshot_rank
              FROM events) t WHERE snapshot_rank <= 3
        """,
        "j3_asof_join": _ASOF_ORACLE,
        "j3_asof_window": _ASOF_ORACLE,
        "a9_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS count_order,
                   sum(l_quantity) AS sum_qty,
                   round(avg(l_quantity), 6) AS avg_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS sum_base,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                        AS VARCHAR) AS sum_disc_price
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "j2_broadcast_join": """
            SELECT n_name, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "j5_anti_join": """
            SELECT user_id, count(*) AS n_events
            FROM events e
            WHERE NOT EXISTS (
              SELECT 1 FROM events p
              WHERE p.user_id = e.user_id
                AND p.event_type = 'purchase' AND p.value > 200)
            GROUP BY user_id
        """,
        "a1_char_composition": f"""
            WITH d AS (SELECT doc_id, {_NORM.format(c='text')} AS s FROM documents),
            e AS (SELECT doc_id, length(s) AS slen, unnest(string_split(s, '')) AS ch
                  FROM d WHERE length(s) > 0)
            SELECT doc_id, ch, count(*) AS cnt,
                   count(*) / any_value(slen) AS freq
            FROM e GROUP BY doc_id, ch
        """,
        "a7_entropy": f"""
            WITH d AS (SELECT doc_id, {_NORM.format(c='text')} AS s FROM documents),
            e AS (SELECT doc_id, length(s) AS slen, unnest(string_split(s, '')) AS ch
                  FROM d WHERE length(s) > 0),
            p AS (SELECT doc_id, count(*) / CAST(any_value(slen) AS DOUBLE) AS p
                  FROM e GROUP BY doc_id, ch)
            SELECT doc_id, round(sum(-p * log2(p)), 9) AS entropy
            FROM p GROUP BY doc_id
        """,
        "a4_ctd_composition": f"""
            WITH d AS (
              SELECT doc_id,
                     translate({_NORM.format(c='text')}, '{_HYD_SRC}', '{_HYD_DST}') AS t
              FROM documents)
            SELECT doc_id,
                   (length(t) - length(replace(t, '1', ''))) / CAST(length(t) AS DOUBLE) AS c1,
                   (length(t) - length(replace(t, '2', ''))) / CAST(length(t) AS DOUBLE) AS c2,
                   (length(t) - length(replace(t, '3', ''))) / CAST(length(t) AS DOUBLE) AS c3
            FROM d WHERE length(t) > 0
        """,
        # a 2-char pattern of DISTINCT chars cannot self-overlap, so
        # (len - len(replace))/2 counts occurrences exactly
        "a5_ctd_transition": f"""
            WITH d AS (
              SELECT doc_id,
                     translate({_NORM.format(c='text')}, '{_HYD_SRC}', '{_HYD_DST}') AS t
              FROM documents)
            SELECT doc_id,
                   ((length(t) - length(replace(t, '12', ''))) / 2
                    + (length(t) - length(replace(t, '21', ''))) / 2)
                     / CAST(length(t) - 1 AS DOUBLE) AS t12,
                   ((length(t) - length(replace(t, '13', ''))) / 2
                    + (length(t) - length(replace(t, '31', ''))) / 2)
                     / CAST(length(t) - 1 AS DOUBLE) AS t13,
                   ((length(t) - length(replace(t, '23', ''))) / 2
                    + (length(t) - length(replace(t, '32', ''))) / 2)
                     / CAST(length(t) - 1 AS DOUBLE) AS t23
            FROM d WHERE length(t) > 1
        """,
        "f1_doc_filter": f"""
            SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
            WHERE n_chars BETWEEN 50 AND 2000
              AND length({_NORM.format(c='text')}) >= 20
            GROUP BY lang
        """,
        "c9_json_props": """
            SELECT event_type, count(*) AS n,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
            FROM events GROUP BY event_type
        """,
        "a2_bigram_composition": f"""
            WITH d AS (
              SELECT doc_id,
                     translate({_NORM.format(c='text')}, '{_HYD_SRC}', '{_HYD_DST}') AS t
              FROM documents),
            e AS (SELECT doc_id, length(t) - 1 AS nk,
                         substr(t, i, 2) AS kmer
                  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 1)) AS i
                        FROM d WHERE length(t) > 1))
            SELECT doc_id, kmer, count(*) AS cnt, count(*) / any_value(nk) AS freq
            FROM e GROUP BY doc_id, kmer
        """,
        "f5_terminal_composition": f"""
            WITH d AS (SELECT doc_id, substr({_NORM.format(c='text')}, 1, 60) AS s
                       FROM documents),
            e AS (SELECT doc_id, length(s) AS slen, unnest(string_split(s, '')) AS ch
                  FROM d WHERE length(s) > 0)
            SELECT doc_id, ch, count(*) AS cnt, count(*) / any_value(slen) AS freq
            FROM e GROUP BY doc_id, ch
        """,
        "profet_features_sql_slice": f"""
            WITH d AS (SELECT doc_id, {_NORM.format(c='text')} AS s FROM documents),
            r8 AS (SELECT doc_id, s,
                          translate(s, '{_R8_SRC}', '{_R8_DST}') AS t8,
                          translate(substr(s, 1, 15), '{_R8_SRC}', '{_R8_DST}') AS tn,
                          translate(right(s, 15), '{_R8_SRC}', '{_R8_DST}') AS tc
                   FROM d),
            c AS (SELECT doc_id, length(s) AS n,
                         length(t8) - 1 AS nk2,
                         (length(t8) - length(replace(t8, '12', ''))) / 2 AS k12,
                         length(tn) AS mn_,
                         length(tn) - length(replace(tn, '1', '')) AS cn1,
                         length(tc) AS mc_,
                         length(tc) - length(replace(tc, '1', '')) AS cc1,
                         length(s) - length(replace(s, 'A', '')) AS ca,
                         length(s) - length(replace(s, 'E', '')) AS ce,
                         length(s) - length(replace(s, 'T', '')) AS ct,
                         length(translate(s, '{_HYD_SRC}', '{_HYD_DST}')) AS nt,
                         length(replace(translate(s, '{_HYD_SRC}', '{_HYD_DST}'), '1', ''))
                           AS nt_no1,
                         length(replace(translate(s, '{_HYD_SRC}', '{_HYD_DST}'), '2', ''))
                           AS nt_no2,
                         length(replace(translate(s, '{_HYD_SRC}', '{_HYD_DST}'), '3', ''))
                           AS nt_no3
                  FROM r8)
            SELECT doc_id, CAST(n AS DOUBLE) AS length,
                   CASE WHEN n > 0 THEN ca / CAST(n AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS comp_A,
                   CASE WHEN n > 0 THEN ce / CAST(n AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS comp_E,
                   CASE WHEN n > 0 THEN ct / CAST(n AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS comp_T,
                   CASE WHEN n > 0 THEN (nt - nt_no1) / CAST(n AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                     AS ctd_hydrophobicity_c1,
                   CASE WHEN n > 0 THEN (nt - nt_no2) / CAST(n AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                     AS ctd_hydrophobicity_c2,
                   CASE WHEN n > 0 THEN (nt - nt_no3) / CAST(n AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                     AS ctd_hydrophobicity_c3,
                   CASE WHEN nk2 > 0 THEN k12 / CAST(nk2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                     AS k2_12,
                   CASE WHEN mn_ > 0 THEN cn1 / CAST(mn_ AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                     AS term_n_1,
                   CASE WHEN mc_ > 0 THEN cc1 / CAST(mc_ AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
                     AS term_c_1
            FROM c
        """,
        # D10 duplicated-span report (portable md5 lo/hi hash — the
        # DuckDB twin reproduces every interval bit for bit)
        "d10_repeated_spans": f"""
            SELECT id AS doc_id, span_start, span_end,
                   CAST(n_hits AS BIGINT) AS n_hits
            FROM ({dedup.repeated_spans_sql_duckdb(span=40, min_count=2)})
        """,
        # D10c excision: the retained text is the ordered concat of gap
        # slices between merged spans plus the tail after the last span
        "d10_cut_spans": f"""
            WITH spans AS (
              SELECT id, span_start, span_end
              FROM ({dedup.repeated_spans_sql_duckdb(span=40, min_count=2)})),
            c AS (
              SELECT s.id, s.span_start, s.span_end, d.text,
                     coalesce(lag(s.span_end) OVER (
                       PARTITION BY s.id ORDER BY s.span_start),
                       CAST(1 AS BIGINT)) AS gap_start
              FROM spans s JOIN documents d ON d.doc_id = s.id)
            SELECT id AS doc_id,
                   coalesce(string_agg(
                     CASE WHEN span_start > gap_start
                          THEN substr(text, CAST(gap_start AS INTEGER),
                                      CAST(span_start - gap_start AS INTEGER))
                          ELSE '' END, '' ORDER BY span_start), '')
                   || substr(min(text), CAST(max(span_end) AS INTEGER),
                             length(min(text))) AS text_cut
            FROM c GROUP BY id
        """,
        "t1_language_id": _duck_lid_sql(),
        "t2_quality_score": _duck_quality_sql(),
        "t3_token_counts": f"""
            SELECT doc_id, len({_DUCK_WORDS.format(c="coalesce(text, '')")}) AS ws_tokens,
                   len(regexp_extract_all(lower(coalesce(text, '')), '{ts.TOKEN_RE}')) AS bpe_tokens
            FROM documents
        """,
        "t4_fingerprint": f"""
            WITH {_duck_shingle_cte(4)}
            SELECT d0.doc_id, coalesce(m.mn, -1) AS fp_minhash,
                   coalesce(m.c, 0) AS fp_windows
            FROM documents d0
            LEFT JOIN (SELECT id, min(h) AS mn, count(*) AS c FROM hs GROUP BY id) m
              ON m.id = d0.doc_id
        """,
        "d1_exact_dedup": f"""
            SELECT min(doc_id) AS doc_id, content_fp
            FROM (SELECT doc_id, md5({_DUCK_NORM_TXT.format(c='text')}) AS content_fp
                  FROM documents)
            GROUP BY content_fp
        """,
        "t5_repetition": _duck_repetition_sql(),
        "d7_segment_dedup": _duck_segment_dedup_sql(),
        "d2_ngram_jaccard": f"""
            WITH {_duck_shingle_cte(3)},
            i AS (SELECT a.id AS ia, b.id AS ib, count(*) AS k
                  FROM hs a JOIN hs b ON a.h = b.h AND a.id < b.id GROUP BY 1, 2)
            SELECT ia AS id_a, ib AS id_b, k AS inter, ca.n AS na, cb.n AS nb,
                   k / (ca.n + cb.n - k) AS jaccard
            FROM i JOIN cnt ca ON ca.id = ia JOIN cnt cb ON cb.id = ib
            WHERE k / (ca.n + cb.n - k) >= 0.5
        """,
        "d3_minhash_lsh": _duck_minhash_lsh_sql(0.5),
        "d4_simhash": f"""
            WITH {_duck_shingle_cte(2, wide=True)},
            bits AS (SELECT id, j,
                            sum(CASE WHEN (((CASE WHEN j < 32 THEN h ELSE h2 END)
                                            >> (j % 32)) & 1) = 1
                                     THEN 1 ELSE -1 END) AS v
                     FROM (SELECT id, h, h2, unnest(generate_series(0, 63)) AS j FROM hs)
                     GROUP BY id, j)
            SELECT id, CAST(sum(CASE WHEN v > 0 THEN
                                  (CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                                        ELSE (CAST(1 AS BIGINT) << j) END)
                                ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY id
        """,
        "d5_embedding_dup": f"""
            WITH {_duck_quantized_cte()},
            dots AS (SELECT a.vec_id AS ia, b.vec_id AS ib, sum(a.qx * b.qx) AS dot
                     FROM q a JOIN q b ON a.i = b.i AND a.vec_id < b.vec_id
                     GROUP BY 1, 2)
            SELECT ia AS id_a, ib AS id_b, {_DUCK_COS} AS cosine
            FROM dots JOIN nrm na ON na.vec_id = ia JOIN nrm nb ON nb.vec_id = ib
            WHERE {_DUCK_COS} >= 0.3
        """,
        "n1_cosine_topk": f"""
            WITH {_duck_quantized_cte()},
            dots AS (SELECT a.vec_id AS qid, b.vec_id AS nid, sum(a.qx * b.qx) AS dot
                     FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 20
                                      AND a.vec_id <> b.vec_id
                     GROUP BY 1, 2),
            cos AS (SELECT qid, nid, {_DUCK_COS.replace('ia', 'qid').replace('ib', 'nid')} AS cosine
                    FROM dots JOIN nrm na ON na.vec_id = qid JOIN nrm nb ON nb.vec_id = nid)
            SELECT qid AS query_id, nid AS neighbor_id, cosine, rank
            FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rank
                  FROM cos)
            WHERE rank <= 5
        """,
        "j4_range_join": """
            WITH p AS (
              SELECT user_id, ts AS start_ts,
                     lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS end_ts
              FROM (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'purchase'))
            SELECT p.user_id, p.start_ts, count(*) AS n_events,
                   CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS VARCHAR) AS sv
            FROM p JOIN events e
              ON e.user_id = p.user_id AND e.ts >= p.start_ts
                 AND (p.end_ts IS NULL OR e.ts < p.end_ts)
            GROUP BY 1, 2
        """,
        "a10_distinct_counts": f"""
            SELECT lang, count(*) AS n_docs,
                   count(DISTINCT source) AS n_sources,
                   count(DISTINCT md5({_DUCK_NORM_TXT.format(c='text')})) AS n_contents
            FROM documents GROUP BY lang
        """,
        "a11_rollup": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total,
                   GROUPING(o_orderstatus) AS g_status,
                   GROUPING(o_orderpriority) AS g_prio
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "a3_trigram_composition": f"""
            WITH d AS (
              SELECT doc_id,
                     translate({_NORM.format(c='text')}, '{_HYD_SRC}', '{_HYD_DST}') AS t
              FROM documents),
            e AS (SELECT doc_id, length(t) - 2 AS nk,
                         substr(t, i, 3) AS kmer
                  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t) - 2)) AS i
                        FROM d WHERE length(t) > 2))
            SELECT doc_id, kmer, count(*) AS cnt, count(*) / any_value(nk) AS freq
            FROM e GROUP BY doc_id, kmer
        """,
        "a6_ctd_distribution": f"""
            WITH d AS (
              SELECT doc_id,
                     translate({_NORM.format(c='text')}, '{_HYD_SRC}', '{_HYD_DST}') AS t
              FROM documents),
            e AS (SELECT doc_id, length(t) AS n, i, substr(t, i, 1) AS cls
                  FROM (SELECT doc_id, t, unnest(generate_series(1, length(t))) AS i
                        FROM d WHERE length(t) > 0)),
            r AS (SELECT doc_id, n, cls, i,
                         row_number() OVER (PARTITION BY doc_id, cls ORDER BY i) AS rn,
                         count(*) OVER (PARTITION BY doc_id, cls) AS m
                  FROM e)
            SELECT doc_id, cls,
                   (CAST(max(CASE WHEN rn = 1 THEN i END) AS DOUBLE)
                    / CAST(any_value(n) AS DOUBLE)) * 100.0 AS d001,
                   (CAST(max(CASE WHEN rn = greatest(1, floor(m * 1 / 4)) THEN i END) AS DOUBLE)
                    / CAST(any_value(n) AS DOUBLE)) * 100.0 AS d025,
                   (CAST(max(CASE WHEN rn = greatest(1, floor(m * 2 / 4)) THEN i END) AS DOUBLE)
                    / CAST(any_value(n) AS DOUBLE)) * 100.0 AS d050,
                   (CAST(max(CASE WHEN rn = greatest(1, floor(m * 3 / 4)) THEN i END) AS DOUBLE)
                    / CAST(any_value(n) AS DOUBLE)) * 100.0 AS d075,
                   (CAST(max(CASE WHEN rn = m THEN i END) AS DOUBLE)
                    / CAST(any_value(n) AS DOUBLE)) * 100.0 AS d100
            FROM r GROUP BY doc_id, cls
        """,
        "a8_scalar_features": f"""
            WITH d AS (SELECT doc_id, {_NORM.format(c='text')} AS s FROM documents),
            c AS (SELECT doc_id, length(s) AS n,
                         {' + '.join(
                             f"(length(s) - length(replace(s, '{L}', ''))) * ({_KD10[i]})"
                             for i, L in enumerate(ALPHABET) if _KD10[i] != 0)} AS s10,
                         length(s) - length(translate(s, '{_AROMATIC}', '')) AS arom,
                         length(s) - length(translate(s, '{_POSITIVE}', '')) AS pos,
                         length(s) - length(translate(s, '{_NEGATIVE}', '')) AS neg,
                         length(s) - length(translate(s, '{_POLAR}', '')) AS pol
                  FROM d WHERE length(s) > 0)
            SELECT doc_id,
                   CAST(s10 AS DOUBLE) / (CAST(10.0 AS DOUBLE) * n) AS gravy,
                   CAST(arom AS DOUBLE) / CAST(n AS DOUBLE) AS aromaticity,
                   CAST(pos - neg AS DOUBLE) / CAST(n AS DOUBLE) AS net_charge,
                   CAST(pol AS DOUBLE) / CAST(n AS DOUBLE) AS frac_polar
            FROM c
        """,
        "a12_pseaac_corr": f"""
            WITH d AS (SELECT doc_id, {_NORM.format(c='text')} AS s FROM documents),
            e AS (SELECT doc_id, length(s) AS n, i,
                         {_KD10_DUCK}[ascii(substr(s, i, 1)) - 64] AS v
                  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i
                        FROM d WHERE length(s) > 3)),
            l AS (SELECT doc_id, n, v,
                         lead(v, 1) OVER w AS v1,
                         lead(v, 2) OVER w AS v2,
                         lead(v, 3) OVER w AS v3
                  FROM e WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
            g AS (SELECT doc_id, any_value(n) AS n,
                         sum((v - v1) * (v - v1)) AS s1,
                         sum((v - v2) * (v - v2)) AS s2,
                         sum((v - v3) * (v - v3)) AS s3
                  FROM l GROUP BY doc_id)
            SELECT doc_id,
                   CAST(s1 AS DOUBLE) / (CAST(100.0 AS DOUBLE) * (n - 1)) AS pse_corr_1,
                   CAST(s2 AS DOUBLE) / (CAST(100.0 AS DOUBLE) * (n - 2)) AS pse_corr_2,
                   CAST(s3 AS DOUBLE) / (CAST(100.0 AS DOUBLE) * (n - 3)) AS pse_corr_3
            FROM g
        """,
        "w1_profile_summary": f"""
            WITH d AS (SELECT doc_id, {_NORM.format(c='text')} AS s FROM documents),
            e AS (SELECT doc_id, length(s) AS n, i,
                         {_KD10_DUCK}[ascii(substr(s, i, 1)) - 64] AS v
                  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i
                        FROM d WHERE length(s) >= 5)),
            p AS (SELECT doc_id, i,
                         sum(v) OVER (PARTITION BY doc_id ORDER BY i
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ws
                  FROM e QUALIFY i >= 5),
            g AS (SELECT doc_id, max(ws) AS mx, min(ws) AS mn,
                         sum(ws) AS sm, count(*) AS np
                  FROM p GROUP BY doc_id),
            r AS (SELECT doc_id, i,
                         row_number() OVER (PARTITION BY doc_id ORDER BY ws DESC, i ASC) AS rx,
                         row_number() OVER (PARTITION BY doc_id ORDER BY ws ASC, i ASC) AS rm
                  FROM p),
            am AS (SELECT doc_id,
                          max(CASE WHEN rx = 1 THEN i END) AS am_i,
                          max(CASE WHEN rm = 1 THEN i END) AS an_i
                   FROM r WHERE rx = 1 OR rm = 1 GROUP BY doc_id)
            SELECT g.doc_id,
                   CAST(mx AS DOUBLE) / CAST(50.0 AS DOUBLE) AS prof_max,
                   CAST(mn AS DOUBLE) / CAST(50.0 AS DOUBLE) AS prof_min,
                   CAST(sm AS DOUBLE) / (CAST(50.0 AS DOUBLE) * np) AS prof_mean,
                   CAST(am_i - 5 AS DOUBLE) / np AS argmax_rel,
                   CAST(an_i - 5 AS DOUBLE) / np AS argmin_rel
            FROM g JOIN am ON am.doc_id = g.doc_id
        """,
        "c8_bit_ops": f"""
            WITH d AS (SELECT doc_id,
                              {H.h32_sql_duckdb(_DUCK_NORM_TXT.format(c='text'))} AS h
                       FROM documents)
            SELECT doc_id, h,
                   CAST((h >> 28) & 15 AS INT) AS nib_hi,
                   CAST(h & 15 AS INT) AS nib_lo,
                   CAST(bit_count(h) AS INT) AS popcnt,
                   CAST(bit_count(xor(h, lag(h) OVER (ORDER BY doc_id))) AS INT)
                     AS hamming_prev
            FROM d
        """,
        "w7_sliding": """
            SELECT user_id,
                   time_bucket(INTERVAL '15 minutes', ts) - i * INTERVAL '15 minutes'
                     AS win_start,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sv
            FROM (SELECT user_id, ts, value, unnest(generate_series(0, 3)) AS i
                  FROM events)
            GROUP BY 1, 2
        """,
        "w4_bfill": """
            SELECT user_id, ts, event_id,
                   CASE WHEN event_type = 'purchase' THEN value END AS pv,
                   first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS pv_bfill
            FROM events
        """,
        "j3_asof_broadcast": _ASOF_ORACLE,
        "j3_asof_salted": _ASOF_ORACLE,
        # J3f forward as-of: first purchase outcome at-or-after ts inside
        # a one-day horizon, per user; arg_min picks the earliest match
        # (build side is (user, ts)-unique so the argmin row is unique);
        # unmatched / out-of-horizon spine rows keep a NULL label
        "j3f_label_forward": """
            WITH r AS (
              SELECT user_id, ts, max(event_id) AS y_id
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, ts),
            l AS (SELECT event_id, user_id, ts FROM events)
            SELECT l.event_id, l.user_id, l.ts,
                   arg_min(r.y_id, r.ts) AS y_id
            FROM l LEFT JOIN r
              ON r.user_id = l.user_id AND r.ts >= l.ts
             AND r.ts <= l.ts + INTERVAL '86400' SECOND
            GROUP BY l.event_id, l.user_id, l.ts
        """,
        "j3_asof_strict": """
            WITH purchases AS (
              SELECT user_id, ts, max(value) AS purch_val
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT e.user_id, e.ts, e.event_id, e.value, p.purch_val
            FROM events e
            ASOF LEFT JOIN purchases p
              ON e.user_id = p.user_id AND e.ts > p.ts
        """,
        "j3_asof_tolerance": """
            WITH purchases AS (
              SELECT user_id, ts, max(value) AS purch_val
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
            ),
            j AS (
              SELECT e.user_id, e.ts, e.event_id, e.value, p.purch_val, p.ts AS pts
              FROM events e
              ASOF LEFT JOIN purchases p
                ON e.user_id = p.user_id AND e.ts >= p.ts
            )
            SELECT user_id, ts, event_id, value,
                   CASE WHEN ts - pts <= INTERVAL '7200' SECOND THEN purch_val END
                     AS purch_val
            FROM j
        """,
        "a14_qso": f"""
            WITH d AS (SELECT doc_id, {_NORM.format(c='text')} AS s FROM documents),
            e AS (SELECT doc_id, i,
                         {_KD10_DUCK}[ascii(substr(s, i, 1)) - 64] AS v,
                         {_FLEX1000_DUCK}[ascii(substr(s, i, 1)) - 64] AS fv,
                         CAST({_GC100_DUCK}[ascii(substr(s, i, 1)) - 64] AS BIGINT) AS gc,
                         CAST({_GP10_DUCK}[ascii(substr(s, i, 1)) - 64] AS BIGINT) AS gp,
                         CAST({_GV10_DUCK}[ascii(substr(s, i, 1)) - 64] AS BIGINT) AS gv
                  FROM (SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i
                        FROM d WHERE length(s) > 3)),
            l AS (SELECT doc_id, v, fv, gc, gp, gv,
                         lead(v, 1) OVER w AS v1, lead(fv, 1) OVER w AS fv1,
                         lead(v, 2) OVER w AS v2, lead(fv, 2) OVER w AS fv2,
                         lead(v, 3) OVER w AS v3, lead(fv, 3) OVER w AS fv3,
                         lead(gc, 1) OVER w AS gc1, lead(gp, 1) OVER w AS gp1, lead(gv, 1) OVER w AS gv1,
                         lead(gc, 2) OVER w AS gc2, lead(gp, 2) OVER w AS gp2, lead(gv, 2) OVER w AS gv2,
                         lead(gc, 3) OVER w AS gc3, lead(gp, 3) OVER w AS gp3, lead(gv, 3) OVER w AS gv3
                  FROM e WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
            g AS (SELECT doc_id,
                         CAST(sum((v - v1) * (v - v1) + (fv - fv1) * (fv - fv1)) AS BIGINT) AS tau_1,
                         CAST(sum((v - v2) * (v - v2) + (fv - fv2) * (fv - fv2)) AS BIGINT) AS tau_2,
                         CAST(sum((v - v3) * (v - v3) + (fv - fv3) * (fv - fv3)) AS BIGINT) AS tau_3,
                         CAST(sum(18330 * (gc - gc1) * (gc - gc1) + 101800 * (gp - gp1) * (gp - gp1) + 399 * (gv - gv1) * (gv - gv1)) AS BIGINT) AS tau_g1,
                         CAST(sum(18330 * (gc - gc2) * (gc - gc2) + 101800 * (gp - gp2) * (gp - gp2) + 399 * (gv - gv2) * (gv - gv2)) AS BIGINT) AS tau_g2,
                         CAST(sum(18330 * (gc - gc3) * (gc - gc3) + 101800 * (gp - gp3) * (gp - gp3) + 399 * (gv - gv3) * (gv - gv3)) AS BIGINT) AS tau_g3
                  FROM l GROUP BY doc_id)
            SELECT doc_id, tau_1, tau_2, tau_3, tau_g1, tau_g2, tau_g3,
                   CAST(tau_1 AS DOUBLE) / CAST(1 + tau_1 + tau_2 + tau_3 AS DOUBLE) AS qso_1,
                   CAST(tau_2 AS DOUBLE) / CAST(1 + tau_1 + tau_2 + tau_3 AS DOUBLE) AS qso_2,
                   CAST(tau_3 AS DOUBLE) / CAST(1 + tau_1 + tau_2 + tau_3 AS DOUBLE) AS qso_3,
                   CAST(tau_g1 AS DOUBLE) / CAST(388678 + tau_g1 + tau_g2 + tau_g3 AS DOUBLE) AS qso_g1,
                   CAST(tau_g2 AS DOUBLE) / CAST(388678 + tau_g1 + tau_g2 + tau_g3 AS DOUBLE) AS qso_g2,
                   CAST(tau_g3 AS DOUBLE) / CAST(388678 + tau_g1 + tau_g2 + tau_g3 AS DOUBLE) AS qso_g3
            FROM g
        """,
        "d4_simhash_pairs": f"""
            WITH {_duck_shingle_cte(2, wide=True)},
            bits AS (SELECT id, j,
                            sum(CASE WHEN (((CASE WHEN j < 32 THEN h ELSE h2 END)
                                            >> (j % 32)) & 1) = 1
                                     THEN 1 ELSE -1 END) AS v
                     FROM (SELECT id, h, h2, unnest(generate_series(0, 63)) AS j FROM hs)
                     GROUP BY id, j),
            sh AS (SELECT id,
                          CAST(sum(CASE WHEN v > 0 THEN
                                     (CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                                           ELSE (CAST(1 AS BIGINT) << j) END)
                                   ELSE 0 END) AS BIGINT) AS simhash
                   FROM bits GROUP BY id)
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sh a JOIN sh b ON a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "j2_star_dims": """
            SELECT r_name, count(*) AS n_suppliers,
                   CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS total_bal
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "a9_part_stats": """
            SELECT p_brand, count(*) AS n_parts,
                   min(p_size) AS min_size, max(p_size) AS max_size,
                   CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS VARCHAR) AS total_price
            FROM part GROUP BY p_brand
        """,
        "a11_cube": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS total,
                   GROUPING(o_orderstatus) AS g_status,
                   GROUPING(o_orderpriority) AS g_prio
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "o4_set_ops": """
            WITH placed AS (SELECT o_custkey FROM orders),
            open_ AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
            diff AS (SELECT o_custkey FROM placed EXCEPT ALL SELECT o_custkey FROM open_)
            SELECT o_custkey, count(*) AS n FROM diff GROUP BY o_custkey
        """,
        "o5_global_topk": """
            SELECT o_orderkey, o_custkey,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 25
        """,
        "c5_date_scalars": """
            SELECT date_trunc('day', ts) AS day,
                   CAST(hour(ts) AS INT) AS hr,
                   CAST(dayofweek(ts) + 1 AS INT) AS dow,
                   count(*) AS n,
                   max(ts + INTERVAL '90' MINUTE) AS max_shift
            FROM events
            GROUP BY 1, 2, 3
        """,
        "c6_array_ops": f"""
            WITH q AS (
              SELECT vec_id,
                     list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * CAST(1000000.0 AS DOUBLE)
                                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS q
              FROM embeddings)
            SELECT vec_id,
                   CAST(len(q) AS INT) AS dim,
                   q[1] AS first_q,
                   q[-1] AS last_q,
                   CAST(list_sum(q[1:8]) AS BIGINT) AS head_sum,
                   CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_q
            FROM q
        """,
        "a13_autocorr": _duck_autocorr_sql(),
        "d5_embedding_dup_lsh": _duck_lsh_dup_sql(0.3),
        "n2_lsh_ann": _duck_lsh_ann_sql(20, 5),
        # historical key, same operator as n2_lsh_ann
        "n2_lsh_ann_distributed": _duck_lsh_ann_sql(20, 5),
        "n3_ivf_ann": _duck_ivf_ann_sql(16, 3, 20, 5),
        # historical key, same operator as n3_ivf_ann
        "n3_ivf_ann_distributed": _duck_ivf_ann_sql(16, 3, 20, 5),
        # stateful streaming as-of graded against DuckDB's native ASOF JOIN.
        # `value IS NOT NULL` matches the kernel's non-null-right contract:
        # a purchase row with a NULL value is probe-only (pv.notna()), so
        # the oracle's build side must exclude it too — otherwise DuckDB
        # could pick a (user_id, ts) group whose max(value) is NULL as the
        # latest match instead of falling back to the previous non-null one.
        "st_j3_stateful_asof_stream": """
            WITH purchases AS (
              SELECT user_id, ts, max(value) AS pv
              FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
              GROUP BY user_id, ts)
            SELECT e.event_id, e.user_id, e.value, p.pv AS pv_asof
            FROM events e
            ASOF LEFT JOIN purchases p
              ON e.user_id = p.user_id AND e.ts >= p.ts
        """,
        # Exact-gap semantics PINNED by experiment (Spark 4.1.2, batch and
        # multi-micro-batch streaming, tests/test_streaming.py::
        # test_session_window_exact_gap_merges): F.session_window MERGES
        # two events exactly gap seconds apart into one session — it
        # splits only on a STRICTLY greater gap. `>` here matches that
        # (and the batch sessionize convention); `>=` would silently
        # diverge on any dataset containing an exact-gap pair.
        "st_w5_session_stream": """
            WITH s AS (
              SELECT user_id, ts,
                     CAST(sum(CASE WHEN prev_ts IS NULL
                                   OR ts - prev_ts > INTERVAL '3600' SECOND
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS BIGINT) AS session_id
              FROM (SELECT user_id, ts, event_id,
                           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             AS prev_ts
                    FROM events))
            SELECT user_id, min(ts) AS session_start, count(*) AS n
            FROM s GROUP BY user_id, session_id
        """,
        "s4_feature_roundtrip": f"""
            WITH f AS ({_duck_quality_sql()})
            SELECT doc_id % 10 AS g, count(*) AS n,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   min(quality_score) AS min_q,
                   max(quality_score) AS max_q
            FROM f GROUP BY 1
        """,
        # C7 semantics projected to scalars: k2 = 2k is always even, so
        # n_even = 1 + (k even); null k -> both map entries' values null ->
        # map_filter drops them -> n_even = 0 (CASE WHEN null yields ELSE 0
        # on the oracle side too); n_all counts entries regardless of value
        "c7_map_ops": """
            WITH e AS (SELECT event_id, event_type,
                              CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
                       FROM events)
            SELECT event_id, k AS k_val, k * 2 AS k2_val,
                   CAST(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END
                        + CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS n_even,
                   CAST(3 AS INT) AS n_all,
                   'etype_len,k,k2' AS keys_sorted
            FROM e
        """,
        # streaming twin graded against the SAME SQL as batch w7_tumbling:
        # the availableNow replay must equal the batch result exactly
        "st_w7_tumbling_stream": """
            SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS win_start,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS sv
            FROM events GROUP BY 1, 2
        """,
        "s1_partition_pruned_scan": """
            WITH b AS (SELECT min(ts) AS lo FROM events)
            SELECT user_id, count(*) AS n,
                   CAST(min(event_id) AS BIGINT) AS min_eid,
                   CAST(max(event_id) AS BIGINT) AS max_eid
            FROM events e, b
            WHERE e.ts BETWEEN b.lo AND b.lo + INTERVAL 3 DAY
              AND e.user_id BETWEEN 0 AND 19
            GROUP BY user_id
        """,
        "s7_checkpoint_manifest": f"""
            WITH b AS (
              SELECT CAST({H.h32_sql_duckdb("CAST(event_id AS VARCHAR)")} % 8 AS INT)
                       AS bucket,
                     {H.h32_sql_duckdb(
                         "concat_ws('|', CAST(event_id AS VARCHAR), event_type,"
                         " CAST(user_id AS VARCHAR))")} AS rh
              FROM events)
            SELECT bucket, count(*) AS rows, CAST(sum(rh) AS BIGINT) AS checksum
            FROM b GROUP BY bucket
        """,
        # S8: the merged store equals "every event, value shifted iff in
        # the batch window" — partition-level rewrite mechanics cannot
        # change content
        "s8_upsert_merge": """
            SELECT event_id, user_id, ts,
                   CASE WHEN ts >= TIMESTAMP '2024-01-10'
                        THEN CAST(value AS DOUBLE) + 1000.0
                        ELSE CAST(value AS DOUBLE) END AS val
            FROM events
        """,
        # S9: compaction is content-invariant by construction
        "s9_compaction": """
            SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS val
            FROM events
        """,
        # S13/S14 snapshot lifecycle: tt = v1 pre-image (pre-Jan-20, raw
        # values); v4 = upserted [Jan-10,Jan-20) +1000 plus the appended
        # late rows (src='late', evolved column null elsewhere); rb = the
        # rollback to v2 (shifted table, no late rows, src all null)
        "s13_versioned_store": """
            WITH b AS (
              SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS val
              FROM events),
            tt AS (
              SELECT 'tt' AS part, event_id, user_id, ts, val,
                     CAST(NULL AS VARCHAR) AS src
              FROM b WHERE ts < TIMESTAMP '2024-01-20'),
            v4 AS (
              SELECT 'v4' AS part, event_id, user_id, ts,
                     CASE WHEN ts >= TIMESTAMP '2024-01-10'
                           AND ts < TIMESTAMP '2024-01-20'
                          THEN val + 1000.0 ELSE val END AS val,
                     CASE WHEN ts >= TIMESTAMP '2024-01-20'
                          THEN 'late' ELSE NULL END AS src
              FROM b),
            rb AS (
              SELECT 'rb' AS part, event_id, user_id, ts,
                     CASE WHEN ts >= TIMESTAMP '2024-01-10'
                          THEN val + 1000.0 ELSE val END AS val,
                     CAST(NULL AS VARCHAR) AS src
              FROM b WHERE ts < TIMESTAMP '2024-01-20')
            SELECT * FROM tt UNION ALL
            SELECT * FROM v4 UNION ALL
            SELECT * FROM rb
        """,
        # S13 streaming sink: exactly-once appends + a full crash-replay
        # must reproduce the raw table, byte for byte
        "st_s13_append_stream": """
            SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS val
            FROM events
        """,
        # S10: the incrementally-materialized store equals the
        # FULL-history recompute — trailing 3-day per-user exact-int
        # window aggregates (same frame as windowed_spine_agg:
        # (ts - 3d, ts], ties included; count/sum over self-joined rows)
        "s10_incremental_backfill": """
            WITH b AS (
              SELECT event_id, user_id, ts, CAST(value AS DOUBLE) AS val
              FROM events)
            SELECT e.event_id, e.user_id, e.ts, e.val,
                   CAST(count(f.event_id) AS BIGINT) AS w3_n,
                   CAST(sum(f.event_id) AS BIGINT) AS w3_sum
            FROM b e
            LEFT JOIN b f ON e.user_id = f.user_id
                         AND f.ts > e.ts - INTERVAL '259200' SECOND
                         AND f.ts <= e.ts
            GROUP BY e.event_id, e.user_id, e.ts, e.val
        """,
        # S11 snapshot diff: direct value comparison (IS DISTINCT FROM)
        # must coincide with the engine's fingerprint comparison
        "s11_snapshot_diff": """
            WITH l AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_id % 97 <> 0),
            r AS (
              SELECT event_id, user_id, ts,
                     CASE WHEN event_id % 89 = 0 THEN value + 1.0
                          ELSE value END AS value
              FROM events WHERE event_id % 101 <> 0),
            d AS (
              SELECT COALESCE(l.event_id, r.event_id) AS event_id,
                     CASE WHEN l.event_id IS NULL THEN 'added'
                          WHEN r.event_id IS NULL THEN 'removed'
                          WHEN (l.user_id IS DISTINCT FROM r.user_id)
                            OR (l.ts IS DISTINCT FROM r.ts)
                            OR (l.value IS DISTINCT FROM r.value)
                          THEN 'changed'
                          ELSE 'unchanged' END AS diff_status
              FROM l FULL JOIN r ON l.event_id = r.event_id)
            SELECT event_id, diff_status FROM d
            WHERE diff_status <> 'unchanged'
        """,
    }
