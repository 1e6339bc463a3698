"""As-of join: both physical plans — ``window`` (plain and salted on hot
keys) and ``broadcast`` — must agree with a pandas merge_asof oracle and
with each other, including under skew (SURVEY.md §5.2-6) and with zero
leakage (no right row after left ts is attached)."""

import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from profet_spark.operators import asof
from profet_spark.operators.asof import asof_join, detect_hot_keys

# "salted" is the window plan salted on the fixture's hot keys
PLANS = ["broadcast", "salted", "window"]


def _plan_kw(plan, hot_keys):
    if plan == "salted":
        return dict(strategy="window", hot_keys=hot_keys, salt=4)
    return dict(strategy=plan)


def _mk_fixture(seed=7, n_entities=40, hot_frac=0.3):
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2025-01-01", tz=None)
    rows_l, rows_r = [], []
    for e in range(n_entities):
        eid = f"e{e:04d}"
        # entity 0 is the hot key: ~30% of all rows
        n_l = 120 if e == 0 else rng.integers(1, 9)
        n_r = 120 if e == 0 else rng.integers(0, 9)
        for _ in range(int(n_l)):
            rows_l.append((eid, base + pd.Timedelta(seconds=int(rng.integers(0, 10_000_000))),
                           float(rng.normal())))
        for _ in range(int(n_r)):
            rows_r.append((eid, base + pd.Timedelta(seconds=int(rng.integers(0, 10_000_000))),
                           float(rng.normal())))
    lp = pd.DataFrame(rows_l, columns=["image_id", "ts", "x"])
    rp = pd.DataFrame(rows_r, columns=["image_id", "ts", "upd"])
    # exact-ts collision rows to exercise allow_exact_matches
    lp.loc[0, "ts"] = rp.loc[0, "ts"] = base
    lp.loc[0, "image_id"] = rp.loc[0, "image_id"] = "e0001"
    return lp, rp


def _oracle(lp, rp, allow_exact=True, tolerance_s=None):
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s else None
    out = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rp.sort_values("ts", kind="mergesort"),
        on="ts", by="image_id", direction="backward",
        allow_exact_matches=allow_exact, tolerance=tol,
    )
    return out.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


def _norm(pdf):
    return pdf.sort_values(["image_id", "ts", "x"]).reset_index(drop=True)


@pytest.fixture(scope="module")
def fixture_dfs(spark):
    lp, rp = _mk_fixture()
    return spark.createDataFrame(lp), spark.createDataFrame(rp), lp, rp


@pytest.mark.parametrize("strategy", PLANS)
def test_asof_matches_oracle(spark, fixture_dfs, strategy):
    ldf, rdf, lp, rp = fixture_dfs
    got = _norm(asof_join(ldf, rdf, **_plan_kw(strategy, ["e0000"])).toPandas())
    want = _oracle(lp, rp)
    assert len(got) == len(want) == len(lp)
    pd.testing.assert_series_equal(got["upd"], want["upd"], check_names=False)


def test_asof_strict_and_tolerance(spark, fixture_dfs):
    """Every plan reproduces merge_asof across the exact/strict x
    tolerance matrix."""
    ldf, rdf, lp, rp = fixture_dfs
    for plan in PLANS:
        for allow_exact in (True, False):
            for tol in (None, 3600.0, 50_000):
                got = _norm(asof_join(ldf, rdf, **_plan_kw(plan, ["e0000"]),
                                      allow_exact_matches=allow_exact,
                                      tolerance_s=tol).toPandas())
                want = _oracle(lp, rp, allow_exact=allow_exact, tolerance_s=tol)
                pd.testing.assert_frame_equal(
                    got, want, check_dtype=False,
                    obj=f"{plan} allow_exact={allow_exact} tol={tol}")


def test_asof_zero_leakage(spark, fixture_dfs):
    """Poison every right row strictly after each left ts: results must be
    unchanged when future rows are dropped entirely."""
    ldf, rdf, lp, rp = fixture_dfs
    t_cut = lp["ts"].quantile(0.5)
    l_cut = spark.createDataFrame(lp[lp.ts <= t_cut])
    r_cut = spark.createDataFrame(rp[rp.ts <= t_cut])
    for plan in PLANS:
        kw = _plan_kw(plan, ["e0000"])
        full = _norm(asof_join(ldf, rdf, **kw).toPandas())
        cut = _norm(asof_join(l_cut, r_cut, **kw).toPandas())
        full_cut = full[full.ts <= t_cut].reset_index(drop=True)
        pd.testing.assert_frame_equal(full_cut, cut, check_like=True, obj=plan)


def test_detect_hot_keys(spark, fixture_dfs):
    ldf, _, lp, _ = fixture_dfs
    hot = detect_hot_keys(ldf, "image_id", frac=0.1)
    assert hot == ["e0000"]


@pytest.mark.parametrize("allow_exact,tol", [(True, None), (False, 3600.0)])
def test_broadcast_matches_window_in_a_non_utc_session(spark, fixture_dfs, allow_exact, tol):
    """A TimestampType ts reaches the broadcast UDF in the session time
    zone, while the collected build side is UTC; the merge must not care,
    and a timestamp payload must come back as the same instant."""
    ldf, rdf = fixture_dfs[0], fixture_dfs[1].withColumn("rts", F.col("ts"))
    assert dict(ldf.dtypes)["ts"] == "timestamp"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        kw = dict(tolerance_s=tol, allow_exact_matches=allow_exact)
        a = asof_join(ldf, rdf, strategy="window", **kw).toPandas()
        b = asof_join(ldf, rdf, strategy="broadcast", **kw).toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    pd.testing.assert_frame_equal(_norm(a), _norm(b))


def test_asof_salted_equals_unsalted(spark, fixture_dfs):
    ldf, rdf, lp, rp = fixture_dfs
    a = _norm(asof_join(ldf, rdf, strategy="window").toPandas())
    b = _norm(asof_join(ldf, rdf, strategy="window", hot_keys=["e0000"], salt=4).toPandas())
    pd.testing.assert_frame_equal(a, b, check_like=True)


@pytest.mark.parametrize("allow_exact", [True, False])
@pytest.mark.parametrize("tol", [None, 3600.0])
def test_window_strategy_equals_sort_merge(spark, fixture_dfs, allow_exact, tol):
    """The pure-JVM window strategy must reproduce a sort-merge as-of (both
    sides sorted by ts, merged per entity: pandas merge_asof) exactly
    across the exact/strict x tolerance matrix."""
    ldf, rdf, lp, rp = fixture_dfs
    got = _norm(asof_join(ldf, rdf, strategy="window",
                          tolerance_s=tol, allow_exact_matches=allow_exact).toPandas())
    want = _oracle(lp, rp, allow_exact=allow_exact, tolerance_s=tol)
    pd.testing.assert_frame_equal(got, want)


def test_asof_rejects_deleted_strategies(spark, fixture_dfs):
    ldf, rdf, _, _ = fixture_dfs
    for strategy in ("sort_merge", "salted"):
        with pytest.raises(ValueError, match="unknown asof strategy"):
            asof_join(ldf, rdf, strategy=strategy, hot_keys=["e0000"])


def test_streaming_kernel_strict_equal_ts_across_batches(spark):
    """Regression: with allow_exact_matches=False, a left row must fall
    back to the latest right with a STRICTLY smaller ts — on every plan,
    with every row in its own Arrow batch."""
    import datetime
    t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame([("e", t(2), 1)], ["image_id", "ts", "k"])
    right = spark.createDataFrame(
        [("e", t(1), 10.0), ("e", t(2), 20.0)], ["image_id", "ts", "v"])
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "1")  # every row its own batch
    try:
        for plan in PLANS:
            got = asof_join(left, right, **_plan_kw(plan, ["e"]),
                            allow_exact_matches=False).toPandas()
            assert got.v.tolist() == [10.0], plan
    finally:
        spark.conf.set(key, prev)


def test_streaming_kernel_null_entity_across_batches(spark):
    """Regression: a null entity key is a group of its own, as in
    merge_asof (pandas groupby drops NaN groups by default) — on every
    plan, with one or many Arrow batches."""
    import datetime
    t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame([(None, t(2), 1), ("e", t(3), 2)],
                                 "image_id string, ts timestamp, k int")
    right = spark.createDataFrame([(None, t(1), 10.0), ("e", t(1), 30.0)],
                                  "image_id string, ts timestamp, v double")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)

    def run(plan):
        return (asof_join(left, right, **_plan_kw(plan, ["e"])).toPandas()
                .sort_values("k").v.tolist())

    for plan in PLANS:
        single = run(plan)
        spark.conf.set(key, "1")
        try:
            multi = run(plan)
        finally:
            spark.conf.set(key, prev)
        assert multi == single == [10.0, 30.0], plan


def test_asof_auto_strategy_selection(spark, sf_dir):
    """auto must (a) pick the broadcast path for a provably small build
    side — observable as a shuffle-free plan (left is never exchanged,
    the build side is collected at plan-build time) — and (b) produce the
    same rows as the window strategy either way."""
    from profet_spark import plans
    from profet_spark.sources import load_table
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    right = (ev.groupBy("user_id")
             .agg(F.min("ts").alias("ts"))
             .withColumn("rv", F.lit(1.0)))
    auto = asof_join(ev, right, entity="user_id", ts="ts", strategy="auto")
    assert plans.is_shuffle_free(auto)
    want = (asof_join(ev, right, entity="user_id", ts="ts", strategy="window")
            .toPandas().sort_values("event_id").reset_index(drop=True))
    got = auto.toPandas().sort_values("event_id").reset_index(drop=True)
    assert got["rv"].fillna(-1).tolist() == want["rv"].fillna(-1).tolist()


def test_asof_auto_reads_parquet_footers_not_a_probe_job(spark, fixture_dfs, tmp_path,
                                                          jobs_during):
    """With a parquet-backed right side, auto sizes the build side from
    footer row counts: no probe job runs while the plan is built. Past the
    threshold it picks the pure-JVM window plan (no job at all); at it,
    broadcast (only the build side's collect)."""
    from profet_spark import plans
    ldf, rdf, lp, rp = fixture_dfs
    path = str(tmp_path / "right")
    rdf.repartition(3).write.parquet(path)
    right = spark.read.parquet(path)
    want = _oracle(lp, rp)

    merged, jobs = jobs_during(lambda: asof_join(
        ldf, right, strategy="auto", broadcast_threshold=len(rp) - 1))
    assert not jobs
    assert plans.has_node(merged, "Window") and plans.is_python_free(merged)
    got = _norm(merged.toPandas())
    pd.testing.assert_series_equal(got["upd"], want["upd"], check_names=False)

    merged, jobs = jobs_during(lambda: asof_join(
        ldf, right, strategy="auto", broadcast_threshold=len(rp)))
    assert len(jobs) == 1 and plans.is_shuffle_free(merged)
    got = _norm(merged.toPandas())
    pd.testing.assert_series_equal(got["upd"], want["upd"], check_names=False)


def test_asof_auto_upgrades_to_salted_on_hot_keys(spark, sf_dir):
    """auto + hot_keys (and a large-ish build side) must take the salted
    window plan: its one Exchange hashes on the salt too, and no row
    crosses into Python."""
    from profet_spark import plans
    from profet_spark.sources import load_table
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value")
    right = ev.groupBy("user_id", "ts").agg(F.max("value").alias("rv"))
    out = asof_join(ev, right, entity="user_id", ts="ts", strategy="auto",
                         hot_keys=[1, 2], broadcast_threshold=10)
    plan = plans.formatted_plan(out)
    assert re.search(r"Arguments: hashpartitioning\([^)]*__asof_salt", plan), plan
    assert plans.has_node(out, "Window") and plans.is_python_free(out)
    want = (asof_join(ev, right, entity="user_id", ts="ts", strategy="window")
            .toPandas().sort_values("event_id").reset_index(drop=True))
    got = out.toPandas().sort_values("event_id").reset_index(drop=True)
    assert got["rv"].fillna(-1).tolist() == want["rv"].fillna(-1).tolist()


def test_detect_hot_keys_with_table_stats(spark, fixture_dfs):
    """Passing total_rows (from table statistics) must skip the count and
    return the same keys — the no-second-scan path (VERDICT r2 #5)."""
    ldf, _, lp, _ = fixture_dfs
    hot = detect_hot_keys(ldf, "image_id", frac=0.1, total_rows=len(lp))
    assert hot == ["e0000"]


def test_asof_null_ts_raises_in_every_strategy(spark, fixture_dfs):
    """NULL ts = undefined point-in-time semantics: one loud uniform
    contract (merge_asof used to raise an opaque executor ValueError
    while the window strategy silently carried values across)."""
    ldf, rdf, lp, rp = fixture_dfs
    lnull = ldf.withColumn(
        "ts", F.when(F.col("x") == lp.x.iloc[0], None).otherwise(F.col("ts")))
    for strategy in ["broadcast", "window"]:
        with pytest.raises(Exception, match="NULL ts"):
            asof_join(lnull, rdf, strategy=strategy,
                      hot_keys=["e0001"]).count()
    rnull = rdf.withColumn(
        "ts", F.when(F.col("upd") == rp.upd.iloc[0], None).otherwise(F.col("ts")))
    with pytest.raises(Exception, match="NULL ts"):
        asof_join(ldf, rnull, strategy="window").count()


def test_asof_output_name_collision_raises(spark, fixture_dfs):
    """left(x, x_r) x right(x): the suffixed name collides with a left
    column — must raise clearly, not fail inside Arrow conversion."""
    ldf, rdf, _, _ = fixture_dfs
    left2 = ldf.withColumn("upd", F.lit(1.0)).withColumn("upd_r", F.lit(2.0))
    with pytest.raises(ValueError, match="collides"):
        asof_join(left2, rdf, strategy="window")


# ---------------------------------------------------------- composite keys


def _mk_composite_fixture(seed=23, n_entities=12):
    """Two-column entity key (image_id, cam): per-(id, cam) histories that
    would cross-contaminate if any strategy merged on image_id alone."""
    rng = np.random.default_rng(seed)
    base = pd.Timestamp("2025-01-01")
    rows_l, rows_r = [], []
    for e in range(n_entities):
        for cam in ("a", "b"):
            eid = f"e{e:03d}"
            for _ in range(int(rng.integers(2, 10))):
                rows_l.append((eid, cam, base + pd.Timedelta(
                    seconds=int(rng.integers(0, 1_000_000))), float(rng.normal())))
            for _ in range(int(rng.integers(0, 7))):
                rows_r.append((eid, cam, base + pd.Timedelta(
                    seconds=int(rng.integers(0, 1_000_000))), float(rng.normal())))
    lp = pd.DataFrame(rows_l, columns=["image_id", "cam", "ts", "x"])
    rp = pd.DataFrame(rows_r, columns=["image_id", "cam", "ts", "upd"]
                      ).drop_duplicates(["image_id", "cam", "ts"])
    # planted divergence: same image_id+ts exists under BOTH cams with
    # different upd values — a single-key merge would pick the wrong one
    lp.loc[0, ["image_id", "cam", "ts"]] = ["e000", "a", base]
    return lp, rp.reset_index(drop=True)


@pytest.mark.parametrize("strategy", PLANS)
def test_asof_composite_key_matches_oracle(spark, strategy):
    lp, rp = _mk_composite_fixture()
    ldf, rdf = spark.createDataFrame(lp), spark.createDataFrame(rp)
    kw = _plan_kw(strategy, [("e000", "a"), ("e001", "b")])
    out = asof_join(ldf, rdf, entity=["image_id", "cam"], ts="ts", **kw).toPandas()
    want = pd.merge_asof(
        lp.sort_values("ts", kind="mergesort"),
        rp.sort_values("ts", kind="mergesort"),
        on="ts", by=["image_id", "cam"], direction="backward",
    )
    key = ["image_id", "cam", "ts", "x"]
    out = out.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, want, check_dtype=False)


def test_detect_hot_keys_composite_returns_tuples(spark):
    lp, _ = _mk_composite_fixture()
    hot_half = pd.concat([lp, pd.DataFrame(
        [("e000", "a", pd.Timestamp("2025-01-02"), 0.0)] * len(lp),
        columns=lp.columns)], ignore_index=True)
    hot = detect_hot_keys(spark.createDataFrame(hot_half),
                          ["image_id", "cam"], frac=0.25)
    assert hot == [("e000", "a")]


class TestIntervalJoin:
    """Binned point-in-interval join (J4 scale path, no equi key)."""

    def _fixture(self, spark):
        pts = spark.createDataFrame(
            [(i, f"2024-01-01 {h:02d}:30:00")
             for i, h in enumerate([0, 1, 3, 5, 8, 23])],
            "pid int, ts_s string").selectExpr(
                "pid", "CAST(ts_s AS TIMESTAMP) AS ts")
        iv = spark.createDataFrame(
            [(100, "2024-01-01 00:00:00", "2024-01-01 02:00:00"),
             (200, "2024-01-01 01:30:00", "2024-01-01 06:00:00"),
             (300, "2024-01-01 22:00:00", None),        # open-ended
             (400, "2024-01-01 05:30:00", "2024-01-01 05:30:00")],  # empty
            "iid int, s_s string, e_s string").selectExpr(
                "iid", "CAST(s_s AS TIMESTAMP) AS start_ts",
                "CAST(e_s AS TIMESTAMP) AS end_ts")
        return pts, iv

    def _oracle(self, pts, iv):
        from pyspark.sql import functions as F
        return (pts.crossJoin(iv)
                .where((F.col("ts") >= F.col("start_ts"))
                       & (F.col("end_ts").isNull()
                          | (F.col("ts") < F.col("end_ts"))))
                .select("pid", "iid"))

    def test_matches_theta_oracle_no_keys(self, spark):
        pts, iv = self._fixture(spark)
        got = (asof.interval_join(pts, iv, "ts", "start_ts", "end_ts",
                                  bin_seconds=3600)
               .select("pid", "iid"))
        want = self._oracle(pts, iv)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))
        # bin size must not change results
        got2 = (asof.interval_join(pts, iv, "ts", "start_ts", "end_ts",
                                   bin_seconds=613)
                .select("pid", "iid"))
        assert sorted(map(tuple, got2.collect())) == \
            sorted(map(tuple, want.collect()))

    def test_left_keeps_unmatched_and_cell_only_matches(self, spark):
        from pyspark.sql import functions as F
        pts, iv = self._fixture(spark)
        out = asof.interval_join(pts, iv, "ts", "start_ts", "end_ts",
                                 bin_seconds=3600, how="left")
        # pid=3 (05:30) is in interval 200's span; pid=2 (03:30) also 200;
        # pid=4 (08:30) matches nothing but shares NO cell; the empty
        # interval 400 shares pid=3's cell yet matches nothing — pid=3
        # must still match 200 only, and fully unmatched points survive
        rows = {(r.pid, r.iid) for r in out.select("pid", "iid").collect()}
        assert (4, None) in rows
        assert {(p, i) for p, i in rows if i is not None} == \
            {tuple(r) for r in self._oracle(pts, iv).collect()}
        assert out.where(F.col("pid").isNull()).count() == 0

    def test_plan_has_no_nested_loop(self, spark):
        pts, iv = self._fixture(spark)
        binned = asof.interval_join(pts, iv, "ts", "start_ts", "end_ts")
        plan = binned._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        # the naive theta join over the same inputs DOES nest — the
        # degenerate shape this operator exists to avoid
        naive = pts.join(iv, (pts.ts >= iv.start_ts)
                         & (iv.end_ts.isNull() | (pts.ts < iv.end_ts)))
        nplan = naive._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in nplan or "Cartesian" in nplan

    def test_keyed_variant_and_column_collision_guard(self, spark):
        from pyspark.sql import functions as F
        pts, iv = self._fixture(spark)
        ptsk = pts.withColumn("k", F.pmod(F.col("pid"), F.lit(2)))
        ivk = iv.withColumn("k", F.pmod(F.col("iid") / 100, F.lit(2)).cast("int"))
        got = (asof.interval_join(ptsk, ivk, "ts", "start_ts", "end_ts",
                                  keys=["k"], bin_seconds=3600)
               .select("pid", "iid"))
        want = (ptsk.alias("p").join(
            ivk.alias("i"),
            (F.col("p.k") == F.col("i.k"))
            & (F.col("p.ts") >= F.col("i.start_ts"))
            & (F.col("i.end_ts").isNull()
               | (F.col("p.ts") < F.col("i.end_ts"))))
            .select("pid", "iid"))
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))
        with pytest.raises(ValueError, match="ambiguous"):
            asof.interval_join(ptsk.withColumn("iid", F.lit(1)), ivk,
                               "ts", "start_ts", "end_ts", keys=["k"])
