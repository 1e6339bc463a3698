"""Streaming/batch parity (SURVEY.md §2.9): each streaming twin must produce
exactly the batch operator's result when replayed over the same rows."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from profet_spark import streaming as st
from profet_spark.operators import temporal
from profet_spark.sources import load_table


@pytest.fixture(scope="module")
def ev_dir(spark, sf_dir, tmp_path_factory):
    """events sf0.001 re-written to a local dir as the stream source."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    shutil.rmtree(out, ignore_errors=True)
    load_table(spark, sf_dir, "events").coalesce(2).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def ev_schema(spark, sf_dir):
    return load_table(spark, sf_dir, "events").schema


def _pdf(df):
    return df.toPandas().sort_values(df.columns).reset_index(drop=True)


def test_stream_tumbling_equals_batch(spark, sf_dir, ev_dir, ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    st.run_available_now(st.tumbling_counts(stream, "1 hour"), "t_tumbling")
    got = spark.table("t_tumbling")
    ev = load_table(spark, sf_dir, "events")
    want = temporal.tumbling_window(
        ev, "1 hour",
        [F.count("*").alias("n"),
         F.sum(F.col("value").cast("decimal(18,2)")).alias("sv")],
        entity="user_id", ts="ts",
    ).select("user_id", "win_start", "n", "sv")
    assert _pdf(got).equals(_pdf(want.select(*got.columns)))


def test_stream_session_equals_batch(spark, sf_dir, ev_dir, ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    st.run_available_now(st.session_agg(stream, 3600), "t_sessions")
    got = spark.table("t_sessions")
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sess = temporal.sessionize(ev, gap_seconds=3600, entity="user_id", ts="ts",
                               tiebreak=["event_id"])
    want = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"), F.count("*").alias("n")
    ).select("user_id", "session_start", "n")
    assert _pdf(got).equals(_pdf(want.select(*got.columns)))


def test_stream_dedup_within_watermark(spark, ev_dir, ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    deduped = st.dedup_within_watermark(stream.select("event_id", "ts"), ["event_id"])
    st.run_available_now(deduped, "t_dedup", output_mode="append")
    n_distinct = spark.read.parquet(ev_dir).select("event_id").distinct().count()
    assert spark.table("t_dedup").count() == n_distinct


def test_stream_sliding_counts(spark, sf_dir, ev_dir, ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    st.run_available_now(st.sliding_counts(stream, "2 hours", "1 hour"), "t_sliding")
    got = spark.table("t_sliding")
    # every event lands in exactly 2 overlapping windows
    total_events = spark.read.parquet(ev_dir).count()
    assert got.agg(F.sum("n")).collect()[0][0] == 2 * total_events


def _batch_asof_want(spark, sf_dir):
    from profet_spark.operators import asof
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id", "ts").agg(F.max("value").alias("pv")))
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts",
                         strategy="window")
    return out.select("event_id", "user_id", "value", F.col("pv").alias("pv_asof"))


def test_stateful_asof_equals_batch_single_batch(spark, sf_dir, ev_dir, ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    tagged = stream.withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value")))
    st.run_available_now(st.stateful_asof_attach(tagged), "t_asof1",
                         output_mode="append")
    got = spark.table("t_asof1").select("event_id", "user_id", "value", "pv_asof")
    assert _pdf(got).equals(_pdf(_batch_asof_want(spark, sf_dir)))


def test_stateful_asof_equals_batch_multi_batch(spark, sf_dir, ev_schema,
                                                tmp_path_factory):
    """State must carry the as-of value across micro-batches: replay the
    same events split into two time-ordered files, one file per trigger."""
    out = str(tmp_path_factory.mktemp("events_2batch"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(out)
    import time as _t
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    ev.where(us > med).coalesce(1).write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    tagged = stream.withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value")))
    st.run_available_now(st.stateful_asof_attach(tagged), "t_asof2",
                         output_mode="append")
    got = spark.table("t_asof2").select("event_id", "user_id", "value", "pv_asof")
    assert _pdf(got).equals(_pdf(_batch_asof_want(spark, sf_dir)))


def test_stateful_asof_equal_ts_straddles_batch_boundary(spark, tmp_path_factory):
    """Two build rows with the SAME (entity, ts) split across micro-batches
    must max-merge (the batch twin's groupBy(entity, ts).max spans
    batches): a smaller equal-ts twin arriving in a later batch must not
    overwrite the stored larger value."""
    import time as _t

    import pandas as pd

    out = str(tmp_path_factory.mktemp("events_straddle"))
    T = pd.Timestamp("2024-01-01 00:00:00")
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    b1 = pd.DataFrame([(1, 10, T, "purchase", 5.0),
                       (2, 10, T, "view", None)], columns=cols)
    b2 = pd.DataFrame([(3, 10, T, "purchase", 3.0),
                       (4, 10, T + pd.Timedelta(seconds=1), "view", None)],
                      columns=cols)
    spark.createDataFrame(b1).coalesce(1).write.mode("overwrite").parquet(out)
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(out)
    schema = spark.read.parquet(out).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    tagged = stream.withColumn(
        "pv", F.when(F.col("event_type") == "purchase", F.col("value")))
    st.run_available_now(st.stateful_asof_attach(tagged), "t_asof_straddle",
                         output_mode="append")
    got = (spark.table("t_asof_straddle")
           .select("event_id", "pv_asof").toPandas()
           .set_index("event_id").pv_asof.to_dict())
    # batch semantics: build value at T = max(5, 3) = 5 for every probe
    assert got == {1: 5.0, 2: 5.0, 3: 5.0, 4: 5.0}


def test_late_data_dropped_by_watermark(spark, sf_dir, ev_schema, tmp_path_factory):
    """§2.9 late-data contract: rows behind the watermark are excluded
    from stateful aggregation — the streaming stand-in for the batch
    zero-leakage rule. Spark's two-watermark design (late-event filtering
    uses the PREVIOUS batch's committed watermark, state eviction the
    current one) means a row only counts as late once the watermark of
    two batches ago has passed it — hence three micro-batches here, with
    the late rows far behind every watermark."""
    import time as _t

    import pandas as pd
    out = str(tmp_path_factory.mktemp("events_late"))
    ev = load_table(spark, sf_dir, "events")
    base = ev.limit(200).toPandas().sort_values("ts").reset_index(drop=True)
    lo = base["ts"].min()
    late = base.iloc[:5].copy()
    late["ts"] = lo - pd.Timedelta(days=30)
    late["event_id"] = late["event_id"] + 10_000_000
    spark.createDataFrame(base.iloc[:100], schema=ev.schema).coalesce(1) \
        .write.mode("overwrite").parquet(out)
    _t.sleep(1.1)
    spark.createDataFrame(base.iloc[100:], schema=ev.schema).coalesce(1) \
        .write.mode("append").parquet(out)
    _t.sleep(1.1)
    spark.createDataFrame(late, schema=ev.schema).coalesce(1) \
        .write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    agg = st.tumbling_counts(stream, "1 hour")
    q = (agg.writeStream.format("memory").queryName("t_late")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    progress = {p["batchId"]: p for p in q.recentProgress}
    assert len(progress) == 3, "expected one micro-batch per file"
    last = progress[max(progress)]
    dropped = last["stateOperators"][0]["numRowsDroppedByWatermark"]
    assert dropped > 0, "late rows must be dropped at the state operator"
    # and no late window leaked into the output (late windows floor to
    # hours 30 days before the base data; base windows floor to >= lo-1h)
    late_hi = late["ts"].max().floor("h")
    n_late_windows = (spark.table("t_late")
                      .where(F.col("win_start") <= F.lit(late_hi).cast("timestamp_ntz"))
                      .count())
    assert n_late_windows == 0


def test_stateful_asof_restart_from_checkpoint(spark, sf_dir, ev_schema,
                                               tmp_path_factory):
    """Kill/resume contract for the custom stateful operator (VERDICT r2
    #6): run the stateful as-of over file 1, let the query TERMINATE (the
    'kill' between micro-batches), append file 2, then start a brand-new
    query from the same checkpointLocation. The restart must (a) resume
    offsets — file 1 is not reprocessed, no duplicate rows — and (b)
    restore per-entity state from the state store, so file-2 rows still
    see file-1 purchase values. Union of both runs == the batch as-of."""
    import time as _t

    base = tmp_path_factory.mktemp("asof_restart")
    src, sink, ck = (str(base / d) for d in ("src", "sink", "ck"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]

    def run_once():
        stream = (spark.readStream.schema(ev_schema)
                  .option("maxFilesPerTrigger", 1).parquet(src)
                  .withColumn("ts", F.col("ts").cast("timestamp"))
                  .withWatermark("ts", "1 hour"))
        tagged = stream.withColumn(
            "pv", F.when(F.col("event_type") == "purchase", F.col("value")))
        q = (st.stateful_asof_attach(tagged)
             .writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()

    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(src)
    run_once()                      # first process: drains file 1, exits
    n_first = spark.read.parquet(sink).count()
    _t.sleep(1.1)                   # file source orders by mtime
    ev.where(us > med).coalesce(1).write.mode("append").parquet(src)
    run_once()                      # new process: resumes from checkpoint

    got = (spark.read.parquet(sink)
           .select("event_id", "user_id", "value", "pv_asof"))
    want = _batch_asof_want(spark, sf_dir)
    assert n_first < got.count() == want.count(), "no dup / no reprocess"
    assert _pdf(got).equals(_pdf(want))


def test_session_window_exact_gap_merges(spark, tmp_path_factory):
    """Pin the exact-gap rule the st_w5 oracle depends on: two events
    exactly gap seconds apart belong to ONE session (F.session_window
    splits only on a STRICTLY greater gap) — measured on Spark 4.1.2;
    ADVICE r2's 'exclusive end' reading is refuted by this test."""
    import pandas as pd

    out = str(tmp_path_factory.mktemp("exact_gap"))
    base = pd.Timestamp("2025-01-01 00:00:00")
    pdf = pd.DataFrame({
        "user_id": [1, 1, 1],
        "ts": [base, base + pd.Timedelta(seconds=3600),         # exact gap
               base + pd.Timedelta(seconds=3600 + 3601)],        # > gap
        "event_id": [1, 2, 3],
    })
    df = spark.createDataFrame(pdf)
    df.coalesce(1).write.mode("overwrite").parquet(out)
    stream = (spark.readStream.schema(df.schema).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    st.run_available_now(st.session_agg(stream, 3600), "t_exact_gap")
    got = (spark.table("t_exact_gap").toPandas()
           .sort_values("session_start").reset_index(drop=True))
    # one session of 2 (events 0+3600s merge), one session of 1
    assert got.n.tolist() == [2, 1]


def test_stream_corpus_split_sample_equal_batch(spark, sf_dir, tmp_path_factory):
    """P1/P2 are stateless projections, so they stream unchanged: running
    hash_split + stratified_sample on a readStream replays exactly the
    batch assignment (same salted-hash labels, same kept rows)."""
    from profet_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path_factory.mktemp("docs_stream"))
    docs.coalesce(2).write.mode("overwrite").parquet(out)
    stream = spark.readStream.schema(docs.schema).parquet(out)
    weights = {"train": 0.8, "val": 0.2}
    streamed = corpus.stratified_sample(
        corpus.hash_split(stream, weights), 0.5).select(
        "doc_id", "split_bucket", "split")
    st.run_available_now(streamed, "t_corpus_split", output_mode="append")
    got = spark.table("t_corpus_split")
    want = corpus.stratified_sample(
        corpus.hash_split(docs, weights), 0.5).select(
        "doc_id", "split_bucket", "split")
    assert _pdf(got).equals(_pdf(want))


def _batch_matrix_want(spark, sf_dir):
    from profet_spark.operators import feature_matrix as fm
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    purch = (ev.where(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts").agg(F.max("value").alias("pv")))
    clicks = (ev.where(F.col("event_type") == "click")
              .groupBy("user_id", "ts").agg(F.max("value").alias("cv")))
    out = fm.point_in_time_matrix(ev, {"p": purch, "c": clicks},
                                  entity="user_id", ts="ts")
    return out.select("event_id", "user_id", "value",
                      F.col("pv").alias("pv_asof"),
                      F.col("cv").alias("cv_asof"))


def _tag_matrix(stream):
    return (stream
            .withColumn("pv", F.when(F.col("event_type") == "purchase",
                                     F.col("value")))
            .withColumn("cv", F.when(F.col("event_type") == "click",
                                     F.col("value"))))


def test_stateful_matrix_equals_batch_single_batch(spark, sf_dir, ev_dir,
                                                   ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    st.run_available_now(
        st.stateful_matrix_attach(_tag_matrix(stream),
                                  right_cols=["pv", "cv"]),
        "t_fm1", output_mode="append")
    got = spark.table("t_fm1").select(
        "event_id", "user_id", "value", "pv_asof", "cv_asof")
    assert _pdf(got).equals(_pdf(_batch_matrix_want(spark, sf_dir)))


def test_stateful_matrix_equals_batch_multi_batch(spark, sf_dir, ev_schema,
                                                  tmp_path_factory):
    """Per-column state must carry independently across micro-batches:
    replay the same events split into two time-ordered files."""
    out = str(tmp_path_factory.mktemp("events_fm_2batch"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(out)
    import time as _t
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    ev.where(us > med).coalesce(1).write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    st.run_available_now(
        st.stateful_matrix_attach(_tag_matrix(stream),
                                  right_cols=["pv", "cv"]),
        "t_fm2", output_mode="append")
    got = spark.table("t_fm2").select(
        "event_id", "user_id", "value", "pv_asof", "cv_asof")
    assert _pdf(got).equals(_pdf(_batch_matrix_want(spark, sf_dir)))


def test_stateful_matrix_equal_ts_across_tables_and_batches(spark,
                                                            tmp_path_factory):
    """A build row for table A and a probe-at-equal-ts row of table B must
    see each other regardless of intra-batch row order (merge_asof
    attachment, not a single global ffill); equal-ts straddles max-merge
    per column independently."""
    import time as _t

    import pandas as pd

    out = str(tmp_path_factory.mktemp("events_fm_straddle"))
    T = pd.Timestamp("2024-01-01 00:00:00")
    cols = ["event_id", "user_id", "ts", "pv", "cv"]
    b1 = pd.DataFrame([(1, 10, T, 5.0, None),       # pv build at T
                       (2, 10, T, None, 7.0)],      # cv build at T (also pv probe)
                      columns=cols)
    b2 = pd.DataFrame([(3, 10, T, 3.0, None),       # smaller pv twin at T
                       (4, 10, T + pd.Timedelta(seconds=1), None, None)],
                      columns=cols)
    # explicit schema: an all-null column would otherwise infer as void
    ddl = ("event_id bigint, user_id bigint, ts timestamp, "
           "pv double, cv double")
    spark.createDataFrame(b1, ddl).coalesce(1).write.mode("overwrite").parquet(out)
    _t.sleep(1.1)
    spark.createDataFrame(b2, ddl).coalesce(1).write.mode("append").parquet(out)
    schema = spark.read.parquet(out).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    st.run_available_now(
        st.stateful_matrix_attach(stream, right_cols=["pv", "cv"]),
        "t_fm_straddle", output_mode="append")
    got = (spark.table("t_fm_straddle")
           .select("event_id", "pv_asof", "cv_asof").toPandas()
           .set_index("event_id").sort_index())
    # pv at T = max(5, 3) = 5 for every row; cv at T = 7 for every row
    assert got["pv_asof"].tolist() == [5.0, 5.0, 5.0, 5.0]
    assert got["cv_asof"].tolist() == [7.0, 7.0, 7.0, 7.0]


def _ph_col():
    from profet_spark.functions import hashing as H
    return (H.h32("props") - F.lit(2 ** 31)) * F.lit(2 ** 32) + H.h32_hi("props")


def _batch_drift_want(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", _ph_col().alias("ph"))
    out = temporal.hamming_drift(ev, "ph", entity="user_id", mean_window=4)
    return out.select("event_id", "user_id", "ph", "ph_drift",
                      "ph_drift_mean4", "ph_drift_cum")


def test_stateful_drift_equals_batch_single_batch(spark, sf_dir, ev_dir,
                                                  ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema).withColumn(
        "ph", _ph_col())
    st.run_available_now(st.stateful_drift_profile(stream, "ph"), "t_drift1",
                         output_mode="append")
    got = spark.table("t_drift1").select(
        "event_id", "user_id", "ph", "ph_drift", "ph_drift_mean4",
        "ph_drift_cum")
    assert _pdf(got).equals(_pdf(_batch_drift_want(spark, sf_dir)))


def test_stateful_drift_equals_batch_multi_batch(spark, sf_dir, ev_schema,
                                                 tmp_path_factory):
    """last_bits, cum, AND the recent-drift history must carry across
    micro-batches: a median-time split puts the 4-row sliding-mean window
    astride the trigger boundary for most entities."""
    import time as _t

    out = str(tmp_path_factory.mktemp("events_drift_2b"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(out)
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    ev.where(us > med).coalesce(1).write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour")
              .withColumn("ph", _ph_col()))
    st.run_available_now(st.stateful_drift_profile(stream, "ph"), "t_drift2",
                         output_mode="append")
    got = spark.table("t_drift2").select(
        "event_id", "user_id", "ph", "ph_drift", "ph_drift_mean4",
        "ph_drift_cum")
    assert _pdf(got).equals(_pdf(_batch_drift_want(spark, sf_dir)))


def _batch_decay_want(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    out = temporal.decayed_stats(ev, "value", n=6, decay=0.6,
                                 entity="user_id")
    return out.select("event_id", "user_id", "value_dsum6", "value_dwt6",
                      "value_dmean6")


def test_stateful_decayed_equals_batch_single_batch(spark, sf_dir, ev_dir,
                                                    ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    st.run_available_now(
        st.stateful_decayed_stats(stream, "value", n=6, decay=0.6),
        "t_decay1", output_mode="append")
    got = spark.table("t_decay1").select(
        "event_id", "user_id", "value_dsum6", "value_dwt6", "value_dmean6")
    assert _pdf(got).equals(_pdf(_batch_decay_want(spark, sf_dir)))


def test_stateful_decayed_equals_batch_multi_batch(spark, sf_dir, ev_schema,
                                                   tmp_path_factory):
    """The (n-1)-value history must carry across micro-batches: a
    median-time split puts the 6-term decay window astride the trigger
    boundary for most entities — bitwise equality is the left-fold +
    shared-weight-literal contract, not a tolerance."""
    import time as _t

    out = str(tmp_path_factory.mktemp("events_decay_2b"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(out)
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    ev.where(us > med).coalesce(1).write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    st.run_available_now(
        st.stateful_decayed_stats(stream, "value", n=6, decay=0.6),
        "t_decay2", output_mode="append")
    got = spark.table("t_decay2").select(
        "event_id", "user_id", "value_dsum6", "value_dwt6", "value_dmean6")
    assert _pdf(got).equals(_pdf(_batch_decay_want(spark, sf_dir)))


def _batch_wagg_want(spark, sf_dir):
    from profet_spark.operators.feature_matrix import windowed_spine_agg

    ev = load_table(spark, sf_dir, "events")
    spine = ev.select("user_id", "ts", "event_id")
    purch = (ev.where(F.col("event_type") == "purchase")
             .select("user_id", "ts", F.col("event_id").alias("f_eid")))
    out = windowed_spine_agg(
        spine, purch,
        {"f_eid_n": ("count", "f_eid"), "f_eid_sum": ("sum", "f_eid"),
         "f_eid_min": ("min", "f_eid"), "f_eid_max": ("max", "f_eid")},
        entity="user_id", ts="ts", window_s=7200.0)
    return out.select("event_id", "user_id", "f_eid_n", "f_eid_sum",
                      "f_eid_min", "f_eid_max")


def test_stateful_windowed_agg_equals_batch_single_batch(spark, sf_dir,
                                                         ev_dir, ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema).withColumn(
        "f_eid", F.when(F.col("event_type") == "purchase", F.col("event_id")))
    st.run_available_now(
        st.stateful_windowed_agg(stream, "f_eid", window_s=7200.0),
        "t_wagg1", output_mode="append")
    got = spark.table("t_wagg1").select(
        "event_id", "user_id", "f_eid_n", "f_eid_sum", "f_eid_min",
        "f_eid_max")
    assert _pdf(got).equals(_pdf(_batch_wagg_want(spark, sf_dir)))


def test_stateful_windowed_agg_equals_batch_multi_batch(spark, sf_dir,
                                                        ev_schema,
                                                        tmp_path_factory):
    """The in-window feature history must carry across micro-batches: a
    median-time split puts many rows' trailing 2h window astride the
    trigger boundary."""
    import time as _t

    out = str(tmp_path_factory.mktemp("events_wagg_2b"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(out)
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    ev.where(us > med).coalesce(1).write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour")
              .withColumn("f_eid", F.when(F.col("event_type") == "purchase",
                                          F.col("event_id"))))
    st.run_available_now(
        st.stateful_windowed_agg(stream, "f_eid", window_s=7200.0),
        "t_wagg2", output_mode="append")
    got = spark.table("t_wagg2").select(
        "event_id", "user_id", "f_eid_n", "f_eid_sum", "f_eid_min",
        "f_eid_max")
    assert _pdf(got).equals(_pdf(_batch_wagg_want(spark, sf_dir)))


def _batch_te_want(spark, sf_dir):
    from profet_spark.operators.encoding import time_aware_target_encode

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value")
    out = time_aware_target_encode(ev, "event_type", "value", ts="ts",
                                   tiebreak=["event_id"], smoothing=8.0,
                                   prior=50.0, out_col="te")
    return out.select("event_id", "event_type", "te")


def test_stateful_target_encode_equals_batch_single_batch(spark, sf_dir,
                                                          ev_dir, ev_schema):
    stream = st.read_parquet_stream(spark, ev_dir, ev_schema)
    st.run_available_now(
        st.stateful_target_encode(stream, "event_type", "value",
                                  smoothing=8.0, prior=50.0, out_col="te"),
        "t_te1", output_mode="append")
    got = spark.table("t_te1").select("event_id", "event_type", "te")
    assert _pdf(got).equals(_pdf(_batch_te_want(spark, sf_dir)))


def test_stateful_target_encode_equals_batch_multi_batch(spark, sf_dir,
                                                         ev_schema,
                                                         tmp_path_factory):
    """The (count, exact micro-sum) state must carry across micro-batches:
    a median-time split makes every category's later encodings depend on
    pre-boundary history — equality is bitwise (the exact-decimal sum +
    mirrored-division contract), not a tolerance."""
    import time as _t

    out = str(tmp_path_factory.mktemp("events_te_2b"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(out)
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    ev.where(us > med).coalesce(1).write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    st.run_available_now(
        st.stateful_target_encode(stream, "event_type", "value",
                                  smoothing=8.0, prior=50.0, out_col="te"),
        "t_te2", output_mode="append")
    got = spark.table("t_te2").select("event_id", "event_type", "te")
    assert _pdf(got).equals(_pdf(_batch_te_want(spark, sf_dir)))


def test_stateful_target_encode_big_prefix_sums_are_exact(
        spark, tmp_path_factory):
    """An int64 cumsum wraps once an intermediate prefix exceeds ~9.2e18
    micro units even when the FINAL state fits — the Python-int
    accumulator must encode exactly (vs the batch operator) instead."""
    import datetime as dt

    out = str(tmp_path_factory.mktemp("te_big"))
    # per-row |value| stays inside the documented decimal(18,6) domain
    # (< 1e12); the PREFIX peaks at 9.9e12 (9.9e18 micro units > int64
    # max 9.22e18) before the negatives bring the final sum back down
    vals = [9.0e11] * 11 + [-9.0e11] * 10 + [1.0]
    rows = [(i, dt.datetime(2025, 1, 1, 0, i), "c", v)
            for i, v in enumerate(vals)]
    pdf_schema = "event_id bigint, ts timestamp, cat string, value double"
    ev = spark.createDataFrame(rows, pdf_schema)
    ev.coalesce(1).write.mode("overwrite").parquet(out)
    stream = (spark.readStream.schema(ev.schema).parquet(out)
              .withWatermark("ts", "1 hour"))
    st.run_available_now(
        st.stateful_target_encode(stream, "cat", "value", out_col="te"),
        "t_te_big", output_mode="append")
    got = (spark.table("t_te_big").select("event_id", "te")
           .toPandas().set_index("event_id").te)
    from profet_spark.operators.encoding import time_aware_target_encode
    want = (time_aware_target_encode(ev, "cat", "value", ts="ts",
                                     tiebreak=["event_id"], out_col="te")
            .select("event_id", "te").toPandas()
            .set_index("event_id").te)
    assert got.sort_index().equals(want.sort_index())
    # the probe row's encoding is the exact final mean, not a wrapped one
    assert got.loc[21] == (11 * 9.0e11 - 10 * 9.0e11) / 21.0


def test_stateful_target_encode_state_survives_int64_overflow(
        spark, tmp_path_factory):
    """The persisted sum is a string-encoded exact integer: a state that
    a micro-batch boundary commits ABOVE int64 micro-unit range must
    carry exactly into the next batch (an int64 state field would make
    the outcome depend on where file splits land — same data, different
    file layout, different result)."""
    import datetime as dt
    import time as _t

    out = str(tmp_path_factory.mktemp("te_bigstate"))
    # file 1 commits state = 11 * 9e11 = 9.9e12 -> 9.9e18 micro units,
    # past int64 max 9.22e18; file 2's row is encoded from that state
    schema = "event_id bigint, ts timestamp, cat string, value double"
    rows1 = [(i, dt.datetime(2025, 1, 1, 0, i), "c", 9.0e11)
             for i in range(11)]
    rows2 = [(11, dt.datetime(2025, 1, 1, 0, 11), "c", 1.0)]
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(out)
    _t.sleep(1.1)  # file-source orders by mtime; force distinct seconds
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(out)
    ev_schema_local = spark.read.parquet(out).schema
    stream = (spark.readStream.schema(ev_schema_local)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withWatermark("ts", "1 hour"))
    st.run_available_now(
        st.stateful_target_encode(stream, "cat", "value", out_col="te"),
        "t_te_bigstate", output_mode="append")
    got = (spark.table("t_te_bigstate").select("event_id", "te")
           .toPandas().set_index("event_id").te)
    assert len(got) == 12
    assert got.loc[11] == (11 * 9.0e11) / 11.0  # exact mean from state


def test_windowed_drift_counts_sum_to_batch_histogram(spark, sf_dir, ev_dir,
                                                      ev_schema):
    """FM4 twin: tumbling windows partition the current slice, so summing
    the streamed per-window counts per (feature, bin) must reproduce the
    batch feature_drift histogram exactly; windows also respect the
    split boundary."""
    from profet_spark.operators.feature_matrix import (drift_edges,
                                                       feature_drift)

    split = "2024-01-05 00:00:00"
    base = load_table(spark, sf_dir, "events").select(
        "ts", F.col("value").cast("double").alias("value"))
    ref = base.where(F.col("ts") < F.lit(split).cast("timestamp"))
    cur = base.where(F.col("ts") >= F.lit(split).cast("timestamp"))
    want = (feature_drift(ref, cur, ["value"], n_bins=6)
            .select("feature", "bin", "n_cur").toPandas()
            .sort_values(["feature", "bin"]).reset_index(drop=True))

    stream = (st.read_parquet_stream(spark, ev_dir, ev_schema)
              .where(F.col("ts") >= F.lit(split).cast("timestamp"))
              .select("ts", F.col("value").cast("double").alias("value")))
    st.run_available_now(
        st.windowed_drift_counts(stream, drift_edges(ref, ["value"]),
                                 ["value"], n_bins=6, window="6 hours"),
        "t_drifthist")
    got_w = spark.table("t_drifthist").toPandas()
    assert (got_w.win_start >= pd.Timestamp(split)).all()
    got = (got_w.groupby(["feature", "bin"], as_index=False).n_cur.sum()
           .sort_values(["feature", "bin"]).reset_index(drop=True))
    merged = want.merge(got, on=["feature", "bin"], how="left",
                        suffixes=("_b", "_s"))
    merged["n_cur_s"] = merged.n_cur_s.fillna(0).astype(int)
    assert (merged.n_cur_b == merged.n_cur_s).all()


def test_stream_cv_roles_with_bounds_equal_batch(spark, sf_dir,
                                                 tmp_path_factory):
    """FM5 with explicit bounds is a stateless Exchange-free projection,
    so purged-CV fold/role assignment streams unchanged — the online
    labeling a serving pipeline applies row-by-row equals the batch
    split exactly."""
    from profet_spark.operators.feature_matrix import purged_cv_roles

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id",
                                                    "ts")
    out = str(tmp_path_factory.mktemp("events_cv_stream"))
    ev.coalesce(2).write.mode("overwrite").parquet(out)
    stream = spark.readStream.schema(ev.schema).parquet(out)
    kw = dict(ts="ts", n_folds=4, val_fold=1, embargo_s=43200.0,
              purge_s=21600.0,
              bounds=("2024-01-01 00:00:00", "2024-01-31 00:00:00"))
    st.run_available_now(purged_cv_roles(stream, **kw), "t_cv_stream",
                         output_mode="append")
    got = spark.table("t_cv_stream").select("event_id", "fold", "cv_role")
    want = purged_cv_roles(ev, **kw).select("event_id", "fold", "cv_role")
    assert _pdf(got).equals(_pdf(want))


def test_stream_scrub_pii_equal_batch(spark, sf_dir, tmp_path_factory):
    """T6 scrub_pii is a stateless projection (zero Exchange,
    plan-asserted in test_textstats.py), so it streams unchanged: the
    readStream replay masks exactly what the batch pass masks."""
    from profet_spark.functions import textstats as ts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = str(tmp_path_factory.mktemp("docs_scrub_stream"))
    docs.coalesce(2).write.mode("overwrite").parquet(out)
    stream = spark.readStream.schema(docs.schema).parquet(out)
    st.run_available_now(ts.scrub_pii(stream), "t_scrub_stream",
                         output_mode="append")
    got = spark.table("t_scrub_stream")
    want = ts.scrub_pii(docs)
    assert _pdf(got).equals(_pdf(want))


def test_stream_augment_plan_equal_batch(spark, sf_dir, tmp_path_factory):
    """B2 plan_augmentations is a stateless explode + projection (zero
    Exchange, plan-asserted in test_batching.py), so it streams
    unchanged: the readStream replay derives bit-identical per-(row,
    epoch) crops and flips."""
    from profet_spark.operators import batching

    k = F.col("doc_id")
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id",
                    (F.lit(64) + k % 500).cast("int").alias("w"),
                    (F.lit(64) + (k * 7) % 500).cast("int").alias("h")))
    out = str(tmp_path_factory.mktemp("docs_aug_stream"))
    docs.coalesce(2).write.mode("overwrite").parquet(out)
    stream = spark.readStream.schema(docs.schema).parquet(out)

    def plan(df):
        return batching.plan_augmentations(
            df, id_col="doc_id", crop_w=128, crop_h=128, epochs=2)

    st.run_available_now(plan(stream), "t_aug_stream",
                         output_mode="append")
    got = spark.table("t_aug_stream")
    want = plan(spark.read.parquet(out))
    assert _pdf(got).equals(_pdf(want))


def test_stream_mixture_weights_equal_batch(spark, sf_dir, tmp_path_factory):
    """P7 mixture_weights is a stateless CASE + hash-bucket + explode
    (zero Exchange, plan-asserted in test_corpus.py), so it streams
    unchanged: the readStream replay emits bit-identical copies."""
    from profet_spark.operators import corpus

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source")
    out = str(tmp_path_factory.mktemp("docs_mix_stream"))
    docs.coalesce(2).write.mode("overwrite").parquet(out)
    stream = spark.readStream.schema(docs.schema).parquet(out)
    w = {"src0": 2.5, "src1": 1.0, "src2": 0.4}

    def plan(df):
        return corpus.mixture_weights(df, w, strata_col="source")

    st.run_available_now(plan(stream), "t_mix_stream",
                         output_mode="append")
    got = spark.table("t_mix_stream")
    want = plan(spark.read.parquet(out))
    assert _pdf(got).equals(_pdf(want))


def test_theta_rollup_stream_equals_batch_multi_batch(spark, sf_dir,
                                                      ev_schema,
                                                      tmp_path_factory):
    """A17 streaming twin: daily theta sketches built by a streaming
    windowed aggregation must carry PARTIAL-SKETCH state across
    micro-batches — split the events mid-stream (days straddle the
    boundary) and the drained retention counts must equal the batch
    rollup's exactly (exact-mode sketches are merge-order-free)."""
    from profet_spark.operators import sketches

    out = str(tmp_path_factory.mktemp("events_theta_2b"))
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    med = ev.select(us.alias("us")).approxQuantile("us", [0.5], 0.0)[0]
    ev.where(us <= med).coalesce(1).write.mode("overwrite").parquet(out)
    import time as _t
    _t.sleep(1.1)
    ev.where(us > med).coalesce(1).write.mode("append").parquet(out)
    stream = (spark.readStream.schema(ev_schema)
              .option("maxFilesPerTrigger", 1).parquet(out)
              .withColumn("ts", F.col("ts").cast("timestamp"))
              .withWatermark("ts", "1 hour"))
    st.run_available_now(st.theta_daily_rollup(stream), "t_theta_2b")
    got = sketches.retention_rollup(spark.table("t_theta_2b"), "day")
    day = sketches.epoch_day("ts")
    want = sketches.retention_rollup(
        sketches.theta_rollup(ev.withColumn("day", day), ["day"],
                              "user_id"), "day")
    cols = ["period_a", "period_b", "n_a", "n_b", "retained", "churned",
            "fresh"]
    assert _pdf(got.select(cols)).equals(_pdf(want.select(cols)))


def test_ingest_stream_equals_batch_two_day_replay(spark, sf_dir,
                                                   tmp_path_factory):
    """D11 streaming twin (round 5): two micro-batches (one file per
    trigger) through streaming.ingest_stream must produce the SAME
    per-day pair sets and the SAME signature store as driving
    signature_store_ingest by hand with the same splits."""
    from profet_spark.operators import dedup
    from profet_spark.sources import partitioned as P
    from profet_spark.streaming import committed_batches, ingest_stream

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300).select("doc_id", "text")
    day1 = docs.where(F.col("doc_id") % 3 == 0)
    day2 = docs.where(F.col("doc_id") % 3 == 1)
    src = str(tmp_path_factory.mktemp("d11_src"))
    day1.coalesce(1).write.mode("overwrite").parquet(src)
    import time as _t
    _t.sleep(1.1)  # file source orders by mtime
    day2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path_factory.mktemp("d11_store")) + "/store"
    pairs_dir = str(tmp_path_factory.mktemp("d11_pairs"))
    ck = str(tmp_path_factory.mktemp("d11_ck"))
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = ingest_stream(stream, store, pairs_dir, ck)
    q.awaitTermination(300)

    # batch control with identical splits
    bstore = str(tmp_path_factory.mktemp("d11_bstore")) + "/store"
    b1 = dedup.signature_store_ingest(
        spark, day1, bstore, ingest_ts="2025-01-01 00:00:00",
        persist=False).toPandas()
    b2 = dedup.signature_store_ingest(
        spark, day2, bstore, ingest_ts="2025-01-02 00:00:00",
        persist=False).toPandas()
    key = ["id_a", "id_b"]
    for bid, want in [(0, b1), (1, b2)]:
        got = spark.read.parquet(f"{pairs_dir}/batch={bid}").toPandas()
        g = got.sort_values(key).reset_index(drop=True)
        w = want.sort_values(key).reset_index(drop=True)
        assert g[key + ["inter", "na", "nb"]].equals(
            w[key + ["inter", "na", "nb"]]), f"batch {bid}"
    # identical stores (signature rows bitwise)
    srt = lambda d: d.sort_values("id").reset_index(drop=True)  # noqa: E731
    ssig = srt(P.scan_pruned(spark, store + "/signatures",
                             ts_col="ingest_ts", entity_col="id")
               .select("id", "sig").toPandas())
    bsig = srt(P.scan_pruned(spark, bstore + "/signatures",
                             ts_col="ingest_ts", entity_col="id")
               .select("id", "sig").toPandas())
    assert len(ssig) == len(bsig)
    assert all(list(a) == list(b) for a, b in zip(ssig.sig, bsig.sig))
    # lineage + metrics markers (north rule: resumable with metrics)
    rec = committed_batches(store, ck)
    assert set(rec) == {0, 1}
    assert rec[0]["rows"] == day1.count()
    assert rec[1]["n_pairs"] == len(b2)


def test_ingest_stream_crash_replay_is_idempotent(spark, sf_dir,
                                                  tmp_path_factory):
    """Replaying committed batches (fresh checkpoint, same store) must
    not change the store or the pair outputs — the marker short-cut AND
    the by-construction idempotence both hold."""
    import os

    from profet_spark.sources import partitioned as P
    from profet_spark.streaming import ingest_stream

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 150).select("doc_id", "text")
    src = str(tmp_path_factory.mktemp("d11r_src"))
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    store = str(tmp_path_factory.mktemp("d11r_store")) + "/store"
    pairs_dir = str(tmp_path_factory.mktemp("d11r_pairs"))

    def run(ck):
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = ingest_stream(stream, store, pairs_dir, ck)
        q.awaitTermination(300)

    run(str(tmp_path_factory.mktemp("ck1")))
    sig0 = (P.scan_pruned(spark, store + "/signatures",
                          ts_col="ingest_ts", entity_col="id")
            .select("id", "sig").toPandas().sort_values("id")
            .reset_index(drop=True))
    p0 = spark.read.parquet(pairs_dir + "/batch=0").toPandas().sort_values(
        ["id_a", "id_b"]).reset_index(drop=True)
    run(str(tmp_path_factory.mktemp("ck2")))  # fresh checkpoint => replay
    sig1 = (P.scan_pruned(spark, store + "/signatures",
                          ts_col="ingest_ts", entity_col="id")
            .select("id", "sig").toPandas().sort_values("id")
            .reset_index(drop=True))
    p1 = spark.read.parquet(pairs_dir + "/batch=0").toPandas().sort_values(
        ["id_a", "id_b"]).reset_index(drop=True)
    assert len(sig0) == len(sig1) == docs.count()
    assert all(list(a) == list(b) for a, b in zip(sig0.sig, sig1.sig))
    assert p0[["id_a", "id_b", "inter"]].equals(p1[["id_a", "id_b", "inter"]])
    # now FORCE the no-marker path: delete every marker namespace and
    # replay again — the by-construction idempotence (upsert no-op +
    # batch-wins anti-join) must hold without the short-cut
    import shutil

    shutil.rmtree(store + "/_batches")
    run(str(tmp_path_factory.mktemp("ck3")))
    sig2 = (P.scan_pruned(spark, store + "/signatures",
                          ts_col="ingest_ts", entity_col="id")
            .select("id", "sig").toPandas().sort_values("id")
            .reset_index(drop=True))
    p2 = spark.read.parquet(pairs_dir + "/batch=0").toPandas().sort_values(
        ["id_a", "id_b"]).reset_index(drop=True)
    assert len(sig2) == len(sig0)
    assert all(list(a) == list(b) for a, b in zip(sig0.sig, sig2.sig))
    assert p0[["id_a", "id_b", "inter"]].equals(p2[["id_a", "id_b", "inter"]])


def test_ingest_stream_new_checkpoint_new_data_not_skipped(
        spark, sf_dir, tmp_path_factory):
    """Round-5 review finding: markers are namespaced by checkpoint —
    a NEW stream (fresh checkpoint, genuinely new data, ids restarting
    at batch 0) over an existing store must INGEST, not silently skip
    because an older stream already used batch id 0."""
    from profet_spark.sources import partitioned as P
    from profet_spark.streaming import committed_batches, ingest_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    first = docs.where(F.col("doc_id") < 60)
    second = docs.where((F.col("doc_id") >= 60) & (F.col("doc_id") < 120))
    store = str(tmp_path_factory.mktemp("d11n_store")) + "/store"
    pairs_dir = str(tmp_path_factory.mktemp("d11n_pairs"))

    def run(df, ck):
        src = str(tmp_path_factory.mktemp("d11n_src"))
        df.coalesce(1).write.mode("overwrite").parquet(src)
        stream = (spark.readStream.schema("doc_id bigint, text string")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = ingest_stream(stream, store, pairs_dir, ck)
        q.awaitTermination(300)
        return ck

    ck1 = run(first, str(tmp_path_factory.mktemp("ck1")))
    ck2 = run(second, str(tmp_path_factory.mktemp("ck2")))
    # BOTH streams' rows made it into the store
    ssig = P.scan_pruned(spark, store + "/signatures",
                         ts_col="ingest_ts", entity_col="id")
    assert ssig.count() == first.count() + second.count()
    # per-checkpoint marker views see their own batch 0
    assert set(committed_batches(store, ck1)) == {0}
    assert set(committed_batches(store, ck2)) == {0}
    assert committed_batches(store, ck1)[0]["rows"] == first.count()
    assert committed_batches(store, ck2)[0]["rows"] == second.count()


def test_committed_batches_flattened_keeps_every_stream(tmp_path):
    """Two streams over one store both commit batch 0. The flattened
    view (no checkpoint) keys by (checkpoint_ns, batch_id), so it holds
    both records; each per-checkpoint view holds its own batch 0."""
    import json
    import os

    from profet_spark.streaming import committed_batches
    from profet_spark.streaming.dedup_stream import _ck_namespace, _marker_path

    store = str(tmp_path / "store")
    cks = [str(tmp_path / "ck1"), str(tmp_path / "ck2")]
    for rows, ck in zip((60, 70), cks):
        marker = _marker_path(store, _ck_namespace(ck), 0)
        os.makedirs(os.path.dirname(marker))
        with open(marker, "w") as fh:
            json.dump({"batch_id": 0, "checkpoint_ns": _ck_namespace(ck),
                       "rows": rows}, fh)
    flat = committed_batches(store)
    assert set(flat) == {(_ck_namespace(ck), 0) for ck in cks}
    assert sorted(r["rows"] for r in flat.values()) == [60, 70]
    assert committed_batches(store, cks[0])[0]["rows"] == 60
    assert committed_batches(store, cks[1])[0]["rows"] == 70


def test_ingest_stream_marker_checksum_verifies(spark, sf_dir,
                                                tmp_path_factory):
    """The marker's pairs checksum must reproduce from the written
    pairs parquet (S7's order-insensitive sum-of-masked-hashes
    convention) — the lineage+metrics record is verifiable, not
    decorative."""
    from profet_spark.streaming import committed_batches, ingest_stream

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200).select("doc_id", "text")
    src = str(tmp_path_factory.mktemp("d11c_src"))
    docs.coalesce(1).write.mode("overwrite").parquet(src)
    store = str(tmp_path_factory.mktemp("d11c_store")) + "/store"
    pairs_dir = str(tmp_path_factory.mktemp("d11c_pairs"))
    ck = str(tmp_path_factory.mktemp("d11c_ck"))
    stream = (spark.readStream.schema("doc_id bigint, text string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = ingest_stream(stream, store, pairs_dir, ck)
    q.awaitTermination(300)
    rec = committed_batches(store, ck)[0]
    back = spark.read.parquet(rec["pairs_path"])
    h = F.xxhash64(*sorted(back.columns)).bitwiseAND(F.lit(0xFFFFFFFF))
    m = back.agg(F.count("*").alias("n"),
                 F.sum(h.cast("decimal(38,0)")).alias("ck")).collect()[0]
    assert rec["n_pairs"] == int(m["n"])
    assert rec["pairs_checksum"] == int(m["ck"] or 0)
