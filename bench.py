#!/usr/bin/env python
"""Headline benchmark (driver contract + BASELINE.md protocol).

Runs the engine's headline pipelines at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with the ``noop`` sink so the full plan
(including descriptor UDF columns) executes — ``count()`` would let
Catalyst prune the expensive projections away and fake the numbers.

Fixture-backed stages (native image+caption snapshots) are generated
OUTSIDE the timed region; the timer covers Spark execution only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from profet_spark import fixtures, get_spark
from profet_spark.functions import image_descriptors as imgd
from profet_spark.functions import text_descriptors as td
from profet_spark.functions import textstats
from profet_spark.operators import (
    asof,
    batching,
    corpus,
    dedup,
    similarity,
    temporal,
)
from profet_spark.sources import load_table, stats


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def pit_features_events(spark, sf_dir, n_parts):
    """Flagship: PIT feature pipeline over the events stream (as-of join +
    ffill + sessionize + expanding stats). Uses the pure-JVM window as-of
    plan; input repartitioned off the single-split testdata file."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "user_id", "ts", "event_type", "value")
          .repartition(n_parts))
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts").agg(F.max("value").alias("purch_val"))
    )
    out = asof.asof_join(ev, purchases, entity="user_id", ts="ts", strategy="window")
    out = temporal.ffill(out, ["purch_val"], entity="user_id", ts="ts", tiebreak=["event_id"])
    out = temporal.sessionize(out, gap_seconds=3600, entity="user_id", ts="ts", tiebreak=["event_id"])
    out = temporal.expanding_stats(out, "value", entity="user_id", ts="ts", tiebreak=["event_id"],
                                   stats=("mean", "count", "max"))
    return out


def caption_descriptors(spark, snap_text):
    """Full 340-feature ProFET-analog vector over native captions, packed
    array<double> layout (scalar Arrow UDF) — same values as the struct path
    (tests/test_descriptors.py), ~3x the throughput at full concurrency."""
    return td.add_caption_features_packed(snap_text)


def image_pipeline(spark, snap_img):
    out = imgd.add_image_features(snap_img)
    return imgd.phash_hamming_to_prev(out)


def pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sq"),
             F.sum(dec("l_extendedprice")).alias("sb"))
    )


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 32))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # FAIR scheduling: the curation stage submits its two independent
    # subtrees (D3 pair chain / quality pass) as concurrent jobs from
    # threads; FAIR keeps the long pair chain from starving the short
    # quality job of task slots (round-3 verdict item: overlap the
    # barrier chain instead of serializing many small stages)
    spark = get_spark(app="profet_bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, int(cpus)),
                      extra={"spark.scheduler.mode": "FAIR"})

    # fixture setup (untimed): text-heavy snapshot set + image snapshot set.
    # Rows arrive entity-ordered (hot entities cluster), so repartition to
    # 2x cores for straggler-free UDF stages — the local-mode analog of
    # sizing shuffle partitions to a multiple of total executor cores.
    n_parts = 2 * max(8, int(cpus))

    # JVM-side stages size their INPUT partitioning to the DATA, not the
    # core count: the testdata tables are single-split parquet, and blindly
    # exploding a 5k-row table into 2x-cores partitions makes every stage
    # of a multi-barrier chain pay ~64 task launches for ~80-row tasks —
    # measured 3.6 -> 2.3 s on the curation chain and 2.5 -> 1.6 s on the
    # profile chain at sf0.1/local[32] from this change alone. The rule is
    # the production one (split count follows bytes/rows, floored so the
    # box stays busy, capped at the 2x-cores straggler rule); row counts
    # come from parquet footers (sources/stats.py) — zero data read. The
    # UDF fixture stages keep the 2x-cores rule: their per-row work is
    # orders of magnitude heavier (Arrow descriptor/decode kernels), so
    # straggler-freedom dominates task-launch overhead there.
    def _input_parts(rows: int | None) -> int:
        c = max(8, int(cpus))
        if rows is None:  # non-parquet source: fall back to the UDF rule
            return 2 * c
        return int(max(c // 4, min(2 * c, rows // 6000)))

    docs_parts = _input_parts(
        stats.estimate_row_count(load_table(spark, sf_dir, "documents")))
    ev_parts = _input_parts(
        stats.estimate_row_count(load_table(spark, sf_dir, "events")))
    n_text_entities = max(200, int(20000 * (sf if sf > 0 else 0.1) * 10))
    n_img_entities = max(100, int(2000 * (sf if sf > 0 else 0.1) * 10))
    # stage fixtures through parquet: a parallelized local collection ships
    # its data inside every task binary and gets re-shipped on each
    # post-clearCache re-cache (the 7 MB 'task of very large size'
    # warnings); a parquet scan is also the production input shape
    fx_dir = tempfile.mkdtemp(prefix="bench_fx_")
    snap_text_pdf = fixtures.make_fixture(n_entities=n_text_entities, with_images=False)
    snap_text = fixtures.stage_parquet(
        spark, snap_text_pdf, fx_dir + "/snap_text"
    ).select("image_id", "ts", "caption").repartition(n_parts).cache()
    snap_text.count()
    snap_img_pdf = fixtures.make_fixture(n_entities=n_img_entities, img_sizes=(32, 64))
    snap_img = fixtures.stage_parquet(
        spark, snap_img_pdf, fx_dir + "/snap_img").repartition(n_parts).cache()
    snap_img.count()

    def curation_ops(spark, sf_dir):
        """Dedup + quality + fingerprint sweep over documents (task-mandate
        training-data ops at the benchmark scale).

        The D3 pair chain is an inherently serial ladder of small shuffle
        stages (sig → band join → verify; PLANS.md §"Curation stage
        floor"), while the quality/fingerprint pass is one independent
        wide aggregate — so the two subtrees are materialized as
        CONCURRENT jobs from threads (FAIR pool) and the final anti-join
        reads both persisted sides. The overlap hides the quality pass
        entirely behind the pair chain's critical path."""
        from concurrent.futures import ThreadPoolExecutor

        # testdata parquet is single-split; spread the map side
        docs = load_table(spark, sf_dir, "documents").repartition(docs_parts)
        pairs = dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5).persist()
        quality = textstats.add_fingerprint(
            textstats.add_quality_features(docs)).drop("text").persist()

        def _warm(arg):
            # thread-local property: ONE POOL PER SUBTREE — FAIR mode
            # arbitrates BETWEEN pools; an unconfigured pool's internal
            # order is FIFO, so putting both jobs in one shared pool
            # would just queue the quality tasksets behind the pair
            # chain's (round-4 review finding)
            name, df = arg
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
                                                f"bench_curation_{name}")
            df.count()

        with ThreadPoolExecutor(2) as pool:
            list(pool.map(_warm, [("pairs", pairs), ("quality", quality)]))
        return quality.join(
            pairs.select(F.col("id_a").alias("doc_id")).distinct(),
            "doc_id", "left_anti")

    def ann_topk(spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        return similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 100), k=10)

    def corpus_pipeline(spark, sf_dir):
        """Post-curation corpus tier (new in round 3): split + stratified
        sample + sequence packing + TF-IDF over documents. Added as its
        own stage key so earlier-round totals stay comparable by summing
        the shared keys."""
        docs = load_table(spark, sf_dir, "documents").repartition(docs_parts)
        split = corpus.hash_split(docs, {"train": 0.9, "val": 0.05,
                                         "test": 0.05})
        samp = (corpus.stratified_sample(docs, 0.5)
                .select("doc_id").withColumn("sampled", F.lit(1)))
        packed = corpus.pack_chunks(docs, "n_chars", capacity=2048)
        scores = (corpus.tfidf(docs)
                  .groupBy("doc_id").agg(F.sum("tfidf").alias("tfidf_mass")))
        return (split.join(samp, "doc_id", "left")
                .join(packed, "doc_id").join(scores, "doc_id"))

    def training_matrix(spark, sf_dir):
        """Feature-store spine join (round-3 flagship): three event-derived
        feature tables attached point-in-time to the full event spine in
        ONE Exchange + ONE WindowExec (operators/feature_matrix.py). Own
        stage key, so earlier-round totals stay comparable by summing the
        shared keys; the sequential-vs-fused delta is in PLANS.md §FM."""
        from profet_spark.operators import feature_matrix as fm
        typed = load_table(spark, sf_dir, "events").repartition(ev_parts)
        spine = typed.select("user_id", "ts", "event_id", "value")
        feats = {
            name: (typed.where(F.col("event_type") == et)
                   .groupBy("user_id", "ts")
                   .agg(F.max("value").alias(f"{name}_val")))
            for name, et in (("purch", "purchase"), ("click", "click"),
                             ("view", "view"))
        }
        return fm.point_in_time_matrix(spine, feats, entity="user_id",
                                       ts="ts", keep_feature_ts=True)

    def profile_features(spark, sf_dir):
        """W9-W12 profile tier (new in round 3): rolling quantile + phash
        Hamming drift + half-life decayed stats share ONE Exchange (same
        entity/ts window spec), plus the 6h grid resample (one agg +
        sequence/explode + as-of attach). Own stage key so earlier-round
        totals stay comparable."""
        from profet_spark.functions import hashing as H
        ev = load_table(spark, sf_dir, "events").repartition(ev_parts)
        ph = (H.h32("props") - F.lit(2 ** 31)) * F.lit(2 ** 32) + H.h32_hi("props")
        base = ev.select("user_id", "ts", "event_id", "value", ph.alias("ph"))
        prof = temporal.rolling_quantile(base, "value", q=0.5, n=8,
                                         entity="user_id",
                                         tiebreak=["event_id"], out_col="rq")
        prof = temporal.hamming_drift(prof, "ph", entity="user_id",
                                      tiebreak=["event_id"])
        prof = temporal.decayed_stats(prof, "value", n=8, decay=0.5,
                                      entity="user_id",
                                      tiebreak=["event_id"])
        grid = temporal.resample_to_grid(ev.select("user_id", "ts", "value"),
                                         ["value"], entity="user_id",
                                         every_seconds=21600)
        # keep a decayed column in the projection or pruning removes W12
        return prof.select(
            "user_id", "ts", F.col("rq").alias("x"),
            F.col("value_dmean8").alias("x2"),
        ).unionByName(grid.select(
            "user_id", "ts", F.col("value").alias("x"),
            F.lit(None).cast("double").alias("x2")))

    def feature_encoding(spark, sf_dir):
        """Leakage-safe encoding tier (new in round 3): purged-CV roles →
        standardization fit on the train slice only → broadcast z-score
        apply, plus strictly-prior target encoding of the category
        column. Own stage key so earlier-round totals stay comparable."""
        from profet_spark.operators import encoding as enc
        from profet_spark.operators import feature_matrix as fm
        ev = (load_table(spark, sf_dir, "events").repartition(ev_parts)
              .select("event_id", "ts", "event_type",
                      F.col("value").cast("double").alias("value"),
                      F.length("props").cast("double").alias("plen")))
        roles = fm.purged_cv_roles(ev, ts="ts", n_folds=5, val_fold=2,
                                   embargo_s=86400.0, purge_s=43200.0)
        fit = enc.fit_feature_scaler(
            roles.where(F.col("cv_role") == "train"), ["value", "plen"])
        out = enc.apply_feature_scaler(roles, fit, ["value", "plen"])
        return enc.time_aware_target_encode(
            out, "event_type", "value", ts="ts", tiebreak=["event_id"],
            smoothing=8.0, prior=50.0)

    def corpus_hygiene(spark, sf_dir):
        """Training-data hygiene tier (new in round 4): P6 benchmark
        decontamination (train split vs the held-out test split, word
        3-gram overlap, broadcast probe set) + T6 PII scrubbing over the
        surviving train docs. Own stage key so earlier-round totals stay
        comparable by summing the shared keys."""
        docs = load_table(spark, sf_dir, "documents").repartition(docs_parts)
        sp = corpus.hash_split(docs, {"train": 0.9, "val": 0.05,
                                      "test": 0.05})
        # drop mode: one shingle pass over the corpus (flag mode's
        # n_shingles audit column would recompute the shingle set — the
        # lazy DAG reads it in two branches; see decontaminate docstring)
        clean = corpus.decontaminate(
            sp.where(F.col("split") == "train").drop("split"),
            sp.where(F.col("split") == "test").drop("split"), n=3,
            mode="drop")
        return textstats.scrub_pii(clean).drop("text", "text_scrubbed")

    def batch_plan(spark, sf_dir):
        """Image-training batch tier (new in round 4): B1 aspect-bucketed
        fixed-size batch assembly + shared resize targets + B2 one-epoch
        augmentation plan, over planted deterministic shapes (the sf
        tables carry no w/h — same event_id arithmetic as the graded
        b1/b2 keys). Own stage key so earlier-round totals stay
        comparable by summing the shared keys."""
        k = F.col("event_id")
        shapes = (load_table(spark, sf_dir, "events")
                  .repartition(ev_parts)
                  .select("event_id",
                          (F.lit(64) + k % 1987).cast("bigint").alias("w"),
                          (F.lit(64) + (k * 31) % 1987).cast("bigint")
                          .alias("h")))
        plan = batching.with_resize_targets(batching.plan_aspect_batches(
            shapes, id_col="event_id", batch_size=64, n_shards=64))
        return batching.plan_augmentations(plan, id_col="event_id",
                                           epochs=1)

    def versioned_store(spark, sf_dir):
        """S13 snapshot-store lifecycle (new in round 4): create the
        store from the pre-cut events, append the post-cut delta as a
        second snapshot commit (O(batch) files, untouched partitions by
        reference), then serve the latest snapshot AND a time-travel
        read of v1. Commit cost dominates; fresh temp store per
        iteration so every run pays the full lifecycle. Own stage key so
        earlier-round totals stay comparable by summing shared keys."""
        from profet_spark.sources import versioned as V

        ev = (load_table(spark, sf_dir, "events")
              .select("event_id", "user_id", "ts",
                      F.col("value").cast("double").alias("val"))
              .repartition(ev_parts))
        store = tempfile.mkdtemp(prefix="bench_vstore_")
        V.create_versioned(ev.where(F.col("ts") < F.lit("2024-01-20")),
                           store, ts_col="ts", entity_col="user_id",
                           n_buckets=8)
        V.append_versioned(
            spark, ev.where(F.col("ts") >= F.lit("2024-01-20")), store)
        return (V.read_versioned(spark, store)
                .unionByName(V.read_versioned(spark, store, version=1)))

    def retention_rollup(spark, sf_dir):
        """A17 theta set-expression tier (new in round 4 session 7):
        per-day theta distinct-user sketches over events (one JVM hash
        aggregate), then day-over-day retained/churned/fresh computed
        from the O(days) sketch rows alone — the base table is scanned
        once, never for pairs. Own stage key so earlier-round totals
        stay comparable by summing shared keys."""
        from profet_spark.operators import sketches

        ev = (load_table(spark, sf_dir, "events")
              .select("user_id", "ts").repartition(ev_parts)
              .withColumn("day", sketches.epoch_day("ts")))
        daily = sketches.theta_rollup(ev, ["day"], "user_id")
        return sketches.retention_rollup(daily, "day")

    def span_dedup(spark, sf_dir):
        """D10 exact duplicated-substring tier (new in round 4 session
        6): position-hash explode over the documents corpus, corpus-wide
        span count, per-doc interval merge, and the JVM aggregate-fold
        excision — one narrow hash shuffle end to end. Own stage key so
        earlier-round totals stay comparable by summing shared keys."""
        docs = (load_table(spark, sf_dir, "documents")
                .select("doc_id", "text").repartition(docs_parts))
        spans = dedup.repeated_spans(docs, span=40,
                                     hash_strategy="xxhash64")
        return dedup.cut_spans(docs, spans)

    def incremental_ingest(spark, sf_dir):
        """D11 signature-store daily ingest (new in round 5): half the
        corpus ingested as day 1 (store bootstrap: batch-internal pairs
        + signature write), the other half as day 2 (batch-only
        shingling against the day-1 materialized signatures + S8
        footprint upsert). Fresh temp store per iteration so every run
        pays both days' full write+detect cycle. Own stage key so
        earlier-round totals stay comparable by summing shared keys."""
        docs = (load_table(spark, sf_dir, "documents")
                .select("doc_id", "text").repartition(docs_parts))
        store = tempfile.mkdtemp(prefix="bench_sigstore_")
        dedup.signature_store_ingest(
            spark, docs.where(F.col("doc_id") % 2 == 0), store,
            ingest_ts="2025-01-01 00:00:00")
        out = dedup.signature_store_ingest(
            spark, docs.where(F.col("doc_id") % 2 == 1), store,
            ingest_ts="2025-01-02 00:00:00")
        # the returned pairs are localCheckpoint-materialized inside
        # signature_store_ingest, so the store files can go now —
        # without this, 5 iterations leave 5 full text+signature copies
        # in /tmp per bench run
        shutil.rmtree(store, ignore_errors=True)
        return out

    stages = {
        "pit_features_events": lambda: pit_features_events(spark, sf_dir, ev_parts),
        "profile_features": lambda: profile_features(spark, sf_dir),
        "training_matrix": lambda: training_matrix(spark, sf_dir),
        "caption_descriptors": lambda: caption_descriptors(spark, snap_text),
        "image_pipeline": lambda: image_pipeline(spark, snap_img),
        "a9_pricing_summary": lambda: pricing_summary(spark, sf_dir),
        "curation_dedup_quality": lambda: curation_ops(spark, sf_dir),
        "ann_cosine_topk": lambda: ann_topk(spark, sf_dir),
        "corpus_pipeline": lambda: corpus_pipeline(spark, sf_dir),
        "feature_encoding": lambda: feature_encoding(spark, sf_dir),
        "corpus_hygiene": lambda: corpus_hygiene(spark, sf_dir),
        "batch_plan": lambda: batch_plan(spark, sf_dir),
        "versioned_store": lambda: versioned_store(spark, sf_dir),
        "span_dedup": lambda: span_dedup(spark, sf_dir),
        "retention_rollup": lambda: retention_rollup(spark, sf_dir),
        "incremental_ingest": lambda: incremental_ingest(spark, sf_dir),
    }
    # warm-up (untimed): exercise shuffle + window + Python-worker startup
    # on small slices so the first timed stage isn't paying JVM cold-start
    ev_small = load_table(spark, sf_dir, "events").limit(4000)
    _materialize(temporal.sessionize(ev_small, 3600, entity="user_id", ts="ts"))
    _materialize(td.add_caption_features(snap_text.limit(500)))

    # >=5 warm iterations per stage, report MEDIANS: n=1 numbers proved
    # untrustworthy round over round (first touch of a table/shuffle shape
    # pays Python-worker + AQE warm-up; this box also shows hypervisor
    # steal spikes — a 5-sample median tolerates two poisoned samples)
    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5")))
    samples: dict[str, list[float]] = {name: [] for name in stages}
    for _ in range(iters):
        for name, mk in stages.items():
            # drop operator-internal persists from earlier iterations:
            # Spark's cacheManager dedups by canonical plan, so without
            # this, iterations 2+ would re-read cached intermediates and
            # report cache-scan time instead of full execution
            spark.catalog.clearCache()
            # re-cache ONLY the snapshot a stage actually reads: re-caching
            # both 100k-row snaps before every stage (2 x 10 stages x iters
            # cache populations) is pure allocation/GC churn that bleeds
            # into the timed regions of unrelated stages
            if name == "caption_descriptors":
                snap_text.cache().count()
            elif name == "image_pipeline":
                snap_img.cache().count()
            t0 = time.perf_counter()
            _materialize(mk())
            samples[name].append(time.perf_counter() - t0)
    times = {name: round(sorted(ts)[len(ts) // 2], 3) for name, ts in samples.items()}
    # noise on this box is strictly additive (hypervisor steal episodes —
    # see BENCH/BASELINE.md), so the per-stage MINIMUM is the least-biased
    # point estimate; keep the median as "value" for round-over-round
    # comparability and report both
    times_min = {name: round(min(ts), 3) for name, ts in samples.items()}
    # per-iteration samples to stderr: variance diagnosis without touching
    # the stable one-line-JSON stdout contract
    print(json.dumps({"samples": {n: [round(x, 3) for x in t]
                                  for n, t in samples.items()}}), file=sys.stderr)

    n_vectors = len(snap_text_pdf) + len(snap_img_pdf)
    total = round(sum(times.values()), 3)
    # round-over-round comparability: the sum over exactly the 15
    # round-4 stage keys (incremental_ingest is new in round 5, and a
    # two-full-lifecycle write stage by design — see BENCH/BASELINE.md)
    r4_keys = [k for k in times if k != "incremental_ingest"]
    total_r4_stages = round(sum(times[k] for k in r4_keys), 3)
    desc_sec = times["caption_descriptors"] + times["image_pipeline"]
    print(json.dumps({
        "metric": "headline pipeline wall time (PIT features + descriptors + image decode + agg)",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_min": times_min,
        "value_min": round(sum(times_min.values()), 3),
        "value_r4_stages": total_r4_stages,
        "sf": sf,
        "feature_vectors": n_vectors,
        "feature_vectors_per_sec": round(n_vectors / desc_sec, 1) if desc_sec > 0 else None,
        "cpus": int(cpus),
        "iters": iters,
        "stat": "median",
    }))
    spark.stop()
    shutil.rmtree(fx_dir, ignore_errors=True)  # staged fixtures (multi-MB)


if __name__ == "__main__":
    main()
