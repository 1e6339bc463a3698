#!/usr/bin/env python
"""Scaling-efficiency job (BASELINE.md protocol, north_rule two-cluster-size
criterion, sandbox proxy).

Run via spark-submit --py-files at two parallelism levels on the SAME input:

    spark-submit --master local[8]  --py-files profet_spark.zip scaling_job.py --cores 8
    spark-submit --master local[32] --py-files profet_spark.zip scaling_job.py --cores 32

The job is the flagship pipeline: ProFET-analog caption descriptors (340
features/row) + image decode/pixel stats + phash hamming window + as-of join
of a sparse sampled sub-stream + gap sessionization + expanding stats +
noop write. Input is the deterministic fixture (FIXTURES.md) replicated
Spark-side to a fixed row count — identical at both levels (seeded,
parallelism-independent).

Sizing rationale (measured on this host): the descriptor UDF streams ~9k
rows/s/core, so the fixture is replicated until per-core compute dominates
fixed stage latency (~4M caption rows, ~130k image decodes); the PIT layer
runs on a NARROW projection of the feature table (keys + 7 features), which
is the realistic shape — windowed/as-of logic never needs all 340 columns,
and Catalyst prunes the rest out of the exchanges.

Materialization trade-off (measured 2026-08-17, 8 vs 32 cores): the PIT
branch re-derives its narrow columns from the descriptor projection rather
than persisting the 340-wide feature table. Re-running the Arrow kernel is
CPU-parallel and scales with cores; materializing ~5.7 GB of array<double>
(persist: 8c 37.5s/32c 34.4s total; parquet round-trip: 38.7s/30.5s) is
bandwidth/IO-bound and collapses the 32-core level, while recompute
(46.4s/20.1s) wins at high concurrency. On a real cluster with per-node
bandwidth scaling, a columnar-pruned Iceberg read-back of the narrow
columns is the production shape.

Prints ONE JSON line: {"cores": N, "rows": R, "sec": S, "rows_per_sec": T}.
Fixture synthesis happens driver-side BEFORE the timer; the timed region is
Spark execution only.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


def _replicate(df: DataFrame, times: int, spark: SparkSession) -> DataFrame:
    """Multiply the fixture Spark-side: entity ids get a replica suffix so
    entity cardinality (and window/as-of group structure) scales with rows."""
    if times <= 1:
        return df
    reps = spark.range(times).withColumnRenamed("id", "rep")
    return (
        df.crossJoin(reps)
        .withColumn("image_id", F.concat_ws("#", "image_id", F.col("rep").cast("string")))
        .drop("rep")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--text-entities", type=int, default=20000)
    ap.add_argument("--img-entities", type=int, default=2000)
    ap.add_argument("--replicate-text", type=int, default=16)
    ap.add_argument("--replicate-img", type=int, default=8)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    # 1 task = 1 core (same rationale as profet_spark/session.py): a
    # threaded BLAS inside each Python worker oversubscribes the box and
    # the oversubscription GROWS with the core count — unpinned runs
    # measured weak 8→32 as low as 0.508 vs 0.705-0.769 pinned (r4
    # passes s6/s6b/final vs s7/s7b). Pin HERE, not in the launcher's
    # shell, so the regime can never drift with inherited env again.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"

    spark = (
        SparkSession.builder.appName(f"profet_scaling_{args.cores}")
        # master comes from spark-submit; shuffle partitions scale with the
        # core count (identical per-core policy at both levels)
        .config("spark.sql.shuffle.partitions", str(2 * args.cores))
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.NUMEXPR_NUM_THREADS", "1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # cache-fit Arrow batches: see profet_spark/session.py rationale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from profet_spark import fixtures
    from profet_spark.functions import image_descriptors as imgd
    from profet_spark.functions import text_descriptors as td
    from profet_spark.operators import asof, temporal

    n_parts = 2 * args.cores
    text_pdf = fixtures.make_fixture(n_entities=args.text_entities, with_images=False)
    img_pdf = fixtures.make_fixture(n_entities=args.img_entities, img_sizes=(32, 64))
    snap_text = _replicate(
        fixtures.to_spark(spark, text_pdf).select("image_id", "ts", "caption"),
        args.replicate_text, spark,
    ).repartition(n_parts).cache()
    snap_img = _replicate(
        fixtures.to_spark(spark, img_pdf), args.replicate_img, spark,
    ).repartition(n_parts).cache()
    n_rows = snap_text.count() + snap_img.count()

    # the PIT layer consumes a narrow slice of the feature table — the
    # realistic shape (window/as-of logic needs keys + a few features, and
    # Catalyst column-prunes the other 330 out of every exchange)
    pit_cols = ["entropy", "length", "ctd_hydrophobicity_c1", "ctd_hydrophobicity_t12"]

    def pipeline() -> None:
        # text branch: descriptors (packed 340-vector via mapInArrow — the
        # high-throughput layout) and a narrow PIT layer: sessionize ->
        # expanding -> as-of join vs a sparse sampled anchor stream
        feat = td.add_caption_features_packed(snap_text)
        feat.write.format("noop").mode("overwrite").save()
        narrow = feat.select(
            "image_id", "ts",
            *[F.element_at("features", td.feature_index(c) + 1).alias(c)
              for c in pit_cols])
        narrow = temporal.sessionize(narrow, gap_seconds=6 * 3600,
                                     entity="image_id", ts="ts")
        narrow = temporal.expanding_stats(narrow, "entropy", entity="image_id",
                                          ts="ts", stats=("mean", "count"))
        sampled = snap_text.where(
            F.crc32(F.concat("image_id", F.col("ts").cast("string"))) % 5 == 0
        ).groupBy("image_id", "ts").agg(F.max(F.length("caption")).alias("anchor_len"))
        narrow = asof.asof_join(narrow, sampled, entity="image_id", ts="ts",
                                strategy="window")
        narrow.write.format("noop").mode("overwrite").save()
        # image branch: decode + pixel stats + phash hamming window
        img = imgd.add_image_features(snap_img)
        img = imgd.phash_hamming_to_prev(img)
        img.write.format("noop").mode("overwrite").save()

    pipeline()  # warm-up (JVM + Python workers + codegen), untimed
    times = []
    for _ in range(args.runs):
        t0 = time.perf_counter()
        pipeline()
        times.append(time.perf_counter() - t0)
    med = sorted(times)[len(times) // 2]
    print(json.dumps({
        "cores": args.cores, "rows": n_rows, "runs": [round(t, 3) for t in times],
        "sec": round(med, 3), "rows_per_sec": round(n_rows / med, 1),
    }))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
