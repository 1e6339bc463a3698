"""``feature_store_refresh``: incremental materialization of caption
descriptors into a day x bucket partitioned feature store.

Why: writes beside reads. Each refresh is short and commit-bound, so
per-call set-up, Python worker start and small files dominate; a
read-side gain that adds per-call cost shows here.

The source is the ``snapshot_features`` snapshots (same seed, same rows;
image bytes dropped, since the store holds caption descriptors) split by
UTC day of ``ts``. Day 0 bootstraps the store, day 1 is the warm-up
refresh, and days 2..``1 + REFRESHES`` are the measured refreshes, one per
job, so every run of a seed applies the same deltas. A day's rows that lie
within ``LATE_WINDOW`` before that day's newest row arrive one day late,
with the next day's delta; that newest row still arrives on time and sets
the store's watermark, so the late rows land inside the next refresh's
late window. Delta sizes and the late share follow from the fixture, and
both are recorded with the result.

Its job count is fixed by the deltas, too few for a steady ``job_s``, so
it is not timed in runs of its own: as a companion, the bootstrap and the
warm-up refresh run untimed and the measured refreshes and their layers
ride along in every traced run of ``event_pit_matrix``.
``--workload feature_store_refresh`` runs it alone.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from profet_spark import fixtures
from profet_spark.functions import text_descriptors as td
from profet_spark.sources import partitioned

import wl_snapshot
from harness import Tracer, write_parquet
from workload import Workload

REFRESHES = 6
LATE_WINDOW = dt.timedelta(hours=2)
RTOL, ATOL = 1e-9, 1e-12
DAY_US = 86_400_000_000

SRC_SCHEMA = pa.schema([("image_id", pa.string()), ("ts", pa.timestamp("us")),
                        ("caption", pa.string())])


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


class FeatureStoreRefresh(Workload):
    # exactly the measured refreshes; job count does not follow the clock
    min_jobs = max_jobs = companion_jobs = REFRESHES
    companion_layers = ("partitioned.",)

    def generate(self):
        snap = wl_snapshot.SnapshotFeatures(self.seed)
        snap.generate()
        src = (snap.snap[["image_id", "ts", "caption"]].sort_values(
            ["ts", "image_id"]).reset_index(drop=True))
        ts_us = src["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        base_us = np.datetime64(fixtures.BASE_TS, "us").astype(np.int64)
        day = (ts_us - base_us) // DAY_US
        late_us = LATE_WINDOW.total_seconds() * 1e6
        self.source, self.ts_us = src, ts_us
        self.bootstrap = np.flatnonzero(day == 0)
        # deliveries[k] = row positions arriving with day k + 1's delta;
        # room for the traced run's extra refreshes
        held = np.array([], dtype=np.int64)
        self.deliveries = []
        for d in range(1, 2 + 3 * REFRESHES):
            rows = np.flatnonzero(day == d)
            newest = ts_us[rows].max() if len(rows) else 0
            late = rows[(ts_us[rows] >= newest - late_us)
                        & (ts_us[rows] < newest)]
            self.deliveries.append(np.concatenate(
                [held, np.setdiff1d(rows, late)]))
            held = late
        measured = self.deliveries[1:1 + REFRESHES]
        n_late = sum(len(np.intersect1d(r, np.flatnonzero(day < d + 2)))
                     for d, r in enumerate(measured))
        n_rows = sum(len(r) for r in measured)
        self.properties = {
            "bootstrap_rows": len(self.bootstrap),
            "delta_rows": [len(r) for r in measured],
            "late_share": round(n_late / n_rows, 4),
            "late_window_h": LATE_WINDOW.total_seconds() / 3600,
            "caption_words": "3-40"}

    def stage(self, spark, root):
        self.src_dir = os.path.join(root, "source")
        self.store_dir = os.path.join(root, "store")
        write_parquet(self.source.iloc[self.bootstrap], self.src_dir,
                      SRC_SCHEMA)
        self.applied = 0
        self.delivered = set(self.bootstrap.tolist())
        self.refresh_times = []
        self.last_stats = {}

    def warm_up(self, spark, tracer):
        """Bootstrap the store from day 0, then refresh with day 1."""
        partitioned.materialize_incremental(
            spark, spark.read.parquet(self.src_dir), self.store_dir,
            compute=td.add_caption_features_packed)
        self.before_job(spark)
        self.run_job(spark, tracer)
        self.refresh_times = []  # the percentiles cover measured refreshes

    def prepare_companion(self, spark):
        self.warm_up(spark, Tracer(False))

    def reference(self):
        """Full recompute of every source row's descriptor vector, in
        process, plus each refresh's expected replaced-row count."""
        caps = self.source["caption"]
        self.expected = np.vstack([
            td.compute_features_batch(caps.iloc[i:i + 1024]
                                      .reset_index(drop=True))
            [td.FEATURE_NAMES].to_numpy()
            for i in range(0, len(caps), 1024)])
        late_us = LATE_WINDOW.total_seconds() * 1e6
        seen = self.bootstrap
        wm = int(self.ts_us[seen].max())
        self.expect_replaced, self.emitted = [], []
        for rows in self.deliveries:
            cutoff = wm - late_us
            self.expect_replaced.append(int((self.ts_us[seen] >= cutoff).sum()))
            seen = np.concatenate([seen, rows])
            self.emitted.append(seen[self.ts_us[seen] >= cutoff])
            wm = max(wm, int(self.ts_us[rows].max()))

    def before_job(self, spark):
        """Stage the next day's delta into the source directory."""
        k = self.applied
        if k >= len(self.deliveries):
            raise RuntimeError("feature_store_refresh: deltas exhausted")
        pq.write_table(pa.Table.from_pandas(
            self.source.iloc[self.deliveries[k]], schema=SRC_SCHEMA,
            preserve_index=False),
            os.path.join(self.src_dir, f"delta-{k:05d}.parquet"))

    def run_job(self, spark, tracer):
        k = self.applied
        rows = self.deliveries[k]
        t0 = time.perf_counter()
        with tracer.span("partitioned.refresh"):
            stats = partitioned.materialize_incremental(
                spark, spark.read.parquet(self.src_dir), self.store_dir,
                compute=td.add_caption_features_packed,
                late_window=LATE_WINDOW)
        self.refresh_times.append(time.perf_counter() - t0)
        self.applied += 1
        self.delivered.update(rows.tolist())
        self.last_stats = stats
        bad = []
        if stats["rows_replaced"] != self.expect_replaced[k]:
            bad.append(f"delta {k}: replaced {stats['rows_replaced']} "
                       f"!= {self.expect_replaced[k]}")
        return len(rows), bad

    def finish(self, spark):
        """The store read back equals the full recompute over every
        delivered row."""
        got = (partitioned.scan_pruned(spark, self.store_dir)
               .select("image_id",
                       F.unix_micros(F.col("ts").cast("timestamp"))
                       .alias("ts_us"), "features")
               .toPandas().sort_values(["ts_us", "image_id"]))
        want_rows = np.array(sorted(self.delivered))
        want = self.source.iloc[want_rows]
        want_keys = list(zip(self.ts_us[want_rows], want["image_id"]))
        order = sorted(range(len(want_keys)), key=want_keys.__getitem__)
        if list(zip(got["ts_us"], got["image_id"])) != \
                [want_keys[i] for i in order]:
            return [f"store keys differ: {len(got)} rows vs "
                    f"{len(want_keys)} delivered"]
        if not np.allclose(np.vstack(got["features"].to_numpy()),
                           self.expected[want_rows[order]],
                           rtol=RTOL, atol=ATOL):
            return ["store features differ from the full recompute"]
        return []

    def kernel_inputs(self):
        rows = self.emitted[max(0, self.applied - 1)]
        return {"captions": self.source["caption"].iloc[rows]}

    def trace_extras(self, spark, tracer):
        t0 = time.perf_counter()
        with tracer.span("partitioned.watermark"):
            partitioned.high_watermark(spark, self.store_dir)
        return {
            "partitioned.watermark_s": time.perf_counter() - t0,
            "partitioned.rows_replaced": self.last_stats["rows_replaced"],
            "partitioned.partitions_rewritten":
                self.last_stats["partitions_rewritten"],
            "partitioned.refresh_p90_s": float(
                np.percentile(self.refresh_times, 90)),
            "partitioned.store_bytes_per_row":
                _dir_bytes(self.store_dir) / len(self.delivered),
        }
