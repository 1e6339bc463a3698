"""``snapshot_features``: the paper's own job. Point-in-time ProFET
descriptor vectors over seeded image+caption snapshots.

Why: the Python/Arrow boundary and the two numpy kernels (caption
descriptors, image decode) do most of the work, and the default as-of
strategy exercises its plan-time probe and the pandas merge kernel.

Inputs vary hot-key skew (2% of entities hold ~30% of rows in one phash
cluster), caption length (3-40 words, plus ~1% poison rows ~100 chars
longer) and payload size (16 or 32 px images, PNG or PPM).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from profet_spark import fixtures, oracle_numpy
from profet_spark.functions import image_descriptors as imgd
from profet_spark.functions import text_descriptors as td
from profet_spark.operators import asof, temporal

from harness import Tracer, noop_sink, write_parquet
from workload import Workload

N_ENTITIES = 520
N_ROWS = 3_000  # fixed, so job time does not follow the seed's size
IMG_SIZES = (16, 32)
SAMPLE_ENTITIES = 16
RTOL, ATOL = 1e-9, 1e-12  # the descriptor goldens' tolerance

SNAP_SCHEMA = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
    ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
    ("phash", pa.int64()), ("ts", pa.timestamp("us"))])
UPD_SCHEMA = pa.schema([("image_id", pa.string()),
                        ("ts", pa.timestamp("us")), ("upd", pa.float64())])
IMG_NAMES = [n for n, _ in imgd.IMG_FEATURES]


def _ts_us(col: str = "ts"):
    # staged timestamps read back as TIMESTAMP_NTZ; the session zone is UTC
    return F.unix_micros(F.col(col).cast("timestamp"))


def _popcount(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64)
    return np.array([bin(int(v)).count("1") for v in x], dtype=np.int64)


class SnapshotFeatures(Workload):
    # the dedup, corpus and similarity layers are measured in this
    # workload's traced run: their chain is too slow to repeat every run
    companions = ("corpus_curation",)
    properties = {"rows": N_ROWS, "hot_entity_share": 0.02,
                  "hot_row_share": 0.30, "caption_words": "3-40",
                  "poison_share": 0.01, "img_px": list(IMG_SIZES)}

    def generate(self):
        self.snap = fixtures.make_fixture(
            n_entities=N_ENTITIES, seed=self.seed,
            img_sizes=IMG_SIZES).iloc[:N_ROWS]
        self.upd = fixtures.updates_fixture(n_entities=N_ENTITIES,
                                            seed=self.seed + 1)

    def stage(self, spark, root):
        self.snap_dir = os.path.join(root, "snapshots")
        self.upd_dir = os.path.join(root, "updates")
        write_parquet(self.snap, self.snap_dir, SNAP_SCHEMA)
        write_parquet(self.upd, self.upd_dir, UPD_SCHEMA, n_files=2)

    def reference(self):
        """Expected output rows for a seeded sample of entities, from the
        per-string numpy oracle, the per-image oracle and pandas."""
        snap = self.snap
        ids = sorted(snap["image_id"].unique())
        poison = snap.loc[snap["caption"].str.startswith("ZZZZPOISON"),
                          "image_id"]
        rng = np.random.default_rng(self.seed)
        pick = set(rng.choice(ids, SAMPLE_ENTITIES, replace=False))
        pick |= {ids[0]} | set(poison[:1])  # a hot and a poison entity
        self.sample_ids = sorted(pick)
        rows = (snap[snap["image_id"].isin(pick)]
                .sort_values(["image_id", "ts"]).reset_index(drop=True))
        ph = rows["phash"].to_numpy(np.int64)
        ent = rows["image_id"].to_numpy()
        first = np.r_[True, ent[1:] != ent[:-1]]
        ham = np.where(first, -1, _popcount(ph ^ np.roll(ph, 1)))
        upd = self.upd.sort_values("ts")
        matched = pd.merge_asof(rows[["image_id", "ts"]].sort_values("ts"),
                                upd, on="ts", by="image_id",
                                direction="backward")
        matched = matched.set_index(["image_id", "ts"])["upd"]
        self.expected = {}
        for i, r in rows.iterrows():
            ts_us = int(r["ts"].value // 1000)
            feats = oracle_numpy.all_features(r["caption"])
            img = imgd.compute_image_stats(r["bytes"], r["fmt"])
            u = matched.loc[(r["image_id"], r["ts"])]
            self.expected[(r["image_id"], ts_us)] = {
                "features": np.array([feats[n] for n in td.FEATURE_NAMES]),
                "image": [img[n] for n in IMG_NAMES],
                "ham": None if ham[i] < 0 else int(ham[i]),
                "upd": None if pd.isna(u) else float(u),
            }
        self.n_rows = len(snap)

    def _stages(self, spark, tracer):
        snap = spark.read.parquet(self.snap_dir)
        upd = spark.read.parquet(self.upd_dir)
        out = [("sources", snap)]
        df = td.add_caption_features_packed(snap)
        out.append(("text_descriptors", df))
        df = imgd.phash_hamming_to_prev(imgd.add_image_features(df))
        out.append(("image_descriptors", df))
        with tracer.span("asof.plan"):
            df = asof.asof_join(df, upd, entity="image_id", ts="ts")
        out.append(("asof", df))
        with tracer.span("temporal.plan"):
            df = temporal.ffill(df, ["upd"], entity="image_id", ts="ts")
        out.append(("temporal", df))
        return out

    def run_job(self, spark, tracer):
        out = self._stages(spark, tracer)[-1][1]
        picked = F.col("image_id").isin(self.sample_ids)
        row = noop_sink(
            out, F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(picked, F.struct(
                "image_id", _ts_us().alias("ts_us"), "features",
                *IMG_NAMES, "phash_hamming_prev", "upd",
                "upd_ffill"))).alias("sample"))
        return int(row["n"]), self._check(row)

    def _check(self, row) -> list[str]:
        bad = []
        if row["n"] != self.n_rows:
            bad.append(f"rows {row['n']} != {self.n_rows}")
        got = {(r["image_id"], r["ts_us"]): r for r in row["sample"]}
        if set(got) != set(self.expected):
            bad.append(f"sample keys {len(got)} != {len(self.expected)}")
            return bad
        for key, want in self.expected.items():
            r = got[key]
            if not np.allclose(np.asarray(r["features"]), want["features"],
                               rtol=RTOL, atol=ATOL):
                bad.append(f"features differ at {key}")
            if [r[n] for n in IMG_NAMES] != want["image"]:
                bad.append(f"image stats differ at {key}")
            if r["phash_hamming_prev"] != want["ham"]:
                bad.append(f"phash hamming differs at {key}")
            for col in ("upd", "upd_ffill"):
                if r[col] != want["upd"]:
                    bad.append(f"{col} differs at {key}")
        return bad[:5]

    def prefix_chains(self, spark):
        return [self._stages(spark, Tracer(False))]

    def kernel_inputs(self):
        return {"captions": self.snap["caption"],
                "images": list(zip(self.snap["bytes"], self.snap["fmt"]))}
