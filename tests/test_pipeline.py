"""End-to-end engine pipeline on the native fixture (SURVEY.md §5.2-2/3):
image decode through Spark, zero-leakage property with poison rows,
caption byte-equality, and phash temporal ops."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from profet_spark import fixtures
from profet_spark.functions import image_descriptors as imgd
from profet_spark.functions import text_descriptors as td
from profet_spark.operators import asof, temporal

FIXTURE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("ts", T.TimestampType()),
])


@pytest.fixture(scope="module")
def snap(spark):
    pdf = fixtures.make_fixture(n_entities=60)
    return spark.createDataFrame(pdf, schema=FIXTURE_SCHEMA), pdf


def test_image_features_match_oracle(spark, snap):
    df, pdf = snap
    out = imgd.add_image_features(df).toPandas()
    assert "bytes" not in out.columns  # pruned before any shuffle
    merged = out.set_index(["image_id", "ts"])
    hot = set(fixtures.hot_entity_ids(60))  # synthetic shared-hash entities
    for _, r in pdf.sample(30, random_state=0).iterrows():
        want = imgd.compute_image_stats(r.bytes, r.fmt)
        got = merged.loc[(r.image_id, r.ts)]
        assert bool(got["decode_ok"])
        if r.image_id not in hot:
            assert got["phash_check"] == r.phash
        for k in ("lum_mean", "lum_var", "edge_density", "rowprof_max", "rowprof_mean"):
            assert np.isclose(got[k], want[k], rtol=1e-9), k


def test_image_stats_codec_errors_vs_bugs(monkeypatch, snap):
    """Malformed payloads map to decode_ok=False; an injected PROGRAMMING
    bug in the decoder must raise, not silently yield zero-features."""
    _, pdf = snap
    r = pdf.iloc[0]
    # corrupt payload -> specific codec error -> decode_ok=False
    bad = imgd.compute_image_stats(b"\x00\x01garbage", r.fmt)
    assert bad["decode_ok"] is False and bad["lum_mean"] == 0.0
    # PNG with IDAT but no IHDR: must map to decode_ok=False (ValueError),
    # not escape as a TypeError from a None width/height
    import struct
    import zlib
    sig = b"\x89PNG\r\n\x1a\n"
    idat = zlib.compress(b"\x00\x01\x02\x03")
    chunk = (struct.pack(">I", len(idat)) + b"IDAT" + idat
             + struct.pack(">I", zlib.crc32(b"IDAT" + idat) & 0xFFFFFFFF))
    iend = struct.pack(">I", 0) + b"IEND" + struct.pack(">I", zlib.crc32(b"IEND") & 0xFFFFFFFF)
    headless = imgd.compute_image_stats(sig + chunk + iend, "png")
    assert headless["decode_ok"] is False
    # injected decoder bug -> raises through
    from profet_spark.functions import image_descriptors as mod

    def buggy_decode(data, fmt):
        raise TypeError("injected bug")

    monkeypatch.setattr(mod, "decode", buggy_decode)
    with pytest.raises(TypeError, match="injected bug"):
        mod.compute_image_stats(r.bytes, r.fmt)


def test_caption_byte_equality(spark, snap):
    df, pdf = snap
    back = df.select("image_id", "ts", "caption").toPandas()
    m = back.merge(pdf[["image_id", "ts", "caption"]], on=["image_id", "ts"], suffixes=("_spark", "_src"))
    assert (m["caption_spark"] == m["caption_src"]).all()


def test_phash_hamming(spark, snap):
    df, pdf = snap
    out = imgd.phash_hamming_to_prev(df.select("image_id", "ts", "phash")).toPandas()
    g = pdf.sort_values(["image_id", "ts"]).groupby("image_id")["phash"]
    want = []
    for _, s in g:
        prev = None
        for v in s:
            want.append(np.nan if prev is None else bin((v ^ prev) & (2**64 - 1)).count("1"))
            prev = v
    got = out.sort_values(["image_id", "ts"])["phash_hamming_prev"].to_numpy(dtype=float)
    np.testing.assert_array_equal(np.nan_to_num(got, nan=-1), np.nan_to_num(np.array(want), nan=-1))


def test_phash_nibbles(spark, snap):
    df, pdf = snap
    row = imgd.phash_nibbles(df).select("phash", "nibbles").first()
    ph = row.phash & (2**64 - 1)
    want = [(ph >> (4 * i)) & 15 for i in range(16)]
    assert list(row.nibbles) == want


def test_phash_ngrams_vs_python(spark, snap):
    """A3 image variant: 3-gram spectrum over the nibble stream matches a
    pure-Python reference on real (signed) fixture phashes, msb nibbles
    included; n=1 degenerates to the nibble stream itself."""
    df, pdf = snap
    got = (imgd.phash_ngrams(df.select("image_id", "ts", "phash"), n=3)
           .toPandas())
    want = []
    for _, r in pdf.iterrows():
        ph = int(r.phash) & (2 ** 64 - 1)
        nib = [(ph >> (4 * i)) & 15 for i in range(16)]
        for p in range(14):
            want.append((r.image_id, p,
                         nib[p] + nib[p + 1] * 16 + nib[p + 2] * 256))
    got_set = sorted(map(tuple, got[["image_id", "pos", "gram"]].values))
    assert got_set == sorted(want)
    # n=1: gram == nibble, 16 positions
    one = imgd.phash_ngrams(df.limit(1).select("phash"), n=1).toPandas()
    ph = int(one.phash.iloc[0]) & (2 ** 64 - 1)
    assert sorted(zip(one.pos, one.gram)) == \
        [(i, (ph >> (4 * i)) & 15) for i in range(16)]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="n must be"):
        imgd.phash_ngrams(df, n=0)


def test_zero_leakage_full_pipeline(spark, snap):
    """SURVEY.md §5.2-2: every feature at (e, t) must be identical when all
    rows with ts > t are dropped. Poison rows in the fixture make any
    leak visible."""
    df, pdf = snap
    upd = spark.createDataFrame(fixtures.updates_fixture(n_entities=60))

    def featurize(d):
        out = td.add_caption_features(d.select("image_id", "ts", "caption"), flatten=True)
        out = asof.asof_join(out, upd, entity="image_id", ts="ts", strategy="window")
        out = temporal.ffill(out, ["upd"], entity="image_id", ts="ts")
        out = temporal.sessionize(out, gap_seconds=7200, entity="image_id", ts="ts")
        out = temporal.expanding_stats(out, "entropy", entity="image_id", ts="ts",
                                       stats=("mean", "max", "count"))
        return out.drop("caption")

    full = featurize(df).toPandas()
    t_cut = pdf["ts"].quantile(0.6)
    cut = featurize(df.where(F.col("ts") <= F.lit(t_cut))).toPandas()
    full_cut = full[full.ts <= t_cut]
    key = ["image_id", "ts"]
    a = full_cut.sort_values(key).reset_index(drop=True)
    b = cut.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b) and len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_like=True)


def test_poison_rows_present(snap):
    _, pdf = snap
    assert pdf["caption"].str.contains("ZZZZPOISON").any(), "fixture lost its poison rows"


def test_raw_corpus_to_training_set(spark, tmp_path):
    """End-to-end raw-corpus story: JSONL landing dir -> explicit-schema
    ingest with quarantine -> near-dup removal (keep-one-canonical) ->
    quality features -> sequence packing -> deterministic split. Pins the
    cross-operator schema contract the per-operator tests can't."""
    import json as _json

    from profet_spark.functions import textstats
    from profet_spark.operators import corpus, dedup
    from profet_spark.sources import ingest

    topics = ["distributed joins", "watermark semantics", "parquet footers",
              "broadcast variables", "shuffle partitions", "arrow batches",
              "skew salting", "window frames", "checkpoint lineage",
              "adaptive execution"]
    lines = []
    for i in range(20):
        if i < 10:  # ten genuinely distinct docs
            t = topics[i]
            text = (f"document number {i} is entirely about {t} and nothing "
                    f"else, covering {t} basics, {t} pitfalls, and several "
                    f"worked {t} examples in depth for practitioners")
        else:       # ten near-duplicates of doc (i-10): one word changed
            t = topics[i - 10]
            text = (f"document number {i - 10} is entirely about {t} and nothing "
                    f"else, covering {t} basics, {t} pitfalls, and several "
                    f"worked {t} examples in depth for beginners")
        lines.append(_json.dumps({"doc_id": i, "text": text, "lang": "en",
                                  "n_chars": len(text)}))
    lines.insert(5, "{{{ not json")
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "part0.jsonl").write_text("\n".join(lines) + "\n")

    clean, bad = ingest.split_corrupt(
        ingest.ingest_jsonl(spark, str(landing)))
    assert bad.count() == 1 and clean.count() == 20

    kept = dedup.drop_near_duplicates(clean, threshold=0.5)
    kept_ids = sorted(r.doc_id for r in kept.select("doc_id").collect())
    # each near-dup pair (i, i+10) collapsed to its min id; distinct stay
    assert kept_ids == list(range(10))
    n_kept = len(kept_ids)

    scored = textstats.add_quality_features(kept)
    packed = corpus.pack_chunks(scored.select("doc_id", "n_chars"),
                                "n_chars", capacity=4096)
    split = corpus.hash_split(scored, {"train": 0.8, "val": 0.1,
                                       "test": 0.1})
    out = (split.select("doc_id", "split")
           .join(packed, "doc_id")
           .join(scored.select("doc_id", "quality_score"), "doc_id"))
    rows = out.collect()
    assert len(rows) == n_kept
    assert {r.split for r in rows} <= {"train", "val", "test"}
    # every kept doc landed in exactly one chunk with a valid offset
    assert all(r.chunk_id >= 0 for r in rows)


def test_image_corpus_to_batch_plan(spark, tmp_path):
    """End-to-end image-training story (the task's image axis): snapshot
    table -> two-tier curation gate (drop mode) -> aspect-bucketed
    fixed-size batches + shared resize targets -> per-epoch augmentation
    plan. Pins the cross-operator schema contract: the batch tier runs
    directly on the curation gate's survivors."""
    from profet_spark import fixtures
    from profet_spark.functions import image_descriptors as imgd
    from profet_spark.operators import batching

    pdf = fixtures.make_fixture(n_entities=40, img_sizes=(16, 32))
    root = tmp_path / "root"
    root.mkdir()
    fixtures.stage_parquet(spark, pdf, str(root / "images.parquet"))
    snaps = spark.read.parquet(str(root / "images.parquet"))

    kept = imgd.curate_images(snaps, min_w=8, min_h=8, mode="drop")
    n_kept = kept.count()
    assert 0 < n_kept <= len(pdf)  # the fixture plants decode poisons

    plan = batching.with_resize_targets(batching.plan_aspect_batches(
        kept.select("image_id", "ts", "w", "h"), batch_size=4, n_shards=2))
    rows = plan.collect()
    assert len(rows) == n_kept
    targets = batching.bucket_resize_targets()
    for r in rows:
        assert 0 <= r.batch_pos < 4
        assert (r.target_w, r.target_h) == targets[r.aspect_bucket]

    aug = batching.plan_augmentations(plan, crop_w=8, crop_h=8,
                                      epochs=2).collect()
    assert len(aug) == 2 * n_kept
    for r in aug:
        assert 0 <= r.crop_x <= max(r.w - 8, 0)
        assert 0 <= r.crop_y <= max(r.h - 8, 0)
        assert r.flip in (0, 1)


def test_image_slice_goldens_reproducible():
    """The committed BENCH/fixtures/image_slice_golden.parquet must be
    re-derivable from the seeded fixture + raw pixel arrays (no codec
    in the freeze path) — a drifted fixture or stats change has to show
    up HERE, not as a silent driver hash mismatch."""
    import importlib.util
    import os

    import pandas as pd

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "freeze_image_goldens",
        os.path.join(root, "BENCH", "freeze_image_goldens.py"))
    frz = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(frz)
    want = frz.build()
    got = pd.read_parquet(
        os.path.join(root, "BENCH", "fixtures",
                     "image_slice_golden.parquet"))
    assert len(got) == len(want) == 503
    for c in want.columns:
        a = got[c].to_numpy()
        b = want[c].to_numpy()
        assert (a == b).all(), f"golden column {c} drifted"
    # the resize-slice goldens (second frozen table) pin the same way
    rwant = frz.build_resize()
    rgot = pd.read_parquet(
        os.path.join(root, "BENCH", "fixtures",
                     "resize_slice_golden.parquet"))
    assert len(rgot) == len(rwant) == 148
    for c in rwant.columns:
        assert (rgot[c].to_numpy() == rwant[c].to_numpy()).all(), \
            f"resize golden column {c} drifted"
    # ... and the curation-gate goldens (third frozen table)
    cwant = frz.build_curate()
    cgot = pd.read_parquet(
        os.path.join(root, "BENCH", "fixtures",
                     "curate_slice_golden.parquet"))
    assert len(cgot) == len(cwant) == 378
    for c in cwant.columns:
        assert (cgot[c].to_numpy() == cwant[c].to_numpy()).all(), \
            f"curate golden column {c} drifted"
