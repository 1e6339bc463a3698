"""Image-side descriptors (SURVEY.md §2.4 A8 image analogs, §2.5 W1, §2.7 C8).

The ProFET "sequence" for the image payload is the pixel-statistic
stream: per-row luminance means form a 1-D numeric sequence that gets the
same windowed-profile treatment as the caption's property profile
(SURVEY.md §1.2). Decode runs in a scalar Arrow UDF (U3) that receives
only the ``bytes`` and ``fmt`` columns, one Arrow batch at a time, so
Arrow batch size bounds memory when multi-KB ``bytes`` values flow
through (SURVEY.md §4.3) and no other column leaves the JVM. Each image
decodes on its own; the stats and hashes then run once per group of
same-shape images (:func:`compute_image_stats_batch`), with
:func:`compute_image_stats` kept as the per-image reference. Grouping
pays when a batch holds many images of one shape (a corpus stored at a
few canonical sizes); with every shape distinct each group is one image.

phash ops (C8) stay JVM-side: nibble extraction and Hamming distance to
the previous snapshot are pure built-in bit expressions.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from profet_spark.imaging import average_hash, decode, dhash, luminance, phash_dct

IMG_FEATURES = [
    ("lum_mean", T.DoubleType()),
    ("lum_var", T.DoubleType()),
    ("lum_min", T.DoubleType()),
    ("lum_max", T.DoubleType()),
    ("edge_density", T.DoubleType()),
    ("rowprof_max", T.DoubleType()),
    ("rowprof_min", T.DoubleType()),
    ("rowprof_mean", T.DoubleType()),
    ("phash_check", T.LongType()),
    ("phash_dct", T.LongType()),
    ("dhash", T.LongType()),
    ("decode_ok", T.BooleanType()),
]

_INT_FEATURES = {"phash_check", "phash_dct", "dhash"}

_PROFILE_WINDOW = 5


def _decode_or_none(data, fmt):
    """Decoded ``uint8[h, w, 3]`` array, or None for a malformed or
    unsupported payload (the ``decode_ok=False`` row)."""
    import struct
    import zlib
    try:
        if data is None:
            # a NULL bytes cell is a missing payload, not a programming
            # bug: map it to the decode-failure row like any corruption
            # (bytes(None) would raise an uncaught TypeError and kill the
            # whole stage)
            raise ValueError("NULL image bytes")
        return decode(bytes(data), fmt)
    except (NotImplementedError, ValueError, zlib.error, struct.error):
        return None


def compute_image_stats(data: bytes, fmt: str) -> dict:
    """Pixel-stat vector for one image. The oracle path for tests.

    Only the specific codec failure modes a malformed/unsupported payload
    can produce are mapped to decode_ok=False; a programming bug in the
    decoder raises instead of silently yielding zero-features."""
    arr = _decode_or_none(data, fmt)
    if arr is None:
        return {n: (False if n == "decode_ok" else (0 if n in _INT_FEATURES else 0.0))
                for n, _ in IMG_FEATURES}
    lum = luminance(arr)
    # horizontal gradient magnitude as edge density
    edges = np.abs(np.diff(lum, axis=1)).mean() if lum.shape[1] > 1 else 0.0
    row_means = lum.mean(axis=1)
    w = _PROFILE_WINDOW
    if len(row_means) >= w:
        p = len(row_means) - w + 1
        prof = np.zeros(p)
        for k in range(w):  # sequential summation convention (see text UDF)
            prof += row_means[k : k + p]
        prof /= w
        pmax, pmin, pmean = float(prof.max()), float(prof.min()), float(prof.mean())
    else:
        pmax = pmin = pmean = 0.0
    return {
        "lum_mean": float(lum.mean()),
        "lum_var": float(lum.var()),
        "lum_min": float(lum.min()),
        "lum_max": float(lum.max()),
        "edge_density": float(edges),
        "rowprof_max": pmax,
        "rowprof_min": pmin,
        "rowprof_mean": pmean,
        "phash_check": average_hash(arr),
        "phash_dct": phash_dct(arr),
        "dhash": dhash(arr),
        "decode_ok": True,
    }


def _stats_same_shape(arr: np.ndarray) -> dict[str, np.ndarray]:
    """Every :data:`IMG_FEATURES` column but ``decode_ok`` for a stack of
    same-shape images ``uint8[n, h, w, 3]``: the arithmetic of
    :func:`compute_image_stats` with one leading image axis, each reduction
    over the same contiguous run of values in the same order, so every
    value is identical to the per-image path. The hashes are the
    :mod:`profet_spark.imaging` ones, which take the stack as is."""
    n, h, w, _ = arr.shape
    lum = luminance(arr)
    flat = lum.reshape(n, h * w)
    out = {"lum_mean": flat.mean(axis=1), "lum_var": flat.var(axis=1),
           "lum_min": flat.min(axis=1), "lum_max": flat.max(axis=1)}
    if w > 1:
        out["edge_density"] = np.abs(np.diff(lum, axis=2)).reshape(n, -1).mean(axis=1)
    else:
        out["edge_density"] = np.zeros(n)
    row_means = lum.mean(axis=2)
    k = _PROFILE_WINDOW
    if h >= k:
        p = h - k + 1
        prof = np.zeros((n, p))
        for j in range(k):  # the same sequential adds as the per-image path
            prof += row_means[:, j : j + p]
        prof /= k
        out["rowprof_max"], out["rowprof_min"] = prof.max(axis=1), prof.min(axis=1)
        out["rowprof_mean"] = prof.mean(axis=1)
    else:
        for name in ("rowprof_max", "rowprof_min", "rowprof_mean"):
            out[name] = np.zeros(n)
    out["phash_check"] = average_hash(arr)
    out["phash_dct"] = phash_dct(arr)
    out["dhash"] = dhash(arr)
    return out


def compute_image_stats_batch(datas, fmts) -> dict[str, np.ndarray]:
    """:func:`compute_image_stats` for a batch, as one array per
    :data:`IMG_FEATURES` column. Each payload decodes on its own; the
    stats and hashes then run once per group of same-shape images.
    Values equal the per-image path exactly (tests/test_imaging.py)."""
    arrs = [_decode_or_none(b, f) for b, f in zip(datas, fmts)]
    n = len(arrs)
    out = {name: np.zeros(n, dtype=np.int64 if name in _INT_FEATURES else np.float64)
           for name, _ in IMG_FEATURES}
    out["decode_ok"] = np.array([a is not None for a in arrs], dtype=bool)
    groups: dict[tuple[int, int], list[int]] = {}
    for i, a in enumerate(arrs):
        if a is not None:
            groups.setdefault(a.shape[:2], []).append(i)
    for idx in groups.values():
        stats = _stats_same_shape(np.stack([arrs[i] for i in idx]))
        for name, vals in stats.items():
            out[name][idx] = vals
    return out


def image_stats_udf():
    """``arrow_udf(bytes, fmt) -> struct<IMG_FEATURES>`` over
    :func:`compute_image_stats_batch`. The DataFrame API and the SQL
    registry both call this."""
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    names = [n for n, _ in IMG_FEATURES]
    schema = T.StructType([T.StructField(n, t, True) for n, t in IMG_FEATURES])

    @arrow_udf(schema, ArrowUDFType.SCALAR)
    def image_stats(data, fmt):
        stats = compute_image_stats_batch(data.to_pylist(), fmt.to_pylist())
        return pa.StructArray.from_arrays([stats[n] for n in names], names)

    return image_stats


def add_image_features(
    df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt", drop_bytes: bool = True
) -> DataFrame:
    """Decode + pixel stats through one scalar Arrow UDF that reads only
    ``bytes`` and ``fmt``; every other column stays in the JVM. The
    :data:`IMG_FEATURES` columns are appended after the input columns.
    ``drop_bytes`` prunes the binary column from the output so downstream
    stages never shuffle it."""
    keep = [c for c in df.columns if not (drop_bytes and c == bytes_col)]
    stats = image_stats_udf()(F.col(bytes_col), F.col(fmt_col)).alias("__img")
    return df.select(*keep, stats).select(
        *keep, *[F.col("__img")[n].alias(n) for n, _ in IMG_FEATURES])


def phash_nibbles(df: DataFrame, phash_col: str = "phash", out_col: str = "nibbles") -> DataFrame:
    """C8: 16-nibble stream of the 64-bit phash, JVM-side bit ops only."""
    nibs = [
        F.shiftrightunsigned(F.col(phash_col), 4 * i).bitwiseAND(F.lit(15)).cast("int")
        for i in range(16)
    ]
    return df.withColumn(out_col, F.array(*nibs))


def phash_ngrams(df: DataFrame, phash_col: str = "phash",
                 n: int = 3) -> DataFrame:
    """A3 image variant: n-gram stream over the 16-nibble decomposition
    of a 64-bit perceptual hash (SURVEY §2.4 A3 — the k-mer spectrum
    machinery applied to the phash "sequence" instead of caption text).

    Nibble index i is the nibble at bit shift ``4*i`` (lsb-first, the
    :func:`phash_nibbles` convention); the gram at position p packs
    nibbles p..p+n-1 as ``sum(nib(p+j) * 16^j)`` — a pure codegen'd
    shift/AND/multiply chain, zero shuffle, zero Python, one output row
    per (row, position) via a constant-size explode.

    Portability: ``(x >> 4i) & 15`` uses the ARITHMETIC right shift in
    both engines (sign-fill enters above the masked low nibble, so the
    extracted value equals the unsigned nibble for every i, any sign) —
    the same two's-complement parity contract W11 pins for XOR/popcount.

    Downstream: ``groupBy('gram').count()`` is the corpus spectrum;
    per-row pivots reproduce ProFET's per-sequence k-mer count vector.
    """
    if not 1 <= n <= 16:
        raise ValueError(f"phash_ngrams: n must be in 1..16, got {n}")

    def nib(i: int) -> F.Column:
        return F.shiftright(F.col(phash_col), 4 * i).bitwiseAND(F.lit(15))

    entries = [
        F.struct(
            F.lit(p).cast("int").alias("pos"),
            sum((nib(p + j) * F.lit(16 ** j) for j in range(1, n)),
                start=nib(p)).cast("int").alias("gram"))
        for p in range(16 - n + 1)
    ]
    return (df.select("*", F.explode(F.array(*entries)).alias("_pg"))
            .withColumn("pos", F.col("_pg.pos"))
            .withColumn("gram", F.col("_pg.gram"))
            .drop("_pg"))


def phash_hamming_to_prev(
    df: DataFrame, entity: str = "image_id", ts: str = "ts", phash_col: str = "phash",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """C8+W3: Hamming distance of phash to the previous snapshot —
    bit_count(xor) over a lag window, all built-in."""
    w = Window.partitionBy(entity).orderBy(ts, *(tiebreak or []))
    prev = F.lag(phash_col).over(w)
    return df.withColumn(
        "phash_hamming_prev",
        F.when(prev.isNull(), F.lit(None)).otherwise(
            F.bit_count(F.col(phash_col).bitwiseXOR(prev))
        ),
    )


def curate_images(df: DataFrame, *, bytes_col: str = "bytes",
                  fmt_col: str = "fmt", w_col: str = "w", h_col: str = "h",
                  min_w: int = 64, min_h: int = 64, max_aspect: float = 4.0,
                  fmts: tuple[str, ...] = ("png", "ppm"),
                  lum_bounds: tuple[float, float] = (5.0, 250.0),
                  min_lum_var: float = 1.0, min_edge_density: float = 0.0,
                  mode: str = "flag") -> DataFrame:
    """Image curation gate for training corpora — two tiers, decode last.

    Tier 1 (metadata): resolution floor, aspect-ratio cap, format
    allowlist — plain Catalyst predicates over scalar columns, pushed to
    the parquet scan. **Bytes of rows failing tier 1 are never decoded**
    (the filter runs before the image UDF), which is the property that
    matters at 10^12 images: the binary column is only read for rows
    that survive the cheap scalar gate.

    Tier 2 (pixel): ``decode_ok`` plus luminance-mean bounds (over-/
    under-exposed), a variance floor (flat/blank detector), and an
    edge-density floor (blur proxy) over :func:`add_image_features` on
    the tier-1 survivors only.

    ``mode='flag'`` returns every input row with the pixel-stat columns
    (NULL for rows tier 1 rejected — they were never decoded), plus
    ``meta_ok`` / ``pixel_ok`` / ``keep_image`` and a first-failing
    ``reject_reason`` in {meta_small, meta_aspect, meta_fmt, decode,
    lum_bounds, flat, blur}. The binary column is dropped from the
    output so downstream stages never shuffle payload bytes.
    ``mode='drop'`` returns only keepers with the ORIGINAL columns
    (bytes preserved — the curated corpus is the product).

    Reference parity: ProFET's validity/length gates F1/F2 transplanted
    to the image payload ([R] FastaFilter.py ~L20-90 drops non-standard
    letters and short sequences before any feature work; the same
    cheap-gate-before-expensive-kernel shape).
    """
    if mode not in ("flag", "drop"):
        raise ValueError(
            f"curate_images: mode must be 'flag' or 'drop', got {mode!r}")
    if not fmts:
        raise ValueError("curate_images: fmts allowlist must be non-empty")
    lo, hi = lum_bounds
    w, h = F.col(w_col).cast("double"), F.col(h_col).cast("double")
    aspect = F.greatest(w, h) / F.least(w, h)
    meta_small = (F.col(w_col) < min_w) | (F.col(h_col) < min_h)
    meta_aspect = (F.least(w, h) <= 0) | (aspect > max_aspect)
    meta_fmt = ~F.col(fmt_col).isin(*fmts)
    meta_ok = ~(meta_small | meta_aspect | meta_fmt)

    survivors = add_image_features(df.where(meta_ok), bytes_col=bytes_col,
                                   fmt_col=fmt_col,
                                   drop_bytes=(mode == "flag"))
    pixel_bad_reason = (
        F.when(~F.col("decode_ok"), F.lit("decode"))
        .when((F.col("lum_mean") < lo) | (F.col("lum_mean") > hi),
              F.lit("lum_bounds"))
        .when(F.col("lum_var") < min_lum_var, F.lit("flat"))
        .when(F.col("edge_density") < min_edge_density, F.lit("blur")))
    if mode == "drop":
        return (survivors.where(pixel_bad_reason.isNull())
                .select(*df.columns))

    flagged_ok = survivors.select(
        "*", F.lit(True).alias("meta_ok"),
        pixel_bad_reason.isNull().alias("pixel_ok"),
        pixel_bad_reason.alias("reject_reason"))
    feat_names = [n for n, _ in IMG_FEATURES]
    meta_reason = (F.when(meta_small, F.lit("meta_small"))
                   .when(meta_aspect, F.lit("meta_aspect"))
                   .otherwise(F.lit("meta_fmt")))
    rejected = df.where(~meta_ok).select(
        *[c for c in df.columns if c != bytes_col],
        *[F.lit(None).cast(t).alias(n) for n, t in IMG_FEATURES],
        F.lit(False).alias("meta_ok"), F.lit(False).alias("pixel_ok"),
        meta_reason.alias("reject_reason"))
    out = flagged_ok.unionByName(rejected)
    return out.withColumn("keep_image",
                          F.col("meta_ok") & F.col("pixel_ok")).select(
        *[c for c in df.columns if c != bytes_col], *feat_names,
        "meta_ok", "pixel_ok", "keep_image", "reject_reason")
