"""Codec round-trips, PSNR gate, fixture determinism, and the per-row
payload invariants (BASELINE.json input_hint; SURVEY.md §5.2-3)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as hst

from profet_spark import fixtures, imaging


def _rand_img(seed, w=48, h=32):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("fmt", ["ppm", "png"])
def test_roundtrip_exact(fmt):
    arr = _rand_img(1)
    data = imaging.ENCODERS[fmt](arr)
    back = imaging.decode(data, fmt)
    np.testing.assert_array_equal(arr, back)
    assert imaging.psnr(arr, back) == float("inf")


def test_psnr_gate():
    a = _rand_img(2)
    noisy = np.clip(a.astype(np.int16) + np.random.default_rng(3).integers(-2, 3, a.shape), 0, 255).astype(np.uint8)
    assert imaging.psnr(a, noisy) >= 40.0  # small noise passes the gate
    garbage = _rand_img(4)
    assert imaging.psnr(a, garbage) < 20.0


def test_decode_unknown_fmt_raises():
    with pytest.raises(NotImplementedError):
        imaging.decode(b"\xff\xd8\xff", "jpeg")


def test_average_hash_deterministic():
    arr = _rand_img(5)
    assert imaging.average_hash(arr) == imaging.average_hash(arr.copy())
    assert -(2**63) <= imaging.average_hash(arr) < 2**63


def test_fixture_deterministic_and_invariants():
    a = fixtures.make_fixture(n_entities=40)
    b = fixtures.make_fixture(n_entities=40)
    pd.testing.assert_frame_equal(a.drop(columns=["bytes"]), b.drop(columns=["bytes"]))
    assert all(x == y for x, y in zip(a["bytes"], b["bytes"]))
    # (image_id, ts) unique
    assert not a.duplicated(["image_id", "ts"]).any()
    # pixel ground truth re-derivable: decode == pixel_array
    row = a.iloc[0]
    arr = fixtures.pixel_array(row.image_id, 0, row.w, row.h)
    back = imaging.decode(row.bytes, row.fmt)
    np.testing.assert_array_equal(arr, back)
    # caption round-trip is byte-exact by construction
    assert a["caption"].map(lambda s: isinstance(s, str)).all()


def test_fixture_skew_shape():
    pdf = fixtures.make_fixture(n_entities=100, with_images=False)
    counts = pdf.groupby("phash").size()
    top = counts.max() / len(pdf)
    assert top > 0.15, f"hot phash cluster only {top:.0%} of rows"


def test_truncated_ppm_comment_raises_not_hangs():
    """An unterminated header comment must raise like any other corruption
    — the unbounded scan loop used to spin forever and wedge the task."""
    import pytest
    with pytest.raises(ValueError, match="truncated PPM header comment"):
        imaging.decode_ppm(b"P6 #abc")


def test_null_bytes_map_to_decode_failure():
    from profet_spark.functions.image_descriptors import compute_image_stats
    stats = compute_image_stats(None, "png")
    assert stats["decode_ok"] is False


def _encode_png_filtered(arr, ftypes):
    """PNG with the given per-scanline filter types (1 sub, 2 up, 3 average,
    4 paeth; any other byte is written with the scanline unfiltered),
    filtered per the PNG spec at 3 bytes per pixel."""
    import struct
    import zlib

    h, w, _ = arr.shape
    img = arr.reshape(h, w * 3).astype(np.int64)
    rows = []
    for y in range(h):
        cur = img[y]
        up = img[y - 1] if y else np.zeros_like(cur)
        left = np.concatenate([np.zeros(3, np.int64), cur[:-3]])
        ul = np.concatenate([np.zeros(3, np.int64), up[:-3]])
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        f = ftypes[y % len(ftypes)]
        pred = {1: left, 2: up, 3: (left + up) // 2,
                4: np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul)),
                }.get(f, 0)
        rows.append(bytes([f]) + ((cur - pred) % 256).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (imaging._PNG_SIG + imaging._chunk(b"IHDR", ihdr)
            + imaging._chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + imaging._chunk(b"IEND", b""))


@pytest.mark.parametrize("ftypes", [[1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_decode_png_scanline_filters(ftypes):
    """Scanlines filtered with sub/up/average/paeth (which encode_png never
    writes) decode to the original pixels, alone and mixed with type 0."""
    arr = _rand_img(12, w=9, h=7)
    np.testing.assert_array_equal(
        imaging.decode_png(_encode_png_filtered(arr, ftypes)), arr)


def test_decode_png_rejects_unknown_filter():
    arr = _rand_img(13, w=4, h=3)
    with pytest.raises(ValueError, match="bad filter 5"):
        imaging.decode_png(_encode_png_filtered(arr, [0, 5]))


_SHAPES = [(1, 1), (4, 7), (7, 4), (8, 8), (16, 16), (32, 32), (16, 32), (13, 21)]


@hst.composite
def _payload(draw):
    """One (bytes, fmt) cell: an encoded image of a listed or random shape
    (random, flat or ramp pixels), corrupt bytes, NULL, or an unknown fmt."""
    kind = draw(hst.sampled_from(["img"] * 5 + ["corrupt", "null", "fmt"]))
    if kind == "null":
        return None, draw(hst.sampled_from(["png", "ppm"]))
    if kind == "corrupt":
        return draw(hst.binary(max_size=40)), draw(hst.sampled_from(["png", "ppm"]))
    h, w = draw(hst.one_of(hst.sampled_from(_SHAPES),
                           hst.tuples(hst.integers(1, 40), hst.integers(1, 40))))
    rng = np.random.default_rng(draw(hst.integers(0, 2**16)))
    pixels = draw(hst.sampled_from(["random", "flat", "ramp"]))
    if pixels == "random":
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    elif pixels == "flat":
        arr = np.full((h, w, 3), rng.integers(0, 256), dtype=np.uint8)
    else:
        arr = np.broadcast_to((np.arange(w) * 7 % 256).astype(np.uint8)[None, :, None],
                              (h, w, 3)).copy()
    fmt = draw(hst.sampled_from(["png", "ppm"]))
    data = imaging.ENCODERS[fmt](arr)
    return (data, "jpeg") if kind == "fmt" else (data, fmt)


@settings(max_examples=150, deadline=None)
@given(cells=hst.lists(_payload(), min_size=1, max_size=24))
def test_image_stats_batch_equals_per_image(cells):
    """The batched image kernel groups same-shape images into one pass; its
    values equal the per-image reference exactly, decode failures
    included."""
    from profet_spark.functions import image_descriptors as imgd

    datas, fmts = [d for d, _ in cells], [f for _, f in cells]
    got = imgd.compute_image_stats_batch(datas, fmts)
    names = [n for n, _ in imgd.IMG_FEATURES]
    for i, (data, fmt) in enumerate(cells):
        want = imgd.compute_image_stats(data, fmt)
        assert {n: got[n][i].item() for n in names} == want, (i, fmt)


# ------------------------------------------------------- DCT pHash golden


def _dct2_reference(g):
    """Textbook O(n^4) 2-D DCT-II, independent of the production matmul."""
    n = g.shape[0]
    out = np.zeros((n, n))
    for u in range(n):
        for v in range(n):
            su = np.sqrt((1.0 if u == 0 else 2.0) / n)
            sv = np.sqrt((1.0 if v == 0 else 2.0) / n)
            acc = 0.0
            for i in range(n):
                for j in range(n):
                    acc += (g[i, j]
                            * np.cos(np.pi * (2 * i + 1) * u / (2 * n))
                            * np.cos(np.pi * (2 * j + 1) * v / (2 * n)))
            out[u, v] = su * sv * acc
    return out


def _phash_reference(arr):
    """Serial reference pHash: same spec, independent implementation."""
    lum = imaging.luminance(arr)
    g = imaging.block_mean_resize(lum, 32)
    d = _dct2_reference(g)
    low = d[:8, :8].flatten()
    med = float(np.median(low[1:]))
    v = 0
    for bit in (low > med):
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= (1 << 63) else v


def test_phash_dct_matches_textbook_reference():
    for seed in (10, 11, 12):
        arr = _rand_img(seed)
        assert imaging.phash_dct(arr) == _phash_reference(arr)


def test_dct_basis_orthonormal():
    c = imaging.dct_basis(32)
    np.testing.assert_allclose(c @ c.T, np.eye(32), atol=1e-12)


def test_block_mean_resize_exact_and_degenerate():
    # exact case: 64x64 → 32x32 is plain 2x2 block means
    rng = np.random.default_rng(20)
    a = rng.integers(0, 256, size=(64, 64)).astype(np.float64)
    got = imaging.block_mean_resize(a, 32)
    want = a.reshape(32, 2, 32, 2).mean(axis=(1, 3))
    np.testing.assert_allclose(got, want)
    # uneven case conserves mass: block means weighted by true block
    # sizes reproduce the total sum
    b = rng.integers(0, 256, size=(33, 47)).astype(np.float64)
    r = imaging.block_mean_resize(b, 32)
    assert r.shape == (32, 32)
    assert np.isfinite(r).all() and (r >= 0).all() and (r <= 255).all()
    # degenerate: input smaller than the grid upsamples, never crashes
    tiny = np.full((2, 3), 7.0)
    np.testing.assert_allclose(imaging.block_mean_resize(tiny, 32), 7.0)


def test_phash_dct_brightness_and_scale_invariance():
    """AC coefficients shift/scale together: adding a constant or
    multiplying by a positive factor must not flip AC bits (aHash has
    no such guarantee — this is why pHash exists)."""
    arr = _rand_img(21).astype(np.float64)
    base = imaging.phash_dct(arr)
    brighter = np.clip(arr * 0.5, 0, 255)  # pure scale, no clipping
    scaled = imaging.phash_dct(brighter)
    # DC bit (bit 63) may differ; all 63 AC bits must agree
    assert ((base ^ scaled) & ((1 << 63) - 1)) == 0


def test_phash_dct_near_vs_far():
    arr = _rand_img(22, w=64, h=64)
    noisy = np.clip(arr.astype(np.int16)
                    + np.random.default_rng(23).integers(-4, 5, arr.shape),
                    0, 255).astype(np.uint8)
    other = _rand_img(24, w=64, h=64)
    d_near = bin(imaging.phash_dct(arr) ^ imaging.phash_dct(noisy)).count("1")
    d_far = bin(imaging.phash_dct(arr) ^ imaging.phash_dct(other)).count("1")
    assert d_near <= 8
    assert d_far > 16


def test_phash_dct_drives_d8_pair_detection(spark):
    """End-to-end: pixels → phash_dct (mapInPandas kernel) → D8
    pigeonhole Hamming pairs. A brightness-scaled copy (what defeats
    aHash) pairs with its original; an unrelated image does not."""
    import pandas as pd
    from profet_spark.functions import image_descriptors as imgd
    from profet_spark.operators import dedup

    base = _rand_img(30, w=64, h=64)
    scaled = np.clip(base.astype(np.float64) * 0.6, 0, 255).astype(np.uint8)
    other = _rand_img(31, w=64, h=64)
    rows = [("a", base), ("a_dim", scaled), ("z", other)]
    pdf = pd.DataFrame({
        "image_id": [r[0] for r in rows],
        "bytes": [imaging.encode_png(r[1]) for r in rows],
        "fmt": ["png"] * 3,
    })
    df = spark.createDataFrame(pdf)
    feats = imgd.add_image_features(df)
    pairs = dedup.hamming_pairs(
        feats.select("image_id", "phash_dct"), id_col="image_id",
        bits_col="phash_dct", max_hamming=3)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert ("a", "a_dim") in got
    assert all("z" not in p for p in got)


def test_phash_dct_hash_size_guard():
    with pytest.raises(ValueError, match="hash_size"):
        imaging.phash_dct(_rand_img(40), hash_size=16)


def test_dhash_reference_and_invariance():
    """Independent serial reference + exact brightness/contrast
    invariance (every gradient comparison shifts/scales together)."""
    arr = _rand_img(50, w=64, h=48)
    lum = imaging.luminance(arr)
    g = imaging.block_mean_resize(lum, 8, 9)
    v = 0
    for r in range(8):
        for c in range(8):
            v = (v << 1) | int(g[r, c] < g[r, c + 1])
    want = v - (1 << 64) if v >= (1 << 63) else v
    assert imaging.dhash(arr) == want
    shifted = np.clip(arr.astype(np.float64) * 0.7 + 30, 0, 255)
    assert imaging.dhash(shifted) == imaging.dhash(arr)  # ALL 64 bits
    with pytest.raises(ValueError, match="hash_size"):
        imaging.dhash(arr, hash_size=9)


def test_pack_bits_int64_matches_serial_reference():
    rng = np.random.default_rng(52)
    for k in (1, 4, 9, 36, 63, 64):
        bits = rng.integers(0, 2, size=(5, k)).astype(bool)
        want = []
        for row in bits:
            v = 0
            for bit in row:
                v = (v << 1) | int(bit)
            want.append(v - (1 << 64) if v >= (1 << 63) else v)
        assert imaging._pack_bits_int64(bits).tolist() == want
        assert int(imaging._pack_bits_int64(bits[0])) == want[0]


@pytest.mark.parametrize("h,w", [(1, 1), (4, 7), (8, 8), (13, 21), (32, 32)])
def test_hashes_of_a_stack_equal_per_image(h, w):
    rng = np.random.default_rng(53)
    stack = rng.integers(0, 256, size=(3, h, w, 3), dtype=np.uint8)
    for fn in (imaging.average_hash, lambda a: imaging.phash_dct(a, 6),
               imaging.phash_dct, lambda a: imaging.dhash(a, 5), imaging.dhash):
        one = [fn(a) for a in stack]
        assert all(type(v) is int for v in one)
        assert fn(stack).tolist() == one


def test_block_mean_resize_rectangular():
    rng = np.random.default_rng(51)
    a = rng.integers(0, 256, size=(64, 72)).astype(np.float64)
    got = imaging.block_mean_resize(a, 8, 9)
    assert got.shape == (8, 9)
    want = a.reshape(8, 8, 9, 8).mean(axis=(1, 3))
    np.testing.assert_allclose(got, want)
