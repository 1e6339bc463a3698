"""Minimal deterministic image codecs + hashes (FIXTURES.md §A.1).

No PIL in the sandbox, so the fixture formats are hand-rolled in
numpy/stdlib:

- PPM (P6, binary): raw RGB — exact round-trip;
- PNG: IHDR/IDAT/IEND with filter type 0 rows and stdlib zlib — lossless,
  exact round-trip (decoder supports the sub/up/average/paeth filters
  too, for robustness, but the encoder only emits 0);
- average-hash (aHash): 8x8 block-mean luminance thresholded at its mean
  → 64-bit int. DCT-free and fully deterministic — the fixture's
  ``phash`` column (BASELINE.json input_hint).
- PSNR gate for any future lossy format (BASELINE.json: PSNR ≥ 40 dB).

All functions operate on ``np.ndarray[h, w, 3] uint8``. ``luminance``,
``block_mean_resize`` and the three hashes also take a stack
``[..., h, w, 3]`` of same-shape images, the hashes then returning one
int64 per image.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ------------------------------------------------------------------ PPM


def encode_ppm(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    if c != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_ppm needs uint8 HxWx3")
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def decode_ppm(data: bytes) -> np.ndarray:
    if not data.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    # header: magic, whitespace-separated w h maxval, single whitespace, raster
    parts = []
    i = 2
    while len(parts) < 3:
        while i < len(data) and data[i : i + 1].isspace():
            i += 1
        if data[i : i + 1] == b"#":  # comment line
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
            if i >= len(data):
                # bounds check matters: an unterminated comment would spin
                # this loop forever (empty slice != b'\n') and wedge the
                # executor task instead of raising like other corruptions
                raise ValueError("truncated PPM header comment")
            continue
        j = i
        while j < len(data) and not data[j : j + 1].isspace():
            j += 1
        parts.append(int(data[i:j]))
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = parts
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3).copy()


# ------------------------------------------------------------------ PNG


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(arr: np.ndarray) -> bytes:
    h, w, c = arr.shape
    if c != 3 or arr.dtype != np.uint8:
        raise ValueError("encode_png needs uint8 HxWx3")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    # filter byte 0 per scanline
    raw = np.concatenate([np.zeros((h, 1), np.uint8), arr.reshape(h, w * 3)], axis=1)
    idat = zlib.compress(raw.tobytes(), 6)
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _paeth(a, b, c):
    p = a.astype(np.int16) + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)).astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    if not data.startswith(_PNG_SIG):
        raise ValueError("not a PNG")
    i = len(_PNG_SIG)
    w = h = None
    idat = b""
    while i < len(data):
        (ln,) = struct.unpack(">I", data[i : i + 4])
        tag = data[i + 4 : i + 8]
        payload = data[i + 8 : i + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", payload)
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        i += 12 + ln
    if w is None or h is None:
        raise ValueError("PNG missing IHDR")
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    ftypes = raw[:, 0]
    if not ftypes.any():  # every scanline unfiltered: what encode_png writes
        return raw[:, 1:].reshape(h, w, 3).copy()
    lines = raw[:, 1:].astype(np.uint8)
    out = np.zeros((h, w * 3), dtype=np.uint8)
    bpp = 3
    for y in range(h):
        f = ftypes[y]
        cur = lines[y].copy()
        prev = out[y - 1] if y else np.zeros(w * 3, dtype=np.uint8)
        if f == 0:
            out[y] = cur
        elif f == 2:  # up
            out[y] = cur + prev
        elif f in (1, 3, 4):  # sub / average / paeth need left-to-right scan
            line = np.zeros(w * 3, dtype=np.uint8)
            with np.errstate(over="ignore"):  # filter sums are modulo 256
                for x in range(w * 3):
                    left = line[x - bpp] if x >= bpp else 0
                    up = prev[x]
                    ul = prev[x - bpp] if x >= bpp else 0
                    if f == 1:
                        line[x] = cur[x] + left
                    elif f == 3:
                        line[x] = cur[x] + ((int(left) + int(up)) >> 1)
                    else:
                        pa = _paeth(np.uint8(left), np.uint8(up), np.uint8(ul))
                        line[x] = cur[x] + pa
            out[y] = line
        else:
            raise ValueError(f"bad filter {f}")
    return out.reshape(h, w, 3)


# ------------------------------------------------------------------ codecs by fmt

ENCODERS = {"ppm": encode_ppm, "png": encode_png}
DECODERS = {"ppm": decode_ppm, "png": decode_png}


def decode(data: bytes, fmt: str) -> np.ndarray:
    try:
        return DECODERS[fmt](data)
    except KeyError:
        # jpeg/webp etc. would need codec libs absent from this container;
        # the Spark-side plumbing (schema, batching) is format-agnostic.
        raise NotImplementedError(f"no decoder for fmt={fmt!r} in this environment")


# ------------------------------------------------------------------ metrics


def luminance(arr: np.ndarray) -> np.ndarray:
    """Rec.601 luma, float64 in [0,255]."""
    a = arr.astype(np.float64)
    return 0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def block_mean_resize(lum: np.ndarray, size: int,
                      size_w: int | None = None) -> np.ndarray:
    """Deterministic area-style downsample of a 2-D array to
    ``size × size`` block means. Block boundaries are the integer grid
    ``(k * n) // size`` (every source pixel lands in exactly one block,
    uneven remainders spread deterministically), reduced with
    ``np.add.reduceat`` — works for ANY h, w ≥ 1, including inputs
    smaller than ``size`` (blocks then repeat source rows/cols via the
    duplicate boundaries, equivalent to nearest-neighbor upsampling).
    Leading axes, if any, index a stack of same-shape inputs."""
    h, w = lum.shape[-2:]
    size_w = size if size_w is None else size_w
    rb = (np.arange(size, dtype=np.int64) * h) // size
    cb = (np.arange(size_w, dtype=np.int64) * w) // size_w
    # reduceat repeats the row at a duplicated boundary; sizes below
    # account for that so each block divides by its true pixel count
    rs = np.maximum(np.diff(np.append(rb, h)), 1)
    cs = np.maximum(np.diff(np.append(cb, w)), 1)
    s = np.add.reduceat(np.add.reduceat(lum, rb, axis=-2), cb, axis=-1)
    # a duplicated boundary makes reduceat return the single row/col
    # (not a zero sum), so dividing by the clamped size stays correct
    return s / (rs[:, None] * cs[None, :])


_DCT_BASIS_CACHE: dict[int, np.ndarray] = {}


def dct_basis(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix C (n×n): ``C @ g @ C.T`` is the
    2-D DCT-II of g. Public textbook constants
    (``C[k,i] = s_k · cos(π(2i+1)k / 2n)``, s_0=√(1/n), s_k=√(2/n))."""
    if n not in _DCT_BASIS_CACHE:
        i = np.arange(n, dtype=np.float64)
        k = i[:, None]
        c = np.cos(np.pi * (2.0 * i[None, :] + 1.0) * k / (2.0 * n))
        c *= np.sqrt(2.0 / n)
        c[0, :] *= np.sqrt(0.5)
        _DCT_BASIS_CACHE[n] = c
    return _DCT_BASIS_CACHE[n]


def _pack_bits_int64(bits: np.ndarray) -> np.ndarray:
    """Pack the last axis (≤64 bits, MSB first) into a signed int64 (the
    parquet/phash-column wrap shared by the three hashes); leading axes,
    if any, index a stack of hashes."""
    bits = np.asarray(bits, dtype=bool)
    pad = np.zeros(bits.shape[:-1] + (64 - bits.shape[-1],), dtype=bool)
    packed = np.packbits(np.concatenate([pad, bits], axis=-1), axis=-1)
    return packed.view(">i8")[..., 0].astype(np.int64)


def _unstack(v: np.ndarray) -> int | np.ndarray:
    """A hash of one image is a Python int; a stack keeps its array."""
    return int(v) if v.ndim == 0 else v


def phash_dct(arr: np.ndarray, hash_size: int = 8,
              highfreq_factor: int = 4) -> int | np.ndarray:
    """Classic DCT perceptual hash (pHash) → signed int64.

    Luma → ``(hash_size·highfreq_factor)²`` block-mean resize (32×32
    default) → 2-D DCT-II → keep the top-left ``hash_size²`` low
    frequencies → threshold each against the MEDIAN of the 63 AC terms
    (DC excluded from the median, the standard convention — it makes
    the hash invariant to uniform brightness scaling since AC terms
    scale together) → pack row-major, MSB first, to a signed 64-bit
    (parquet/phash-column friendly, same wrap as :func:`average_hash`).

    Robust where aHash is brittle (global brightness/contrast shifts,
    mild blur); pairs with the D8 Hamming machinery
    (operators/dedup.py hamming_dup_pairs) for near-dup detection."""
    if not (1 <= hash_size <= 8):  # int64 packing: hash_size^2 bits
        raise ValueError(
            f"phash_dct: hash_size must be in 1..8, got {hash_size}")
    img_size = hash_size * highfreq_factor
    lum = block_mean_resize(luminance(arr), img_size)
    c = dct_basis(img_size)
    d = c @ lum @ c.T
    low = d[..., :hash_size, :hash_size].reshape(*d.shape[:-2], hash_size ** 2)
    med = np.median(low[..., 1:], axis=-1, keepdims=True)
    return _unstack(_pack_bits_int64(low > med))


def dhash(arr: np.ndarray, hash_size: int = 8) -> int | np.ndarray:
    """Row-gradient difference hash (dHash) → signed int64: luma
    block-mean resized to ``hash_size × (hash_size+1)``, bit =
    ``left < right`` for each horizontally adjacent pair, packed
    row-major MSB-first. Captures gradient STRUCTURE, so it is
    invariant to global brightness/contrast shifts by construction
    (every comparison shifts/scales both sides together) and cheap —
    no DCT. The third member of the hash family (aHash / pHash /
    dHash); all feed the same D8 pigeonhole pair machinery."""
    if not (1 <= hash_size <= 8):  # 64-bit packing bound, and >=1
        raise ValueError(
            f"dhash: hash_size must be in 1..8, got {hash_size}")
    g = block_mean_resize(luminance(arr), hash_size, hash_size + 1)
    bits = (g[..., :-1] < g[..., 1:]).reshape(*g.shape[:-2], hash_size ** 2)
    return _unstack(_pack_bits_int64(bits))


def average_hash(arr: np.ndarray) -> int | np.ndarray:
    """8x8 block-mean aHash over luma → signed int64 (parquet-friendly)."""
    lum = luminance(arr)
    lead, (h, w) = lum.shape[:-2], lum.shape[-2:]
    # block-mean "resize" to 8x8: pad to multiples of 8 by edge-truncation
    hh, ww = (h // 8) * 8, (w // 8) * 8
    if hh == 0 or ww == 0:
        return _unstack(np.zeros(lead, dtype=np.int64))
    blocks = (lum[..., :hh, :ww].reshape(*lead, 8, hh // 8, 8, ww // 8)
              .mean(axis=(-3, -1)).reshape(*lead, 64))
    return _unstack(_pack_bits_int64(blocks > blocks.mean(axis=-1, keepdims=True)))
