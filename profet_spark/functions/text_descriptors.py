"""Vectorized caption descriptor UDFs (SURVEY.md §2.4 A1-A8/A12, §2.5 W1-W2,
§2.2 F5) — the ProFET descriptor families re-expressed for Spark.

The reference computes one Python dict per sequence in a driver-side loop
([R] ProFET/feat_extract/FeatureGen.py ≈L100-600 `Get_Protein_Feat` —
reconstructed, SURVEY.md §0). Here the whole batch is flattened into ONE
numpy byte array (`codes`) with a parallel row-index array, and every
family is computed with bincount/reduceat-style whole-batch kernels —
no per-row Python in the hot path, Arrow both directions (BASELINE.json
input_hint: "vectorized pandas/Arrow UDFs (no per-row Python)").

Semantics are frozen by the independent per-string oracle in
profet_spark/oracle_numpy.py; tests/test_descriptors.py asserts allclose
(rtol=1e-9, atol=1e-12) between the two on adversarial fixtures.

Scale notes (100 TB): the UDF is a pure map — no shuffle, fully
pipeline-parallel; Arrow batch size bounds memory; LUTs are module-level
(built once per Python worker, not per batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from profet_spark.functions.alphabets import (
    AROMATIC,
    CTD_CLASS_MAPS,
    CTD_PROPERTIES,
    FLEX_SCALE,
    HYDRO_SCALE,
    NEGATIVE,
    POLAR,
    POSITIVE,
    R4_MAP,
    R8_MAP,
    class_lut,
    scale_lut,
    set_lut,
)

# module-level LUTs: one build per Python worker process
_R8 = class_lut(R8_MAP)
_R4 = class_lut(R4_MAP)
_CTD = {p: class_lut(m) for p, m in CTD_CLASS_MAPS.items()}
_HYD = scale_lut(HYDRO_SCALE)
_FLX = scale_lut(FLEX_SCALE)
_ARO = set_lut(AROMATIC)
_POS = set_lut(POSITIVE)
_NEG = set_lut(NEGATIVE)
_POL = set_lut(POLAR)

# uint8 twins of the class LUTs: the codes array is uint8 end-to-end, so
# class gathers stay 1 byte/char and the distribution sort can use numpy's
# O(N) stable radix path (argsort of uint8), both of which matter because
# the kernel is DRAM-bandwidth-bound when 32 worker processes share one
# memory subsystem (BENCH/BASELINE.md note 2).
_R4_8 = _R4.astype(np.uint8)
_R8_8 = _R8.astype(np.uint8)
_CTD8 = {p: m.astype(np.uint8) for p, m in _CTD.items()}

_BLAS_PINNED = False


def _pin_blas_threads() -> None:
    """Pin the in-process BLAS to ONE thread, once per Python worker.

    Spark's execution model is 1 task = 1 core: every Python worker
    process on an executor already owns exactly one task slot, so a
    threaded BLAS inside the kernel can only steal cycles from the OTHER
    workers on the same host.  Measured on the 32-core bench box
    (BENCH/profile_kernel.py): with numpy's bundled OpenBLAS left at its
    default thread count, the pair-count GEMM collapses to 0.10 scaling
    efficiency at 32 concurrent workers (threads from all 32 processes
    spin against each other); pinned to 1 thread the same GEMM scales at
    0.49 and the kernel's 32-proc aggregate throughput triples.  An
    explicit OPENBLAS_NUM_THREADS env var (e.g. set per-executor via
    ``spark.executorEnv.*`` — session.py does this) takes precedence and
    skips the runtime call."""
    global _BLAS_PINNED
    if _BLAS_PINNED:
        return
    _BLAS_PINNED = True
    import ctypes
    import glob
    import os

    if os.environ.get("OPENBLAS_NUM_THREADS"):
        return
    libs_dir = os.path.join(os.path.dirname(os.path.dirname(np.__file__)), "numpy.libs")
    for lib in glob.glob(os.path.join(libs_dir, "*openblas*.so*")):
        try:
            handle = ctypes.CDLL(lib)  # same handle as numpy's (refcounted dlopen)
        except OSError:  # pragma: no cover - exotic loader layouts
            continue
        for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
            fn = getattr(handle, sym, None)
            if fn is not None:
                fn(ctypes.c_int(1))
                return


def _indicator_mats():
    """Letter(26)- and letter-pair(676)-keyed indicator matrices.

    Every count-derived family (CTD composition + transition for all 7
    properties, the 8x8 k2 spectrum, the 4 residue-set scalars) is a linear
    function of either the per-row letter counts or the per-row adjacent
    letter-pair counts.  Computing those two count matrices ONCE and
    deriving the families with tiny GEMMs replaces ~12 O(N)-scatter
    bincounts per batch with one letter scatter + one pair scatter — the
    single biggest memory-traffic reduction available in this kernel.

    Bitwise safety: counts are exact integers far below 2^53, indicator
    entries are 0.0/1.0, so every GEMM product and partial sum is an exact
    integer in float64 regardless of BLAS summation order; the final
    per-row division is then the SAME float op the scatter path performed.
    tests/test_descriptors.py pins equality against the per-string oracle.
    """
    let = np.arange(65, 91)
    a = np.repeat(np.arange(26), 26)
    b = np.tile(np.arange(26), 26)
    comp_cols, trans_cols = [], []
    for prop in CTD_PROPERTIES:
        cls = _CTD[prop][let]  # (26,) in 1..3
        oh = np.zeros((26, 3))
        oh[np.arange(26), cls - 1] = 1.0
        comp_cols.append(oh)
        t = _TRANS_LUT[cls[a] * 4 + cls[b]]  # (676,) in {-1,0,1,2}
        toh = np.zeros((676, 3))
        ok = t >= 0
        toh[np.flatnonzero(ok), t[ok]] = 1.0
        trans_cols.append(toh)
    g8 = _R8[let] - 1
    k2 = np.zeros((676, 64))
    k2[np.arange(676), g8[a] * 8 + g8[b]] = 1.0
    m_sets = np.stack(
        [_ARO[let], _POS[let], _NEG[let], _POL[let]], axis=1
    ).astype(np.float64)
    return np.hstack(comp_cols), m_sets, np.hstack([k2] + trans_cols)

def _group_combos(k: int, n_groups: int) -> list[str]:
    """Digit strings ('11'..'88' for k=2/n=8) in g1-major order — the ONE
    enumeration that drives both the feature-name list and the kernel's
    bincount column order (idx = (g1*n + g2)[*n + g3] is g1-major by
    construction); a single source prevents the two from drifting into
    silently mislabeled k-mer columns."""
    out = []

    def rec(k_left, cur):
        if k_left == 0:
            out.append(cur)
            return
        for g in range(1, n_groups + 1):
            rec(k_left - 1, cur + str(g))

    rec(k, "")
    return out


def _build_feature_names() -> list[str]:
    names = [f"comp_{c}" for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"] + ["length", "entropy"]
    names += [f"k2_{c}" for c in _group_combos(2, 8)]
    names += [f"k3_{c}" for c in _group_combos(3, 4)]
    for prop in CTD_PROPERTIES:
        names += [f"ctd_{prop}_c{c}" for c in "123"]
        names += [f"ctd_{prop}_{t}" for t in ("t12", "t13", "t23")]
        for c in "123":
            names += [f"ctd_{prop}_d{c}_{q}" for q in ("001", "025", "050", "075", "100")]
    names += ["gravy", "aromaticity", "net_charge", "frac_polar", "flex_mean", "instability"]
    for prefix in ("prof_hyd", "prof_flex"):
        names += [f"{prefix}_{s}" for s in ("max", "min", "mean", "argmax_rel", "argmin_rel")]
    names += [f"pse_corr_{d}" for d in range(1, 6)]
    for tag in ("n", "c"):
        names += [f"term_{tag}_{g}" for g in "12345678"]
    return names


FEATURE_NAMES: list[str] = _build_feature_names()
FEATURES_SCHEMA = T.StructType(
    [T.StructField(n, T.DoubleType(), False) for n in FEATURE_NAMES]
)


def _flatten(seqs: pd.Series):
    """Normalize captions (upper + drop non-A-Z, the `regexp_replace(
    upper(c), '[^A-Z]', '')` convention) and flatten the batch into one
    byte array — one encode + two vectorized passes, no per-row regex
    (profiling showed pandas' str.replace at ~20% of batch time)."""
    vals = seqs.fillna("").tolist()
    nrows = len(vals)
    try:
        blob = "".join(vals).encode("ascii")
        raw_lens = np.fromiter((len(s) for s in vals), dtype=np.int64, count=nrows)
    except UnicodeEncodeError:
        # rare non-ASCII batch: normalize per row first (multi-byte chars
        # can't survive the A-Z filter, so semantics are unchanged)
        vals = ["".join(ch for ch in s.upper() if "A" <= ch <= "Z") for s in vals]
        blob = "".join(vals).encode("ascii")
        raw_lens = np.fromiter((len(s) for s in vals), dtype=np.int64, count=nrows)
    c = np.frombuffer(blob, dtype=np.uint8)
    row_raw = np.repeat(np.arange(nrows, dtype=np.int32), raw_lens)
    c = np.where((c >= 97) & (c <= 122), c - 32, c)
    keep = (c >= 65) & (c <= 90)
    # codes stay uint8 (1 byte/char) and row stays int32: the kernel is
    # bandwidth-bound across 32 worker processes, so the two hot arrays
    # are kept as narrow as the values allow; composite bincount keys are
    # built in int32 and stay far below 2^31 for any sane Arrow batch size
    codes = c[keep]
    row = row_raw[keep]
    lens = np.bincount(row, minlength=nrows).astype(np.int32)
    starts = np.zeros(nrows, dtype=np.int32)
    if nrows > 1:
        starts[1:] = np.cumsum(lens, dtype=np.int32)[:-1]
    return codes, row, lens, starts


def _safe_div(num: np.ndarray, den: np.ndarray) -> np.ndarray:
    den = np.asarray(den, dtype=np.float64)
    return np.divide(num, den, out=np.zeros_like(num, dtype=np.float64), where=den > 0)


def _composition(cnt26, lens, nrows, out: dict):
    freq = _safe_div(cnt26, lens[:, None])
    for i, c in enumerate("ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
        out[f"comp_{c}"] = freq[:, i]
    out["length"] = lens.astype(np.float64)
    p = freq
    with np.errstate(divide="ignore", invalid="ignore"):
        ent = np.where(p > 0, -p * np.log2(p, where=p > 0), 0.0)
    out["entropy"] = ent.sum(axis=1)


def _pairs(row):
    """Mask of adjacent positions that stay within one row."""
    return row[:-1] == row[1:] if len(row) else np.zeros(0, dtype=bool)


def _pair_features(letter, row, pv, nrows, lens):
    """Per-row adjacent-letter-pair counts projected through ``_M_PAIR``:
    the exact-integer ``(nrows, 85)`` matrix ``[k2 64 cols | 7 props x 3
    transition cols]``.  ONE O(N) scatter feeds the 8 families that used to
    scatter separately.  Chunked over rows (``row`` is sorted, so chunk
    boundaries are two searchsorted calls) so the dense ``chunk x 676``
    bincount transient stays ~1.4 MB — small enough that 32 concurrent
    workers' transients together fit the box's shared L3 instead of
    streaming DRAM (BENCH/profile_kernel.py; chunk 4096 measured 0.10-0.49
    scaling efficiency at 32 procs vs 0.51 at chunk 256).

    The GEMM runs in float32 whenever every row is shorter than 2^24
    chars: counts and every partial sum are then bounded by the per-row
    pair total < 2^24, hence EXACT integers in float32 (indicator entries
    are 0/1), and the upcast back to float64 is exact — bitwise identical
    to the float64 path at half the GEMM traffic.  Longer rows (never seen
    in practice) fall back to the float64 path."""
    out = np.empty((nrows, _M_PAIR.shape[1]))
    if len(letter) < 2:
        out[:] = 0.0
        return out
    exact32 = int(lens.max()) < (1 << 24)
    mat = _M_PAIR32 if exact32 else _M_PAIR
    cdt = np.float32 if exact32 else np.float64
    pk = np.multiply(letter[:-1], 26, dtype=np.int32)
    pk += letter[1:]
    rp = row[:-1]
    chunk = 256
    for i0 in range(0, nrows, chunk):
        i1 = min(i0 + chunk, nrows)
        lo, hi = np.searchsorted(rp, [i0, i1])
        key = (rp[lo:hi] - np.int32(i0)) * np.int32(676) + pk[lo:hi]
        v = pv[lo:hi]
        cnt = np.bincount(key[v], minlength=(i1 - i0) * 676)
        out[i0:i1] = cnt.reshape(i1 - i0, 676).astype(cdt) @ mat
    return out


def _kmer2_from_pairs(pair_feats, lens, out: dict):
    total = np.maximum(lens - 1, 0)
    freq = _safe_div(pair_feats[:, :64], total[:, None])
    for j, combo in enumerate(_group_combos(2, 8)):
        out[f"k2_{combo}"] = np.ascontiguousarray(freq[:, j])


def _kmer3(codes, row, lens, nrows, out: dict):
    g = _R4_8[codes] - np.uint8(1)  # 0-based group ids, uint8 (max idx 63)
    total = np.maximum(lens - 2, 0)
    if len(row) > 2:
        valid = (row[:-2] == row[1:-1]) & (row[1:-1] == row[2:])
    else:
        valid = np.zeros(0, dtype=bool)
    idx = (g[:-2] * np.uint8(4) + g[1:-1]) * np.uint8(4) + g[2:]
    r = row[:-2]
    cnt = np.bincount(r[valid] * np.int32(64) + idx[valid], minlength=nrows * 64).reshape(nrows, 64)
    freq = _safe_div(cnt, total[:, None])
    for j, combo in enumerate(_group_combos(3, 4)):
        out[f"k3_{combo}"] = freq[:, j]


# transition-pair LUT: cls_a*4+cls_b → {0:'12',1:'13',2:'23',-1:other}
_TRANS_LUT = np.full(16, -1, dtype=np.int64)
for _a, _b, _t in ((1, 2, 0), (2, 1, 0), (1, 3, 1), (3, 1, 1), (2, 3, 2), (3, 2, 2)):
    _TRANS_LUT[_a * 4 + _b] = _t


_DIST_QS = np.array([0.0, 0.25, 0.5, 0.75, 1.0])
_DIST_TAGS = ("001", "025", "050", "075", "100")

# (26, 21) per-property class one-hots; (26, 4) residue-set indicators;
# (676, 64 + 21) k2-group + per-property transition indicators
_M_COMP, _M_SETS, _M_PAIR = _indicator_mats()
# float32 twin for the exact-int fast path (entries are 0.0/1.0: exact)
_M_PAIR32 = _M_PAIR.astype(np.float32)


def _ctd(codes, row, lens, starts, nrows, cnt26f, pair_feats, out: dict):
    """CTD over the 7 propy property groupings.  Composition and transition
    counts are exact-integer GEMM projections of the shared letter / pair
    count matrices (see ``_indicator_mats`` — bitwise identical to the
    per-property scatters they replace); only the distribution block still
    touches the O(N) arrays, via ONE stable radix argsort of the uint8
    class codes per property (order-equivalent to the flatnonzero-per-class
    it replaces: stable sort groups positions by class, ascending within
    each class)."""
    nt = np.maximum(lens - 1, 0)
    lens_f = lens.astype(np.float64)
    comp_all = cnt26f @ _M_COMP  # (nrows, 21) exact integer counts
    for pi, prop in enumerate(CTD_PROPERTIES):
        comp_p = comp_all[:, pi * 3:(pi + 1) * 3]
        # composition
        freq = _safe_div(comp_p, lens[:, None])
        for i, c in enumerate("123"):
            out[f"ctd_{prop}_c{c}"] = np.ascontiguousarray(freq[:, i])
        # transition (unordered adjacent pairs of distinct classes)
        tf = _safe_div(pair_feats[:, 64 + pi * 3:64 + (pi + 1) * 3], nt[:, None])
        for i, tag in enumerate(("t12", "t13", "t23")):
            out[f"ctd_{prop}_{tag}"] = np.ascontiguousarray(tf[:, i])
        # distribution (propy rank convention): class-c occurrences in
        # row-grouped position order are a slice of the stable argsort,
        # so rank-r positions are direct gathers at per-row block offsets;
        # all 5 quantile ranks gathered in one (nh, 5) shot.
        cls8 = _CTD8[prop][codes]
        order = np.argsort(cls8, kind="stable")
        cntp = np.rint(comp_p).astype(np.int64)  # (nrows, 3) per-row counts
        totals = cntp.sum(axis=0)
        bounds = (0, totals[0], totals[0] + totals[1], totals.sum())
        for ci in range(3):
            idx = order[bounds[ci]:bounds[ci + 1]]  # global positions, row-grouped
            m = cntp[:, ci]  # occurrences per row
            off = np.zeros(nrows, dtype=np.int64)
            if nrows > 1:
                off[1:] = np.cumsum(m)[:-1]
            rows_has = np.flatnonzero(m > 0)
            res = np.zeros((nrows, 5), dtype=np.float64)
            if len(rows_has):
                mh = m[rows_has]
                ranks = np.maximum(1, np.floor(mh[:, None] * _DIST_QS[None, :]).astype(np.int64))
                ranks[:, 0] = 1
                ranks[:, 4] = mh
                gpos = idx[off[rows_has][:, None] + ranks - 1]
                res[rows_has] = (
                    (gpos - starts[rows_has][:, None] + 1)
                    / lens_f[rows_has][:, None] * 100.0
                )
            for qi, tag in enumerate(_DIST_TAGS):
                out[f"ctd_{prop}_d{ci + 1}_{tag}"] = np.ascontiguousarray(res[:, qi])


def _scalars(hyd, flx, row, lens, nrows, cnt26f, pv, out: dict):
    """Weighted sums (gravy/flex/instability) keep the order-preserving
    bincount accumulation — float sum order is part of the frozen
    semantics; the four residue-SET counts are exact integers and come
    from the shared letter-count matrix instead of masked scatters."""
    sets = cnt26f @ _M_SETS  # exact counts: aromatic, positive, negative, polar
    out["gravy"] = _safe_div(np.bincount(row, weights=hyd, minlength=nrows), lens)
    out["aromaticity"] = _safe_div(sets[:, 0], lens)
    out["net_charge"] = _safe_div(sets[:, 1] - sets[:, 2], lens)
    out["frac_polar"] = _safe_div(sets[:, 3], lens)
    out["flex_mean"] = _safe_div(np.bincount(row, weights=flx, minlength=nrows), lens)
    prod = hyd[:-1] * hyd[1:]
    out["instability"] = _safe_div(
        np.bincount(row[:-1][pv], weights=prod[pv], minlength=nrows), np.maximum(lens - 1, 0)
    )


def _profile(vals, lens, nrows, pos, lens_row, window, prefix, out: dict):
    """Moving-mean profile per row (W1) + summary features (W2).

    The sliding sums are built with ``window`` CONTIGUOUS slice adds over
    the flat value array — ascending k, the same per-element add order as
    the per-row oracle, so bitwise identical — then window starts that
    would cross a row boundary (the last window-1 positions of each row)
    are masked out.  No gathered index arrays: every pass is sequential,
    which is what the 32-process bandwidth budget wants."""
    for name in ("max", "min", "mean", "argmax_rel", "argmin_rel"):
        out[f"{prefix}_{name}"] = np.zeros(nrows, dtype=np.float64)
    plens = lens - window + 1
    ok = plens > 0
    if not ok.any() or len(vals) < window:
        return
    n_s = len(vals) - window + 1
    prof_all = vals[:n_s].copy()
    for k in range(1, window):
        prof_all += vals[k:n_s + k]
    prof_all /= window
    prof = prof_all[pos[:n_s] <= lens_row[:n_s] - window]
    rows_ok = np.flatnonzero(ok)
    pl = plens[rows_ok]
    prow = np.repeat(np.arange(len(rows_ok)), pl)
    offset = np.concatenate([[0], np.cumsum(pl)[:-1]])
    seg = offset  # reduceat boundaries
    mx = np.maximum.reduceat(prof, seg)
    mn = np.minimum.reduceat(prof, seg)
    sm = np.add.reduceat(prof, seg)
    gidx = np.arange(len(prof))
    big = len(prof)
    first_max = np.minimum.reduceat(np.where(prof == mx[prow], gidx, big), seg) - seg
    first_min = np.minimum.reduceat(np.where(prof == mn[prow], gidx, big), seg) - seg
    out[f"{prefix}_max"][rows_ok] = mx
    out[f"{prefix}_min"][rows_ok] = mn
    out[f"{prefix}_mean"][rows_ok] = sm / pl
    out[f"{prefix}_argmax_rel"][rows_ok] = first_max / pl
    out[f"{prefix}_argmin_rel"][rows_ok] = first_min / pl


def _pseaac(vals, row, lens, nrows, lam, out: dict):
    for d in range(1, lam + 1):
        denom = np.maximum(lens - d, 0)
        if len(vals) > d:
            valid = row[:-d] == row[d:]
            sq = (vals[:-d] - vals[d:]) ** 2
            num = np.bincount(row[:-d][valid], weights=sq[valid], minlength=nrows)
        else:
            num = np.zeros(nrows)
        out[f"pse_corr_{d}"] = _safe_div(num, denom)


def _terminal(codes, row, lens, nrows, pos, lens_row, k, out: dict):
    """F5 prefix/suffix composition on the already-flattened codes: the
    terminal segments are position masks, no string re-slicing."""
    seg_lens = np.minimum(lens, k)
    g_all = _R8_8[codes]
    for tag, mask in (("n", pos < k), ("c", pos >= (lens_row - k))):
        cnt = np.bincount(row[mask] * 9 + g_all[mask], minlength=nrows * 9).reshape(nrows, 9)
        freq = _safe_div(cnt[:, 1:9], seg_lens[:, None])
        for i, gg in enumerate("12345678"):
            out[f"term_{tag}_{gg}"] = freq[:, i]


def _compute_from_flat(codes, row, lens, starts, nrows) -> dict[str, np.ndarray]:
    """All 340 features from the flattened batch.  Shared-pass design: the
    letter-count matrix, the pair-count projection, the position-in-row /
    row-length gathers and the two property-value gathers are each computed
    ONCE here and threaded through the family kernels — at 32 concurrent
    worker processes the kernel is DRAM-bound, so eliminating repeated
    O(N) passes is worth more than any per-family micro-optimization."""
    out: dict[str, np.ndarray] = {}
    _pin_blas_threads()
    letter = codes - np.uint8(65)  # 0..25, still uint8
    cnt26 = np.bincount(row * 26 + letter, minlength=nrows * 26).reshape(nrows, 26)
    cnt26f = cnt26.astype(np.float64)
    pv = _pairs(row)
    pair_feats = _pair_features(letter, row, pv, nrows, lens)
    pos = np.arange(len(codes), dtype=np.int32) - starts[row]
    lens_row = lens[row]
    hyd = _HYD[codes]
    flx = _FLX[codes]
    _composition(cnt26, lens, nrows, out)
    _kmer2_from_pairs(pair_feats, lens, out)
    _kmer3(codes, row, lens, nrows, out)
    _ctd(codes, row, lens, starts, nrows, cnt26f, pair_feats, out)
    _scalars(hyd, flx, row, lens, nrows, cnt26f, pv, out)
    _profile(hyd, lens, nrows, pos, lens_row, 9, "prof_hyd", out)
    _profile(flx, lens, nrows, pos, lens_row, 5, "prof_flex", out)
    _pseaac(hyd, row, lens, nrows, 5, out)
    _terminal(codes, row, lens, nrows, pos, lens_row, 15, out)
    return out


def compute_features_batch(captions: pd.Series) -> pd.DataFrame:
    """The whole ProFET-analog vector for one Arrow batch of captions."""
    nrows = len(captions)
    if nrows == 0:
        return pd.DataFrame({n: pd.Series(dtype="float64") for n in FEATURE_NAMES})
    codes, row, lens, starts = _flatten(captions)
    out = _compute_from_flat(codes, row, lens, starts, nrows)
    return pd.DataFrame({n: out[n] for n in FEATURE_NAMES})


def _flatten_arrow(caps):
    """Flatten a pyarrow string array straight from its buffers — zero
    per-row Python, no pandas object Series: the Arrow data buffer IS the
    concatenated blob and the offsets give raw lengths."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if caps.null_count:
        caps = pc.fill_null(caps, "")
    if pa.types.is_large_string(caps.type):
        otype = np.int64
    else:
        caps = caps.cast(pa.string()) if not pa.types.is_string(caps.type) else caps
        otype = np.int32
    bufs = caps.buffers()
    offsets = np.frombuffer(bufs[1], dtype=otype,
                            count=len(caps) + 1, offset=caps.offset * np.dtype(otype).itemsize)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    nrows = len(caps)
    c = data[offsets[0]:offsets[-1]]
    if len(c) and c.max() >= 128:
        # non-ASCII batch: defer to the str-semantics path (Python upper()
        # can expand, e.g. 'ß' -> 'SS'; the byte path must not diverge)
        return _flatten(pd.Series(caps.to_pylist()))
    raw_lens = np.diff(offsets.astype(np.int64))
    row_raw = np.repeat(np.arange(nrows, dtype=np.int32), raw_lens)
    c = np.where((c >= 97) & (c <= 122), c - 32, c)
    keep = (c >= 65) & (c <= 90)
    codes = c[keep]  # uint8, matching _flatten
    row = row_raw[keep]
    lens = np.bincount(row, minlength=nrows).astype(np.int32)
    starts = np.zeros(nrows, dtype=np.int32)
    if nrows > 1:
        starts[1:] = np.cumsum(lens, dtype=np.int32)[:-1]
    return codes, row, lens, starts


def features_udf():
    """``arrow_udf(caption) -> array<double>``: the whole packed vector
    (FEATURE_NAMES order) per caption, for one Arrow array of captions
    at a time. Captions are read from the Arrow buffers (no per-row
    Python) and the output is one list array over a single (n, 340)
    buffer. The DataFrame API and the SQL registry both call this."""
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    nfeat = len(FEATURE_NAMES)

    @arrow_udf(T.ArrayType(T.DoubleType(), False), ArrowUDFType.SCALAR)
    def profet_features(caps):
        nrows = len(caps)
        mat = np.zeros((nrows, nfeat), dtype=np.float64)
        if nrows:
            codes, row, lens, starts = _flatten_arrow(caps)
            out = _compute_from_flat(codes, row, lens, starts, nrows)
            for j, name in enumerate(FEATURE_NAMES):
                mat[:, j] = out[name]
        return pa.FixedSizeListArray.from_arrays(
            pa.array(mat.ravel(), type=pa.float64()), nfeat
        ).cast(pa.list_(pa.float64()))

    return profet_features


def add_caption_features_packed(
    df: DataFrame, caption_col: str = "caption", out_col: str = "features",
    drop_caption: bool = True,
) -> DataFrame:
    """The high-throughput descriptor path: ONE packed ``array<double>``
    column (FEATURE_NAMES order) instead of 340 struct fields, appended
    after the input columns.

    Why it exists: with the struct form, the Python worker pays per-row
    string materialization on input and 340 separate Arrow column builds on
    output. Here :func:`features_udf` is a scalar Arrow UDF: only the
    caption column is sent to Python and only the packed array comes back;
    every other column stays in the JVM. Values are identical to the struct
    path (same kernels; asserted in tests/test_descriptors.py)."""
    keep = [c for c in df.columns if not (drop_caption and c == caption_col)]
    return df.select(*keep, features_udf()(F.col(caption_col)).alias(out_col))


def feature_index(name: str) -> int:
    """Position of a feature in the packed array (for F.element_at)."""
    return FEATURE_NAMES.index(name)


@F.pandas_udf(FEATURES_SCHEMA)
def caption_features(captions: pd.Series) -> pd.DataFrame:
    return compute_features_batch(captions)


def add_caption_features(
    df: DataFrame, caption_col: str = "caption", out_col: str = "features", flatten: bool = False
) -> DataFrame:
    """Attach the descriptor struct; ``flatten=True`` explodes it to
    top-level columns (column pruning then works per-feature)."""
    out = df.withColumn(out_col, caption_features(F.col(caption_col)))
    if flatten:
        keep = [c for c in out.columns if c != out_col]
        out = out.select(*keep, F.col(f"{out_col}.*"))
    return out
