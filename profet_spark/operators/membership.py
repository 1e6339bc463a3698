"""Broadcast Bloom-filter membership pruning (JB: bloom semi/anti join).

The 100 TB probe-side-pruning pattern: when a huge fact table is
semi/anti-joined against a much smaller key set (the as-of build side,
a dedup victim list, a decontamination blocklist), shuffling the fact
table on the join key is the dominant cost — and almost all of it is
wasted, because most probe rows match nothing. A Bloom filter built
from the key set and broadcast to every executor turns that shuffle
into a map-side ``Filter``:

- :func:`build_bloom` — distributed build: every build partition hashes
  its keys into a local bitmap (``mapInPandas``, partition-parallel —
  no ``distinct()`` either, duplicate keys just re-set the same bits),
  the per-partition bitmaps are OR-merged through ONE narrow exchange
  of P bitmap rows (``repartition(1)`` — deliberately not
  ``coalesce``, which would collapse the parallel hashing stage into
  the single merge task), and the driver collects exactly ONE row of
  ``m/8`` bytes. Nothing key-shaped ever reaches the driver.
- :func:`bloom_prune` — shuffle-free probe: the bitmap rides a
  SparkContext broadcast; an Arrow-batched ``pandas_udf`` tests the k
  bit positions vectorized in numpy (no per-row Python). The output is
  a SUPERSET of the true members (Bloom filters have false positives,
  never false negatives) — callers that need exactness compose with an
  exact join over the survivors:
- :func:`bloom_semi_join` — ``bloom_prune`` then an exact ``left_semi``
  over the survivors only. Bit-for-bit equal to a plain ``left_semi``,
  but at scale only ``~fpp + selectivity`` of the probe ever enters the
  exchange (and with a broadcast-able build side, none of it does).
- :func:`bloom_anti_join` — rows the filter rejects are DEFINITELY not
  members and pass straight through with no join at all; only the
  (usually small) might-match remainder goes through an exact
  ``left_anti``. Equal to a plain ``left_anti`` up to row order.

Exactness contract: the *composed* joins are exact for any filter
parameters — the Bloom tier only decides how much work the exact tier
sees — so both operators grade bitwise against plain ``IN`` /
``NOT EXISTS`` SQL oracles. The filter itself is validated separately
(superset property + measured false-positive rate) in
tests/test_membership.py.

Hashing: the base 64-bit key is computed JVM-SIDE with ``xxhash64`` on
BOTH build and probe — one canonical non-null int64 per key, whatever
the key's Spark type, so the Python tier never sees Arrow's
int-with-null → float64 coercion (which would silently hash ``5`` as
``"5.0"`` on one side only — a false-negative factory), large int64
keys keep full precision, and NaN double keys follow Spark's own join
normalization. Python then derives two independent streams with the
splitmix64 finalizer (Steele et al., public constants) under two fixed
seeds and probes Kirsch–Mitzenmacher double-hash positions
``pos_i = h1 + i·(h2|1) mod m`` (m a power of two, so the odd step
makes the k probes distinct). An xxhash64 collision merely adds one
phantom member — indistinguishable from a Bloom false positive, and
repaired by the same exact tier.

Spark parity note: Spark 3.3+ injects runtime Bloom filters into
shuffle joins on its own (``spark.sql.optimizer.runtime.bloomFilter.*``)
for JVM-planned equi-joins; this operator makes the same pattern
available explicitly — sized, observable, and usable in front of
Python-side operators (as-of merge, dedup) where the JVM optimizer
cannot see the join.

Reference parity: ProFET filters its input FASTA driver-side with
per-sequence Python ``if`` checks ([R] FeatureGen.py ≈L1040-1100
``fileToFeatures``); membership pruning against a second dataset has no
upstream analog — this is a task-mandated scale addition
(SURVEY.md §2 'NEW' tier).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import BooleanType

from profet_spark import _worker

__all__ = ["BloomFilter", "build_bloom", "bloom_prune",
           "bloom_semi_join", "bloom_anti_join"]

# splitmix64 seeds for the two derived hash streams, applied to the
# JVM-computed xxhash64 base. Public constants (golden ratio / xxhash
# prime), pinned so a filter built in one job probes identically in
# another.
_SEED_1 = np.uint64(0x9E3779B97F4A7C15)
_SEED_2 = np.uint64(0xC2B2AE3D27D4EB4F)

# Bitmap cap: 64 MiB of bits = 2^29. Above this the filter is clamped
# (to a POWER OF TWO — the probe arithmetic depends on it) and the
# EFFECTIVE fpp degrades, loudly documented — results stay exact
# because the exact tier repairs false positives.
_MAX_BITS_DEFAULT = 1 << 29

_KEY64 = "__bloom_key64"


def _splitmix64(x: np.ndarray, seed: np.uint64) -> np.ndarray:
    z = x + seed
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _hash_pair(key64: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two independent uint64 streams from the xxhash64 base column.

    ``key64`` is the non-null int64 ndarray of ``xxhash64(key)`` values
    — the JVM computed the type-dependent part, so this path is
    dtype-stable by construction."""
    base = key64.view(np.uint64)
    return _splitmix64(base, _SEED_1), _splitmix64(base, _SEED_2)


@dataclass(frozen=True)
class BloomFilter:
    """An immutable built filter: ``m_bits`` is a power of two,
    ``words`` is the bitmap as uint64 little-endian words, ``k`` the
    probe count. ``might_contain_np`` is the vectorized membership test
    both the build and the probe UDF share — its input is the
    ``xxhash64(key)`` int64 ndarray, not raw keys."""

    m_bits: int
    k: int
    words: np.ndarray          # uint64[m_bits // 64]

    def might_contain_np(self, key64: np.ndarray) -> np.ndarray:
        """Vectorized membership test → bool ndarray."""
        h1, h2 = _hash_pair(np.ascontiguousarray(key64, dtype=np.int64))
        step = h2 | np.uint64(1)
        mask = np.uint64(self.m_bits - 1)
        out = np.ones(len(key64), dtype=bool)
        for i in range(self.k):
            pos = (h1 + np.uint64(i) * step) & mask
            bit = (self.words[(pos >> np.uint64(6)).astype(np.int64)]
                   >> (pos & np.uint64(63))) & np.uint64(1)
            out &= bit.astype(bool)
        return out

    @property
    def n_set_bits(self) -> int:
        return int(np.unpackbits(self.words.view(np.uint8)).sum())


def _floor_pow2(n: int) -> int:
    return 1 << (n.bit_length() - 1)


def _size_filter(expected: int, fpp: float,
                 max_bits: int) -> tuple[int, int]:
    """Classic Bloom sizing (m = -n·ln p / ln²2, k = m/n·ln 2), m
    rounded UP to a power of two and clamped to the largest power of
    two ≤ ``max_bits`` (the probe's mask/word arithmetic requires a
    power of two)."""
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"build_bloom: fpp must be in (0, 1), got {fpp}")
    if max_bits < 64:
        raise ValueError(
            f"build_bloom: max_bits must be >= 64, got {max_bits}")
    n = max(1, expected)
    m_ideal = -n * math.log(fpp) / (math.log(2) ** 2)
    m_bits = 1 << max(6, math.ceil(math.log2(m_ideal)))
    m_bits = min(m_bits, _floor_pow2(max_bits))
    k = max(1, round(m_bits / n * math.log(2)))
    return m_bits, min(k, 16)


def _cols(on: str | Sequence[str]) -> list[str]:
    cols = [on] if isinstance(on, str) else list(on)
    if not cols:
        raise ValueError("membership: key column list must be non-empty")
    return cols


_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUMERIC = _INTEGRAL + (T.FloatType, T.DoubleType)


def _common_hash_type(lt: T.DataType, rt: T.DataType) -> T.DataType | None:
    """The type BOTH sides must be cast to before ``xxhash64`` so the
    build and probe hash identical bit patterns for join-equal keys.

    ``xxhash64`` is TYPE-SENSITIVE (an int32 ``5`` and an int64 ``5``
    hash differently) while Spark's equi-join coerces both sides to a
    common type — so hashing each side's native type is a Bloom
    false-NEGATIVE factory whenever the dtypes differ. Returns ``None``
    when the types already match (no cast), the coerced numeric type
    when Spark's own join coercion is representable here (integral ×
    integral → bigint; any numeric mix → double, which matches the
    join's equality exactly — two keys equal under the coerced join iff
    equal as doubles — so precision loss above 2^53 merely merges keys
    the JOIN also merges, a phantom member the exact tier repairs), and
    raises for any other differing pair rather than risk silent false
    negatives.

    The integral×float case matters: Spark's join comparison widens
    (long, float) to DOUBLE (findWiderTypeForTwo — probed empirically
    on this Spark: bigint 16777217 vs float 16777216.0f does NOT match
    a plain equi-join), so hashing both sides as double reproduces the
    join's equality exactly; a float-side hash would instead merge
    values beyond float's 24-bit mantissa that the join distinguishes.
    Pinned by test_long_float_keys_follow_spark_join_coercion."""
    if lt == rt:
        return None
    if isinstance(lt, _INTEGRAL) and isinstance(rt, _INTEGRAL):
        return T.LongType()
    if isinstance(lt, _NUMERIC) and isinstance(rt, _NUMERIC):
        return T.DoubleType()
    raise ValueError(
        f"membership: left/right key dtypes {lt.simpleString()} vs "
        f"{rt.simpleString()} differ and are not a supported numeric "
        f"coercion — cast the keys to a common type before the bloom "
        f"join (hashing them as-is would produce false negatives)")


def _join_cast_types(left: DataFrame, right: DataFrame,
                     lcols: Sequence[str],
                     rcols: Sequence[str]) -> list[T.DataType | None]:
    return [_common_hash_type(left.schema[lc].dataType,
                              right.schema[rc].dataType)
            for lc, rc in zip(lcols, rcols)]


def _hash_exprs(cols: Sequence[str],
                cast_types: Sequence[T.DataType | None] | None):
    """The per-column expressions fed to ``xxhash64`` — the stored
    columns are NEVER rewritten (output schemas stay byte-identical to
    the plain joins); only the hash input is coerced. A short
    ``cast_types`` would silently zip-truncate trailing key columns out
    of the hash on one side — the same false-negative factory
    ``_key_pair`` guards against — so mismatched lengths raise."""
    if cast_types is None:
        return [F.col(c) for c in cols]
    if len(cast_types) != len(cols):
        raise ValueError(
            f"membership: cast_types has {len(cast_types)} entries for "
            f"{len(cols)} key columns — they must align")
    return [F.col(c).cast(t) if t is not None else F.col(c)
            for c, t in zip(cols, cast_types)]


def _key_pair(on, right_on) -> tuple[list[str], list[str]]:
    """Normalize (on, right_on) to equal-length column lists — a silent
    zip-truncation here would make the build and probe hash DIFFERENT
    key tuples (a Bloom false-NEGATIVE factory), so mismatched lengths
    are an error, not a truncation."""
    lcols, rcols = _cols(on), _cols(right_on or on)
    if len(lcols) != len(rcols):
        raise ValueError(
            f"membership: on has {len(lcols)} columns but right_on has "
            f"{len(rcols)} — the key tuples must align")
    return lcols, rcols


def _right_keys(right: DataFrame, lcols: Sequence[str],
                rcols: Sequence[str]) -> DataFrame:
    """The exact tier's build keys: right-side columns renamed to the
    probe's names, null-tuple rows dropped, distinct."""
    return (right.select(*[F.col(rc).alias(lc)
                           for lc, rc in zip(lcols, rcols)])
            .where(_all_not_null(list(lcols))).distinct())


def _all_not_null(cols: Sequence[str]):
    pred = F.col(cols[0]).isNotNull()
    for c in cols[1:]:
        pred = pred & F.col(c).isNotNull()
    return pred


def build_bloom(keys: DataFrame, on: str | Sequence[str], *,
                expected: int | None = None,
                fpp: float = 0.01,
                max_bits: int = _MAX_BITS_DEFAULT,
                cast_types: Sequence[T.DataType | None] | None = None
                ) -> BloomFilter:
    """Distributed Bloom build over ``keys[on]`` — a single column or a
    COMPOSITE key (list of columns, hashed together by the same
    multi-argument ``xxhash64`` the probe uses). Rows with a NULL in
    ANY key column are ignored — a NULL key never matches an equality
    join.

    ``expected`` sizes the filter; when omitted, ONE ``count()`` of the
    build side runs first (the build side is the small side by contract
    — at warehouse scale pass the key-cardinality estimate from table
    statistics instead, the same metadata-first convention as
    similarity._corpus_rows). Duplicate keys cost nothing but re-set
    bits, so there is deliberately NO ``distinct()``.

    Plan shape: scan → xxhash64 projection → per-partition bitmap
    (partition-parallel) → ``repartition(1)`` OR-merge — the only
    exchange carries P rows of m/8 bytes each, never keys — → ONE
    collected bitmap row."""
    cols = _cols(on)
    kdf = (keys.select(*[F.col(c) for c in cols])
           .where(_all_not_null(cols))
           .select(F.xxhash64(*_hash_exprs(cols, cast_types))
                   .alias(_KEY64)))
    if expected is None:
        expected = kdf.count()
    m_bits, k = _size_filter(expected, fpp, max_bits)
    n_words = m_bits // 64

    def _partition_bitmap(it: Iterator[pd.DataFrame]
                          ) -> Iterator[pd.DataFrame]:
        words = np.zeros(n_words, dtype=np.uint64)
        mask = np.uint64(m_bits - 1)
        seen = False
        for pdf in it:
            if not len(pdf):
                continue
            seen = True
            h1, h2 = _hash_pair(pdf[_KEY64].to_numpy(np.int64))
            step = h2 | np.uint64(1)
            for i in range(k):
                pos = (h1 + np.uint64(i) * step) & mask
                np.bitwise_or.at(words, (pos >> np.uint64(6)).astype(np.int64),
                                 np.uint64(1) << (pos & np.uint64(63)))
        if seen:
            yield pd.DataFrame({"bitmap": [words.tobytes()]})

    part_maps = kdf.mapInPandas(_partition_bitmap, schema="bitmap binary")

    def _or_merge(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _worker.init()
        acc = np.zeros(n_words, dtype=np.uint64)
        for pdf in it:
            for raw in pdf["bitmap"]:
                acc |= np.frombuffer(raw, dtype=np.uint64)
        yield pd.DataFrame({"bitmap": [acc.tobytes()]})

    rows = (part_maps.repartition(1)
            .mapInPandas(_or_merge, schema="bitmap binary").collect())
    words = (np.frombuffer(rows[0]["bitmap"], dtype=np.uint64).copy()
             if rows else np.zeros(n_words, dtype=np.uint64))
    return BloomFilter(m_bits=m_bits, k=k, words=words)


def _membership_col(spark: SparkSession, bloom: BloomFilter,
                    on: str | Sequence[str],
                    cast_types: Sequence[T.DataType | None] | None = None):
    """``might_contain(on)`` as a Column: bitmap via a SparkContext
    broadcast (one copy per executor, not per task), probed by an
    Arrow-batched pandas_udf over the JVM-computed ``xxhash64(on...)``
    (non-null int64, dtype-stable; composite keys hash all columns
    together). NULL keys → False (never members): the null gate is a
    JVM-side predicate, so null rows never depend on the UDF's value
    for them."""
    bc = spark.sparkContext.broadcast(
        (bloom.m_bits, bloom.k, bloom.words.tobytes()))

    @F.pandas_udf(BooleanType())
    def _might_contain(key64: pd.Series) -> pd.Series:
        m_bits, k, raw = bc.value
        flt = BloomFilter(m_bits=m_bits, k=k,
                          words=np.frombuffer(raw, dtype=np.uint64))
        return pd.Series(flt.might_contain_np(key64.to_numpy(np.int64)))

    cols = _cols(on)
    return _all_not_null(cols) & _might_contain(
        F.xxhash64(*_hash_exprs(cols, cast_types)))


def bloom_prune(df: DataFrame, bloom: BloomFilter,
                on: str | Sequence[str], *,
                cast_types: Sequence[T.DataType | None] | None = None
                ) -> DataFrame:
    """Keep rows whose ``on`` MIGHT be in the filter — a SUPERSET of the
    true members, produced with no shuffle (map-side Filter only).
    ``cast_types`` must repeat whatever coercion the filter was BUILT
    with (``xxhash64`` is type-sensitive — see
    :func:`_common_hash_type`)."""
    return df.where(_membership_col(df.sparkSession, bloom, on,
                                    cast_types))


def bloom_semi_join(left: DataFrame, right: DataFrame,
                    on: str | Sequence[str],
                    right_on: str | Sequence[str] | None = None, *,
                    fpp: float = 0.01, expected: int | None = None,
                    max_bits: int = _MAX_BITS_DEFAULT) -> DataFrame:
    """Exact ``left_semi`` with Bloom pre-pruning: only rows surviving
    the broadcast filter (true members + ~fpp false positives) enter
    the exact join. Bit-for-bit equal to
    ``left.join(right, left[on]==right[right_on], 'left_semi')``."""
    lcols, rcols = _key_pair(on, right_on)
    casts = _join_cast_types(left, right, lcols, rcols)
    bloom = build_bloom(right, rcols, expected=expected, fpp=fpp,
                        max_bits=max_bits, cast_types=casts)
    pruned = bloom_prune(left, bloom, lcols, cast_types=casts)
    return pruned.join(_right_keys(right, lcols, rcols), lcols,
                       "left_semi")


def bloom_anti_join(left: DataFrame, right: DataFrame,
                    on: str | Sequence[str],
                    right_on: str | Sequence[str] | None = None, *,
                    fpp: float = 0.01, expected: int | None = None,
                    max_bits: int = _MAX_BITS_DEFAULT) -> DataFrame:
    """Exact ``left_anti`` with Bloom routing: rows the filter REJECTS
    are definitely non-members and bypass the join entirely (the common
    case — at 100 TB that is most of the table passing through
    map-side); only might-match rows run the exact ``left_anti``.
    Equal to a plain ``left_anti`` up to row order.

    Cost shape: the probe side is read twice (once per branch) but the
    exchange carries only the might-match sliver — at scale two parquet
    scans with pushed filters beat one full-table shuffle. Callers that
    prefer one pass can persist ``left`` first."""
    lcols, rcols = _key_pair(on, right_on)
    casts = _join_cast_types(left, right, lcols, rcols)
    bloom = build_bloom(right, rcols, expected=expected, fpp=fpp,
                        max_bits=max_bits, cast_types=casts)
    member = _membership_col(left.sparkSession, bloom, lcols, casts)
    sure_out = left.where(~member | ~_all_not_null(lcols))
    maybe = left.where(member)
    return sure_out.unionByName(
        maybe.join(_right_keys(right, lcols, rcols), lcols, "left_anti"))
