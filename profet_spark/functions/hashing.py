"""Engine-portable hashing primitives (SURVEY.md §2 'NEW' training-data ops).

Everything here is chosen so the SAME value is computable in Spark SQL and
in the DuckDB oracle, bit for bit:

- ``h32(s)``: first 8 hex digits of md5(s) parsed as an integer — a uniform
  32-bit hash available in both engines (Spark ``conv(substr(md5(s),1,8),
  16,10)``; DuckDB ``CAST('0x'||substr(md5(s),1,8) AS BIGINT)``). Verified
  equal this session on both engines.
- MinHash permutations ``(a*h + b) mod p`` over int64 with p = 2^31 - 1 and
  h pre-reduced mod p, so no intermediate exceeds 2^62 (exact in int64 on
  both engines).
- Integer quantization ``floor(x * 1e6 + 0.5)`` for float vectors, so dot
  products and norms are EXACT int64 sums (order-insensitive) and the final
  cosine is a single IEEE-deterministic double expression.

Design note (100 TB): every helper below is a *narrow* per-row projection
built from JVM higher-order functions (``transform``/``aggregate``/
``filter``) — no UDF, no explode, no shuffle. Shuffles happen only in the
pair-finding operators (operators/dedup.py, operators/similarity.py), on
pre-reduced keys (shingle hashes, band hashes, byte blocks), never on raw
text or vectors.

Reference parity: ProFET's k-mer machinery enumerates n-grams per sequence
([R] ProFET/feat_extract/FeatureGen.py ~L200-260); the shingle helpers here
are the word-level analog used by the dedup/fingerprint family the engine
adds on top (task mandate: dedup + similarity + text analysis).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# MinHash parameters — shared literals between the Spark plan and the DuckDB
# oracle SQL (deterministic, seeded; regenerating must never change them, so
# they are frozen constants, not runtime-generated).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
MINHASH_K = 16  # signature length
# (a, b) pairs: a in [1, p), b in [0, p) — generated once from
# numpy.random.default_rng(20260816) and frozen.
MINHASH_PERMS: list[tuple[int, int]] = [
    (123393401, 295485566), (325160078, 1719885688),
    (239607114, 1279549347), (1943031107, 1580201974),
    (1078156455, 1158667885), (1470120545, 1004126916),
    (1343008841, 848528040), (433882786, 920829463),
    (424836758, 1036482875), (674912463, 1761685205),
    (1170454109, 1922145947), (490919193, 113229832),
    (115210587, 1528591100), (2139245632, 1013733486),
    (1205066770, 961883866), (1209483262, 1409296085),
]
LSH_BANDS = 8  # 8 bands x 2 rows over the 16-long signature
LSH_ROWS = 2

# ASCII whitespace class shared by every tokenizer/normalizer and its
# DuckDB twin. Java regex \s includes \x0B (vertical tab) while RE2's
# does not — spelling the class out is what makes the cross-engine
# bitwise claim true on ALL inputs, not just inputs without \x0B
# (probed divergence: Spark split 'a\x0bb' -> [a, b], DuckDB -> [a\x0bb]).
# Spark-side behavior is unchanged: the explicit class equals Java's \s
# on every string. Both engines parse the \x0B hex escape identically.
WS_CHARS = " \\t\\n\\x0B\\f\\r"
WS_RE = f"[{WS_CHARS}]+"

def h32(col: Column | str) -> Column:
    """Portable 32-bit string hash: int(md5(s)[:8], 16). JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint")


def h32_sql_duckdb(expr: str) -> str:
    """The DuckDB-side expression computing the same value as :func:`h32`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def h32_hi(col: Column | str) -> Column:
    """Second portable 32-bit hash from the SAME md5: int(md5(s)[8:16], 16).

    Together with :func:`h32` this yields 64 independent uniform bits per
    input at the cost of one md5 — used by the 64-bit SimHash (the 32-bit
    form's 4x256 block-join key space degenerates to O(n^2/1024) candidate
    pairs at 10^9+ docs; 64 bits with 16-bit blocks gives 4x65536 keys)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("bigint")


def h32_hi_sql_duckdb(expr: str) -> str:
    """The DuckDB-side expression computing the same value as :func:`h32_hi`."""
    return f"CAST(('0x' || substr(md5({expr}), 9, 8)) AS BIGINT)"


def words(text: Column | str, lower: bool = True) -> Column:
    """Whitespace tokenization; empty tokens removed (JVM-side)."""
    c = F.col(text) if isinstance(text, str) else text
    if lower:
        c = F.lower(c)
    # no trim(): Spark's strips only ' ' while DuckDB's strips all unicode
    # whitespace — leading/trailing runs just yield empty tokens, filtered
    return F.filter(F.split(c, WS_RE), lambda w: w != F.lit(""))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Array of word k-gram shingle strings per row — a narrow projection
    (no explode). Rows with fewer than k words yield an empty array."""
    w = words(text)
    n = F.size(w)
    mk = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + F.lit(j)) for j in range(k)]
    )
    return F.when(
        n >= k, F.transform(F.sequence(F.lit(1), n - (k - 1)), mk)
    ).otherwise(F.array().cast("array<string>"))


def shingle_hashes(text: Column | str, k: int = 3) -> Column:
    """Distinct, sorted h32 hashes of the word k-gram shingles of ``text``.

    Sorted so downstream array ops (intersections, signatures) are
    order-deterministic regardless of upstream row layout."""
    sh = word_shingles(text, k)
    return F.array_sort(F.array_distinct(F.transform(sh, h32)))


def minhash_signature(hashes: Column) -> Column:
    """MinHash signature (array<bigint>, length MINHASH_K) from an array of
    shingle hashes. Pure higher-order functions — zero shuffle, zero Python.

    Empty shingle sets get signature [p, p, ... ] (sentinel = modulus, which
    no real permuted hash can reach), keeping the column non-null."""
    def one(a: int, b: int) -> Column:
        permuted = F.transform(
            hashes,
            lambda x: (F.lit(a) * (x % F.lit(MINHASH_P)) + F.lit(b)) % F.lit(MINHASH_P),
        )
        return F.coalesce(F.array_min(permuted), F.lit(MINHASH_P))

    return F.array(*[one(a, b) for a, b in MINHASH_PERMS])


def band_hashes(signature: Column, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    """LSH band digests: array<string> of md5 over (band index, band's
    slice of the signature). Docs sharing ANY band digest become candidate
    pairs.

    The band index is part of the digest: without it, equal value-slices
    in different band positions collide — guaranteed for the
    empty-shingle sentinel signature (all 16 entries = MINHASH_P), whose
    8 identical digests inflated bucket counts 8x against ``max_bucket``
    and multiplied candidate-join work. DuckDB twin:
    __spark_entry__._duck_minhash_lsh_sql (same '<b>,<m>,<m>' preimage)."""
    return F.array(*[
        F.md5(F.concat_ws(",", F.lit(str(b)), *[
            F.element_at(signature, b * rows + r + 1).cast("string")
            for r in range(rows)
        ]))
        for b in range(bands)
    ])


def quantize_vec(vec: Column | str, scale: float = 1e6) -> Column:
    """float array -> exact int64 array via floor(x*scale + 0.5); makes dot
    products and squared norms exact (order-insensitive) integer sums."""
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(
        c, lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast("bigint")
    )


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors (JVM fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


def cosine_from_quantized(dot_q: Column, norm_a: Column, norm_b: Column) -> Column:
    """IEEE-deterministic cosine from exact integer dot/norms: every input
    is an exact int64, so double conversion, multiply, sqrt and divide are
    all correctly-rounded IEEE ops — bitwise identical across engines."""
    return dot_q.cast("double") / F.sqrt(norm_a.cast("double") * norm_b.cast("double"))
