"""Corpus-level training-data pipeline operators (P1-P10).

The operations a 100 TB pretraining-data pipeline runs after curation
(dedup/quality, operators/dedup.py + functions/textstats.py) and before
training: deterministic split assignment, stratified subsampling,
sequence packing, and TF-IDF term weighting. Like every operator in this
engine they are built for bitwise SQL-oracle grading (portable h32
hashing, exact-int derivations, IEEE-deterministic float expressions —
see functions/hashing.py) and for 1000-executor scale (narrow projections,
no driver-side data paths — :func:`pack_chunks`' partition offsets are a
P-row in-DAG window, not a collect).

- P1 :func:`hash_split` — train/val/test labels from a salted portable
  hash of the id: reproducible across runs, engines, and cluster sizes,
  and stable under corpus growth (a doc's split never changes when other
  docs are added). Pure map-side projection, zero shuffle.
- P2 :func:`stratified_sample` — per-stratum deterministic downsampling
  by the same salted-hash construction. Zero shuffle; the filter runs at
  the scan.
- P3 :func:`pack_chunks` — GPT-style concat-and-chunk sequence packing:
  documents in a global deterministic order are laid head-to-tail and cut
  into fixed ``capacity`` chunks. Implemented as a distributed prefix sum
  (range partition -> in-partition Arrow cumsum with O(1) carry ->
  P-row partition-offset window + broadcast join, one lazy DAG), NOT a
  single-partition global window over the data, so it scales; output is
  invariant to the partition count.
- P4 :func:`tfidf` — term frequency x inverse document frequency over
  the whitespace word tokenization shared with textstats. The score uses
  the division-only smooth form ``tf * (N+1) / (df+1)`` so every arithmetic
  step is a correctly-rounded IEEE op reproduced bitwise by the oracle
  (``ln`` would be libm-dependent across engines).
- P5 :func:`hash_ring_negatives` — deterministic contrastive negative
  sampling via salted hash-ring successors within hash buckets; one
  narrow exchange.
- P6 :func:`decontaminate` — benchmark decontamination by word n-gram
  overlap against a held-out eval set; broadcast probe set, the wide
  corpus never shuffles.
- P7 :func:`mixture_weights` — per-domain UP-sampling (the training-mix
  "books x2.5" step, the complement of P2's down-sampling): each row is
  replicated floor(w) or ceil(w) times, the fractional part decided by
  the same salted-hash bucket as P1/P2, so the realized mix converges to
  the target weights deterministically. Epoch-explode + projection, zero
  shuffle.
- P8 :func:`chunk_documents` — overlapping fixed-window chunking of
  long documents (P3's complement; real pipelines run P8 then P3).
- P9 :func:`build_vocab` — top-k vocabulary with exact cumulative
  coverage curve; O(top_k) past the token-count aggregate.
- P10 :func:`cap_per_key` — per-key (per-domain) frequency capping with
  a fair salted-hash survivor set; the hot-key window is bounded by an
  exact hash-threshold pre-filter, not by hoping the key is small.

Reference parity: ProFET exposes no corpus-level pipeline (single-process
per-sequence loop); these are the task-mandated training-data additions
(SURVEY.md §2 'NEW' tier) alongside dedup/similarity/textstats.
"""

from __future__ import annotations

from typing import Iterable, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from profet_spark import _worker
from profet_spark.functions import hashing as H

#: basis-point modulus shared by P1/P2 and their oracles.
SPLIT_BP = 10_000


def _bucket_bp(id_col: str, salt: str) -> F.Column:
    """Uniform bucket in [0, SPLIT_BP) from the salted portable h32.

    ``h32`` is uniform on [0, 2^32); 2^32 is not a multiple of 10^4, so
    buckets carry a ~1e-5 relative modulo bias — irrelevant for split
    ratios, and identical in both engines.

    A NULL id raises: ``concat`` would null the salted key, silently
    assigning the row to NO split (and dropping it from every sample,
    even at rate 1.0) — fail-fast beats silent data loss for a
    train/val/test assignment."""
    id_str = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(
            f"hash bucket: NULL {id_col} — split/sample ids must be "
            f"non-null")).cast("string"),
    ).otherwise(F.col(id_col).cast("string"))
    salted = F.concat(F.lit(f"{salt}:"), id_str)
    return H.h32(salted) % SPLIT_BP


def bucket_bp_sql_duckdb(id_expr: str, salt: str) -> str:
    """DuckDB twin of :func:`_bucket_bp` (same md5-derived h32, same
    basis-point modulus)."""
    h = H.h32_sql_duckdb(f"'{salt}:' || CAST({id_expr} AS VARCHAR)")
    return f"({h} % {SPLIT_BP})"


def hash_split(df: DataFrame, weights: Mapping[str, float],
               id_col: str = "doc_id", salt: str = "split",
               out_col: str = "split") -> DataFrame:
    """P1: deterministic train/val/test split assignment.

    ``weights`` maps label -> fraction; fractions are snapped to integer
    basis points (sum must reach exactly ``SPLIT_BP``) so the boundaries
    are exact integers, never float comparisons. Labels are assigned by
    cumulative ranges in the mapping's iteration order. Adds ``out_col``
    (the label) and ``{out_col}_bucket`` (the raw bucket, kept so tests
    and oracles can audit boundary behavior).

    Scale: a single codegen'd projection — no shuffle, no UDF; the split
    of a given id is a pure function of (salt, id), so it is stable under
    corpus growth and reshuffling and consistent across tables keyed by
    the same id.
    """
    bps = {k: round(w * SPLIT_BP) for k, w in weights.items()}
    total = sum(bps.values())
    if total != SPLIT_BP:
        raise ValueError(
            f"hash_split: weights must sum to 1.0 within 1e-4 resolution "
            f"(got basis points {bps}, sum {total} != {SPLIT_BP})")
    if any(v < 0 for v in bps.values()):
        raise ValueError(f"hash_split: negative weight in {bps}")
    bucket = _bucket_bp(id_col, salt)
    out = df.withColumn(f"{out_col}_bucket", bucket)
    expr = None
    acc = 0
    for label, bp in bps.items():
        acc += bp
        cond = F.col(f"{out_col}_bucket") < acc
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return out.withColumn(out_col, expr)


def split_case_sql_duckdb(weights: Mapping[str, float],
                          bucket_expr: str) -> str:
    """The CASE expression the DuckDB oracle uses for :func:`hash_split`
    labels (same cumulative basis-point boundaries, same order)."""
    bps = {k: round(w * SPLIT_BP) for k, w in weights.items()}
    acc = 0
    arms = []
    for label, bp in bps.items():
        acc += bp
        arms.append(f"WHEN {bucket_expr} < {acc} THEN '{label}'")
    return "CASE " + " ".join(arms) + " END"


def stratified_sample(df: DataFrame, rates: Mapping[str, float] | float,
                      strata_col: str | None = None,
                      id_col: str = "doc_id",
                      salt: str = "sample") -> DataFrame:
    """P2: deterministic (per-stratum) downsampling.

    ``rates`` is either one fraction for the whole frame or a mapping
    stratum-value -> fraction over ``strata_col`` (strata missing from the
    mapping are dropped, rate 0 — the explicit-allowlist convention of
    curation pipelines). A row is kept iff its salted hash bucket falls
    below ``rate * SPLIT_BP``, so samples are reproducible, nested
    (rate 0.1 ⊂ rate 0.2 under the same salt), and consistent across
    tables sharing the id space.

    Scale: zero shuffle — the keep-predicate is a scan-level filter; the
    stratum rate lookup is a literal CASE, not a join.
    """
    def _bp(r: float, label: str) -> int:
        if not 0.0 <= r <= 1.0:
            raise ValueError(
                f"stratified_sample: rate for {label} must be in [0, 1], "
                f"got {r}")
        return round(r * SPLIT_BP)

    bucket = _bucket_bp(id_col, salt)
    if isinstance(rates, Mapping):
        if strata_col is None:
            raise ValueError("stratified_sample: per-stratum rates require "
                             "strata_col")
        if not rates:
            raise ValueError(
                "stratified_sample: empty rates mapping — pass at least "
                "one stratum (strata absent from the mapping are dropped)")
        expr = None
        for value, r in rates.items():
            cond = F.col(strata_col) == value
            bp = F.lit(_bp(r, repr(value)))
            expr = F.when(cond, bp) if expr is None else expr.when(cond, bp)
        rate_bp = expr.otherwise(F.lit(0))
    else:
        rate_bp = F.lit(_bp(float(rates), "the frame"))
    return df.where(bucket < rate_bp)


def mixture_weights(df: DataFrame, weights: Mapping[str, float],
                    strata_col: str, id_col: str = "doc_id",
                    salt: str = "mix", max_weight: float = 64.0,
                    out_col: str = "rep") -> DataFrame:
    """P7: deterministic per-domain oversampling for training mixtures.

    ``weights`` maps stratum value -> target repetition weight (e.g.
    ``{"books": 2.5, "web": 1.0}``): each row is emitted floor(w) or
    ceil(w) times — the fractional part is granted iff the row's salted
    hash bucket falls below ``frac(w) * SPLIT_BP``, the same portable
    construction as P1/P2, so the realized mixture converges to the
    target deterministically, reproducibly across engines/partitionings,
    and stably under corpus growth. Weights below 1 down-sample with the
    same rule (``0.3`` keeps 30%), so one operator expresses a full
    mixture spec. Strata absent from the mapping are DROPPED (weight 0
    — P2's explicit-allowlist convention). ``out_col`` numbers the
    copies 1..n so downstream shuffles (P3 packing order, B2
    augmentation seeds) can key on (id, rep) and treat each copy as a
    distinct example.

    Scale: a literal CASE for the weight lookup, the P1 hash bucket, and
    one ``explode(sequence(...))`` — zero shuffle, zero Python; output
    bytes scale by the mixture's mean weight exactly as the training set
    does. ``max_weight`` guards against a typo'd weight exploding the
    corpus (raise, don't 1000x the output silently).
    """
    if not weights:
        raise ValueError(
            "mixture_weights: empty weights mapping — pass at least one "
            "stratum (strata absent from the mapping are dropped)")
    if out_col in df.columns:
        raise ValueError(
            f"mixture_weights: column {out_col!r} already exists on the "
            "input — rename it or pass a different out_col")
    base = floor_bp = None
    for value, w in weights.items():
        w = float(w)
        if not 0.0 <= w <= max_weight:
            raise ValueError(
                f"mixture_weights: weight for {value!r} must be in "
                f"[0, {max_weight}], got {w}")
        whole = int(w)
        frac_bp = round((w - whole) * SPLIT_BP)
        cond = F.col(strata_col) == value
        b = F.lit(whole)
        fb = F.lit(frac_bp)
        base = F.when(cond, b) if base is None else base.when(cond, b)
        floor_bp = (F.when(cond, fb) if floor_bp is None
                    else floor_bp.when(cond, fb))
    base = base.otherwise(F.lit(0))
    floor_bp = floor_bp.otherwise(F.lit(0))
    bucket = _bucket_bp(id_col, salt)
    copies = base + (bucket < floor_bp).cast("int")
    out = df.withColumn("__n_rep", copies).where(F.col("__n_rep") > 0)
    # explode() cannot nest inside cast() — cast the emitted column after
    return (out.withColumn(
        out_col, F.explode(F.sequence(F.lit(1), F.col("__n_rep"))))
        .withColumn(out_col, F.col(out_col).cast("bigint"))
        .drop("__n_rep"))


def pack_chunks(df: DataFrame, tokens_col: str, capacity: int,
                order_col: str = "doc_id", n_partitions: int | None = None,
                persist: bool = True) -> DataFrame:
    """P3: concat-and-chunk sequence packing over a global document order.

    Documents sorted by ``order_col`` (must be unique — ties would make
    the global order, and thus every offset, ambiguous) are laid
    head-to-tail; training chunk ``i`` covers global token offsets
    ``[i*capacity, (i+1)*capacity)``. Returns one row per document:

    ``(order_col, n_tokens, start_offset, chunk_id, chunk_offset)``

    where ``chunk_id``/``chunk_offset`` locate the document's first token
    (a document longer than the remaining room spans into following
    chunks, as concat-and-chunk intends).

    Plan (the 100 TB shape — NO global single-partition window):

    1. ``repartitionByRange(order_col)`` + sort-within-partition: range
       exchange of the narrow (order, tokens) projection only;
    2. in-partition exclusive-scan via ``mapInPandas`` with an O(1)
       running carry across Arrow batches (same pattern as the as-of
       merge kernel, operators/asof.py);
    3. per-partition totals (exactly P rows, one per range partition) are
       exclusive-prefix-summed by a single-partition window — P is the
       partition count, so this window is O(parallelism), never O(rows) —
       and broadcast-joined back as partition offsets.

    Everything stays in ONE lazy DAG: the range exchange appears under
    both the totals branch and the probe branch, and Spark's exchange
    reuse executes it once per action, so the ``_pid`` layout the offsets
    were summed over is by construction the layout the join sees. (An
    earlier revision collected the totals to the driver between two
    actions; ``repartitionByRange`` samples its boundaries with a
    per-execution seed, so under ``persist=False`` — or cache eviction —
    the two actions could disagree on the layout and mis-join offsets.
    Plan-asserted in tests/test_corpus.py: exactly one range exchange.)

    The result is the exact global cumulative sum: range-boundary
    placement cancels out, so the output is invariant to ``n_partitions``
    (property-tested). ``persist`` caches the scanned projection that is
    referenced by both the offsets aggregation and the final join (same
    knob convention as operators/dedup.py); with it off the scan kernel
    runs twice per action over the reused shuffle output — correctness
    is unaffected either way.
    """
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    if capacity <= 0:
        raise ValueError(f"pack_chunks: capacity must be > 0, got {capacity}")
    spark = df.sparkSession
    dtypes = dict(df.dtypes)
    if dtypes[tokens_col] not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"pack_chunks: tokens_col must be integral, got "
            f"{dtypes[tokens_col]} (token counts are exact by contract)")
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    base = (df.select(F.col(order_col), F.col(tokens_col).cast("bigint")
                      .alias("n_tokens"))
            .repartitionByRange(n_parts, F.col(order_col))
            .sortWithinPartitions(order_col)
            .withColumn("_pid", F.spark_partition_id()))

    out_schema = (f"`{order_col}` {dtypes[order_col]}, n_tokens bigint, "
                  f"_pid int, _cum bigint")

    def scan_kernel(batches):
        _worker.init()
        carry = 0
        for pdf in batches:
            if pdf.empty:
                continue
            if pdf["n_tokens"].isna().any():
                # nullable bigint arrives as float64 NaN; without this the
                # NaN would pass the < 0 check, poison the cumsum, and
                # surface as a cryptic int(NaN) failure at the carry
                raise ValueError("pack_chunks: NULL token count")
            if (pdf["n_tokens"] < 0).any():
                raise ValueError("pack_chunks: negative token count")
            out = pdf.copy()
            out["_cum"] = pdf["n_tokens"].cumsum() + carry
            carry = int(out["_cum"].iloc[-1])
            yield out

    local = base.mapInPandas(scan_kernel, out_schema)
    if persist:
        local = local.persist()
    # partition totals: the max in-partition inclusive cumsum IS the
    # partition's total (token counts are non-negative). Exclusive prefix
    # over ascending _pid (range partitions: ascending pid = ascending
    # keys) via a single-partition window — P rows only, O(parallelism).
    # The constant partitionBy is semantically a no-op (one partition
    # either way) but keeps executor logs clean of the scary-but-wrong
    # "WindowExec: No Partition Defined" warning: the frame is over
    # partition COUNT rows, not data rows (plan-asserted in
    # tests/test_corpus.py). pmod(_pid, 1) == 0 always; a plain literal
    # would be constant-folded out of the partition spec and the warning
    # would return.
    from pyspark.sql.window import Window

    wp = (Window.partitionBy(F.pmod(F.col("_pid"), F.lit(1))).orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    odf = (local.groupBy("_pid").agg(F.max("_cum").alias("_t"))
           .select("_pid",
                   F.coalesce(F.sum("_t").over(wp), F.lit(0)).alias("_off")))
    start = F.col("_off") + F.col("_cum") - F.col("n_tokens")
    return (local.join(F.broadcast(odf), "_pid")
            .withColumn("start_offset", start)
            .withColumn("chunk_id",
                        F.expr(f"start_offset DIV {capacity}"))
            .withColumn("chunk_offset", F.col("start_offset") % capacity)
            .select(order_col, "n_tokens", "start_offset", "chunk_id",
                    "chunk_offset"))


def pack_chunks_sharded(df: DataFrame, tokens_col: str, capacity: int,
                        shard_col: str, order_col: str = "doc_id") -> DataFrame:
    """P3 variant: concat-and-chunk WITHIN each shard independently.

    The production shape when chunks must not cross a boundary (per-split,
    per-source, or per-language packing): documents are ordered by
    ``order_col`` within each ``shard_col`` value and packed against a
    per-shard offset 0. Returns one row per document:

    ``(shard_col, order_col, n_tokens, start_offset, chunk_id,
    chunk_offset)`` — offsets/chunk ids are shard-local.

    Unlike the global :func:`pack_chunks` (which needs the distributed
    prefix-sum machinery because a total order has no parallel unit), the
    sharded form is a plain window aggregate partitioned by the shard key
    — Catalyst distributes it across shards natively, so this is a pure
    JVM plan with ONE hash exchange on ``shard_col``. Shard skew is the
    standard window-skew case: pick a shard key with bounded cardinality
    per value (split × source × lang, not a single global shard).
    """
    from pyspark.sql.window import Window

    if capacity <= 0:
        raise ValueError(f"pack_chunks_sharded: capacity must be > 0, "
                         f"got {capacity}")
    dtypes = dict(df.dtypes)
    if dtypes[tokens_col] not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"pack_chunks_sharded: tokens_col must be integral, got "
            f"{dtypes[tokens_col]}")
    w = (Window.partitionBy(shard_col).orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # same NULL/negative contract as pack_chunks' Arrow kernel, enforced
    # JVM-side (a window sum would silently treat NULL as 0 and a
    # negative count would silently walk offsets backwards)
    n_tok = F.when(
        F.col(tokens_col).isNull() | (F.col(tokens_col) < 0),
        F.raise_error(F.concat(
            F.lit("pack_chunks_sharded: NULL or negative token count: "),
            F.coalesce(F.col(tokens_col).cast("string"),
                       F.lit("NULL")))).cast("bigint"),
    ).otherwise(F.col(tokens_col).cast("bigint"))
    cum = F.sum(n_tok).over(w)
    return df.select(
        shard_col, order_col, n_tok.alias("n_tokens"),
        (cum - n_tok).alias("start_offset"),
    ).select(
        shard_col, order_col, "n_tokens", "start_offset",
        F.expr(f"start_offset DIV {capacity}").alias("chunk_id"),
        (F.col("start_offset") % capacity).alias("chunk_offset"))


def tfidf(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
          min_df: int = 1, n_docs: int | None = None) -> DataFrame:
    """P4: TF-IDF term weighting over the shared word tokenization.

    Returns ``(doc_id, word, tf, df, tfidf)`` with
    ``tfidf = tf * (N+1) / (df+1)`` — the division-only smooth form:
    ``tf``/``df``/``N`` are exact integers and the two float ops
    (multiply, divide) are correctly-rounded IEEE doubles, so the DuckDB
    oracle reproduces the score bit for bit (a ``ln``-based idf would be
    libm-dependent across engines). ``min_df`` drops rare terms;
    ``n_docs`` lets callers pass a known corpus size (table stats) to
    skip the count scan.

    Scale: tf is one exchange on the narrow (doc_id, word-hash) key space
    with map-side partial aggregation; df is a second narrow aggregate of
    tf's output (never re-reads text). The tf⋈df join shuffles on
    ``word`` — stopword keys are hot by construction, which is exactly
    the AQE skew-join case (one df row per key gets replicated against
    the split tf partitions); candidates below
    ``autoBroadcastJoinThreshold`` broadcast instead.
    """
    if n_docs is None:
        n_docs = df.count()  # exact corpus size; one columnar count scan
    wordrows = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(H.words(F.col(text_col))).alias("word"))
    tf = wordrows.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = (tf.groupBy("word").agg(F.count("*").alias("df"))
             .where(F.col("df") >= min_df))
    n1 = float(n_docs + 1)
    score = ((F.col("tf").cast("double") * F.lit(n1))
             / (F.col("df") + F.lit(1)).cast("double"))
    return (tf.join(dfreq, "word")
            .select("doc_id", "word", "tf", "df",
                    score.alias("tfidf")))


def hash_ring_negatives(df: DataFrame, id_col: str = "doc_id", k: int = 4,
                        n_buckets: int = 64,
                        salt: str = "neg") -> DataFrame:
    """P5: deterministic negative sampling for contrastive training —
    ``k`` pseudo-random partners per id, reproducible across runs,
    engines, and corpus repartitioning. For each round ``r`` in [1, k],
    every id gets a salted ring position ``h32('{salt}:r:' || id)``; its
    negative is the NEXT id on the ring (wrapping), restricted to the
    id's hash bucket. Buckets are themselves hash-uniform, so the
    within-bucket wrap preserves the uniform-random pairing while making
    the op fully distributed: the only shuffle carries ``(r, bucket, h,
    id)`` — ~24 bytes/row × k — and each window partition holds
    ~|ids| × k / n_buckets rows. No per-row Python, no driver collect.

    Returns one row per (id, round): ``(id_col, r, neg_id)``. ``neg_id``
    is NULL when the id is alone in its bucket for that round (rare for
    |ids| ≫ n_buckets; raise ``n_buckets`` only as the corpus grows).
    Ids must be non-null and unique (the usual corpus contract); rounds
    use independent salts, so the k negatives of an anchor are
    independent draws (collisions across rounds possible, as in any
    with-replacement sampler).
    """
    if k < 1:
        raise ValueError("hash_ring_negatives: k must be >= 1")
    if n_buckets < 1:
        raise ValueError("hash_ring_negatives: n_buckets must be >= 1")
    guarded = F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(
            f"hash_ring_negatives: NULL {id_col} — negatives are a pure "
            "function of the id")).cast("string"),
    ).otherwise(F.col(id_col).cast("string"))
    rep = (df.select(F.col(id_col),
                     F.explode(F.sequence(F.lit(1), F.lit(k))).alias("r"))
           .withColumn("r", F.col("r").cast("bigint")))
    h = H.h32(F.concat(F.lit(f"{salt}:"), F.col("r").cast("string"),
                       F.lit(":"), guarded))
    b = rep.select(id_col, "r", h.alias("h")) \
           .withColumn("bucket", F.col("h") % n_buckets)
    from pyspark.sql.window import Window

    w = Window.partitionBy("r", "bucket").orderBy("h", id_col)
    neg = F.coalesce(F.lead(id_col).over(w), F.first(id_col).over(w))
    return (b.withColumn("_neg", neg)
            .select(id_col, "r",
                    F.when(F.col("_neg") == F.col(id_col), F.lit(None))
                    .otherwise(F.col("_neg")).alias("neg_id")))


def decontaminate(docs: DataFrame, eval_docs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  eval_text_col: str | None = None, n: int = 13,
                  min_hits: int = 1, mode: str = "flag",
                  broadcast: bool = True) -> DataFrame:
    """P6: benchmark decontamination — flag (or drop) corpus documents
    that share any word ``n``-gram with a held-out evaluation set.

    The standard pretraining hygiene step (13-gram overlap is the
    convention GPT-3/PaLM/Llama report): a training document that
    contains a verbatim n-gram from a benchmark leaks the benchmark into
    the model. ``mode='flag'`` returns ``docs`` plus three audit columns
    — ``n_shingles`` (distinct word n-grams in the doc), ``n_contaminated``
    (how many of them occur anywhere in ``eval_docs``), ``contaminated``
    (``n_contaminated >= min_hits``); ``mode='drop'`` returns only the
    clean rows with the original columns.

    Shingling is the shared portable tokenization
    (:func:`~profet_spark.functions.hashing.shingle_hashes`: lowercase,
    whitespace words, distinct h32 hashes), so the result is bitwise
    reproducible by the DuckDB oracle and insensitive to row layout.

    Scale: the eval side reduces to its DISTINCT n-gram hash set — for
    any real benchmark suite that is MBs, broadcast it (``broadcast=True``)
    and the contamination join is map-side; the corpus side is a narrow
    ``(id, h)`` explode, and the only shuffle is the per-doc hit count on
    the id key. The hit table holds ONLY contaminated ids, so attaching
    it back to ``docs`` broadcasts too — the wide corpus never shuffles.
    Set ``broadcast=False`` (huge eval set / rampant contamination) to
    let AQE pick the join strategy instead. Cost note: ``mode='flag'``
    evaluates the per-doc shingle set twice — once exploded for the hit
    count, once for ``n_shingles`` (two branches of a lazy DAG) —
    roughly doubling the hash CPU; ``mode='drop'`` pays one pass.

    Reference parity: ProFET has no corpus hygiene (single-process
    per-sequence loop, [R] FeatureGen.py ~L600-700 walks files as-is);
    this is part of the task-mandated training-data tier alongside
    dedup (operators/dedup.py) and split assignment (:func:`hash_split`).
    """
    if n < 1:
        raise ValueError(f"decontaminate: n must be >= 1, got {n}")
    if min_hits < 1:
        raise ValueError(
            f"decontaminate: min_hits must be >= 1, got {min_hits}")
    if mode not in ("flag", "drop"):
        raise ValueError(f"decontaminate: mode must be 'flag' or 'drop', "
                         f"got {mode!r}")
    reserved = ("__decon_hits",) + (
        ("n_shingles", "n_contaminated", "contaminated")
        if mode == "flag" else ())
    for c in reserved:
        if c in docs.columns:
            raise ValueError(
                f"decontaminate: docs already has a {c!r} column — rename "
                "it first (output/internal name collision)")
    hint = F.broadcast if broadcast else (lambda d: d)
    probes = (eval_docs
              .select(F.explode(H.shingle_hashes(
                  F.col(eval_text_col or text_col), n)).alias("h"))
              .distinct())
    grams = docs.select(
        F.col(id_col),
        F.explode(H.shingle_hashes(F.col(text_col), n)).alias("h"))
    hits = (grams.join(hint(probes), "h")
            .groupBy(id_col)
            .agg(F.count("*").alias("__decon_hits")))
    flagged = docs.join(hint(hits), id_col, "left")
    n_cont = F.coalesce(F.col("__decon_hits"), F.lit(0))
    if mode == "drop":
        return (flagged.where(n_cont < min_hits)
                .select(*docs.columns))
    return flagged.select(
        *docs.columns,
        F.size(H.shingle_hashes(F.col(text_col), n)).alias("n_shingles"),
        n_cont.alias("n_contaminated"),
        (n_cont >= min_hits).alias("contaminated"))


def chunk_documents(df: DataFrame, chunk_chars: int, stride: int,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """P8: overlapping fixed-window document chunking (context-window
    splitting for long documents — the pretraining complement of P3's
    concat-and-chunk: P3 packs SHORT docs together, P8 splits LONG docs
    apart; real pipelines run P8 then P3).

    Chunk ``i`` covers characters ``[i*stride, i*stride + chunk_chars)``;
    the number of chunks for a document of length ``L`` is::

        n_chunks(L) = 1                            if L <= chunk_chars
                      1 + ceil((L - chunk_chars) / stride)   otherwise

    so coverage is total (the last chunk always reaches the end of the
    document), no chunk starts at/after the end, and the final chunk's
    length is always strictly greater than the overlap
    ``chunk_chars - stride`` — no degenerate all-overlap tails. An empty
    document yields exactly one empty chunk (every doc survives chunking;
    droppers filter on ``chunk_len`` downstream). Character windows, not
    token windows, because ``substring`` is exact and engine-portable;
    both Spark and DuckDB index strings by CHARACTER, so the oracle is
    bitwise even on multi-byte unicode.

    Returns one row per chunk:

    ``(id_col, chunk_idx, chunk_start, chunk_len, n_chunks, chunk_text)``

    with ``chunk_start`` 0-based and ``chunk_idx`` in ``[0, n_chunks)``.

    Scale: a single codegen'd ``explode(sequence)`` projection — zero
    shuffle, zero Python, no window (plan-asserted in
    tests/test_corpus.py). Output size is ~``L/stride`` rows per doc; the
    ceil uses exact integer arithmetic (``DIV`` on a non-negative
    numerator), never float.

    Reference parity: ProFET truncates/drops long sequences at windowing
    time ([R] FeatureGen.py sliding-window loops); corpus-scale chunking
    is part of the task-mandated training-data tier.
    """
    if chunk_chars < 1:
        raise ValueError(
            f"chunk_documents: chunk_chars must be >= 1, got {chunk_chars}")
    if not 1 <= stride <= chunk_chars:
        raise ValueError(
            f"chunk_documents: stride must be in [1, chunk_chars"
            f"={chunk_chars}], got {stride} (stride > chunk_chars would "
            "leave uncovered gaps between consecutive chunks)")
    for c in ("chunk_idx", "chunk_start", "chunk_len", "n_chunks",
              "chunk_text"):
        if c in df.columns:
            raise ValueError(
                f"chunk_documents: input already has a {c!r} column — "
                "rename it first (output name collision)")
    txt = F.when(
        F.col(text_col).isNull(),
        F.raise_error(F.lit(
            f"chunk_documents: NULL {text_col} — chunking is a pure "
            "function of the text; filter or fill NULLs first"))
        .cast("string"),
    ).otherwise(F.col(text_col))
    ln = F.length(txt)
    # exact integer ceil: numerator >= 1 in the long branch, so DIV
    # (truncating) == floor and the +stride-1 trick is overflow-safe for
    # any realistic document (L < 2^62)
    n_chunks = F.when(ln <= chunk_chars, F.lit(1).cast("bigint")).otherwise(
        F.lit(1).cast("bigint")
        + F.expr(f"(length({text_col}) - {chunk_chars} + {stride} - 1) "
                 f"DIV {stride}"))
    out = (df.select(F.col(id_col), txt.alias("__p8_txt"),
                     n_chunks.alias("n_chunks"))
           .select(id_col, "__p8_txt", "n_chunks",
                   F.explode(F.sequence(
                       F.lit(0).cast("bigint"),
                       F.col("n_chunks") - F.lit(1))).alias("chunk_idx")))
    start = (F.col("chunk_idx") * stride).cast("bigint")
    chunk = F.expr(f"substring(__p8_txt, CAST(chunk_idx * {stride} + 1 "
                   f"AS INT), {chunk_chars})")
    return (out.withColumn("chunk_start", start)
            .withColumn("chunk_text", chunk)
            .withColumn("chunk_len",
                        F.length("chunk_text").cast("bigint"))
            .select(id_col, "chunk_idx", "chunk_start", "chunk_len",
                    "n_chunks", "chunk_text"))


def chunk_documents_sql_duckdb(chunk_chars: int, stride: int,
                               table: str = "documents",
                               text_col: str = "text",
                               id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`chunk_documents`: same n_chunks formula
    (integer ``//`` on the same non-negative numerator), same 1-based
    ``substr`` window, same character semantics."""
    return f"""
        WITH n AS (
          SELECT {id_col}, {text_col} AS t,
                 CASE WHEN length({text_col}) <= {chunk_chars}
                      THEN CAST(1 AS BIGINT)
                      ELSE CAST(1 + (length({text_col}) - {chunk_chars}
                                     + {stride} - 1) // {stride} AS BIGINT)
                 END AS n_chunks
          FROM {table}),
        e AS (
          SELECT {id_col}, t, n_chunks,
                 CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_idx
          FROM n)
        SELECT {id_col}, chunk_idx,
               CAST(chunk_idx * {stride} AS BIGINT) AS chunk_start,
               CAST(length(substr(t, CAST(chunk_idx * {stride} + 1 AS INT),
                                  {chunk_chars})) AS BIGINT) AS chunk_len,
               n_chunks,
               substr(t, CAST(chunk_idx * {stride} + 1 AS INT),
                      {chunk_chars}) AS chunk_text
        FROM e
    """


def build_vocab(df: DataFrame, top_k: int, text_col: str = "text",
                min_count: int = 1) -> DataFrame:
    """P9: corpus vocabulary with coverage curve — the tokenizer-prep
    step of a pretraining pipeline (pick a vocab size by reading off the
    token-coverage ratio; audit OOV mass before training).

    Tokens come from the shared whitespace tokenization
    (functions/hashing.words — the same convention as P4 TF-IDF and the
    T-family text stats, so vocab/tfidf/quality numbers are comparable).
    Returns the ``top_k`` tokens by frequency:

    ``(token, cnt, rank, cum_cnt, coverage)``

    - ``rank``: 1-based by ``(cnt DESC, token ASC)`` — the token tiebreak
      makes the cut at ``top_k`` deterministic and engine-portable;
    - ``cum_cnt``: exact BIGINT running sum of ``cnt`` in rank order;
    - ``coverage``: ``cum_cnt / total_tokens`` where ``total_tokens``
      counts ALL token occurrences in the corpus (pre-``min_count``, so
      coverage is the true fraction of the training stream the vocab
      explains). One IEEE division of two exact integers — bitwise
      reproducible in any engine.

    Scale: the token count is ONE narrow exchange on the token key with
    map-side partial aggregation (text never shuffles); the corpus total
    is a scalar aggregate broadcast back (1 row). The rank/cumsum window
    runs AFTER ``orderBy(...).limit(top_k)`` — a TakeOrderedAndProject
    that ships only ``top_k`` rows — so the single-partition window is
    O(top_k), bounded by the caller's parameter, never O(distinct
    tokens). Same bounded-window convention as P3's partition-offset
    scan (the ``pmod`` partition key keeps executor logs free of the
    "No Partition Defined" warning).
    """
    if top_k < 1:
        raise ValueError(f"build_vocab: top_k must be >= 1, got {top_k}")
    if min_count < 1:
        raise ValueError(
            f"build_vocab: min_count must be >= 1, got {min_count}")
    from pyspark.sql.window import Window

    toks = df.select(F.explode(H.words(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    if min_count > 1:
        counts = counts.where(F.col("cnt") >= min_count)
    total = toks.agg(F.count("*").alias("__total"))
    top = (counts.orderBy(F.col("cnt").desc(), F.col("token").asc())
           .limit(top_k))
    w = (Window.partitionBy(F.pmod(F.col("cnt"), F.lit(1)))
         .orderBy(F.col("cnt").desc(), F.col("token").asc()))
    return (top.join(F.broadcast(total))
            .withColumn("rank", F.row_number().over(w).cast("bigint"))
            .withColumn("cum_cnt", F.sum("cnt").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .select("token", "cnt", "rank", "cum_cnt",
                    (F.col("cum_cnt").cast("double")
                     / F.col("__total").cast("double")).alias("coverage")))


def build_vocab_sql_duckdb(top_k: int, table: str = "documents",
                           text_col: str = "text",
                           min_count: int = 1) -> str:
    """DuckDB twin of :func:`build_vocab`: same tokenization macro, same
    (cnt DESC, token ASC) total order, same exact-int cumsum and single
    coverage division."""
    from profet_spark.functions.hashing import WS_RE

    duck_words = (f"list_filter(string_split_regex(lower({text_col}), "
                  f"'{WS_RE}'), x -> x <> '')")
    having = (f"HAVING count(*) >= {min_count}" if min_count > 1 else "")
    return f"""
        WITH w AS (SELECT unnest({duck_words}) AS token FROM {table}),
        c AS (SELECT token, count(*) AS cnt FROM w GROUP BY 1 {having}),
        t AS (SELECT count(*) AS total FROM w),
        r AS (SELECT token, cnt,
                     CAST(row_number() OVER
                          (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
                     CAST(sum(cnt) OVER
                          (ORDER BY cnt DESC, token
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS cum_cnt
              FROM c)
        SELECT token, cnt, rank, cum_cnt,
               CAST(cum_cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
        FROM r CROSS JOIN t
        WHERE rank <= {top_k}
    """


def cap_per_key(df: DataFrame, key_cols: Iterable[str] | str, cap: int,
                id_col: str = "doc_id", salt: str = "cap-v1",
                margin: int = 8, mode: str = "drop",
                rank_col: str = "cap_rank") -> DataFrame:
    """P10 per-key frequency capping: keep at most ``cap`` rows per key.

    The per-domain cap every web-scale corpus applies so one hot host
    cannot dominate the training mix (C4 / RefinedWeb keep N pages per
    domain). Which rows survive must be a *fair deterministic sample*,
    not "whatever arrived first": rows are ranked within their key by
    ``(h32(salt:id), id)`` — the same salted portable hash as P1/P2, so
    the kept set is uniform, reproducible across engines and cluster
    sizes, and stable under reruns.

    Scale design (the naive plan melts): ``row_number() OVER
    (PARTITION BY key)`` funnels a hot key's ENTIRE row set through one
    window partition — exactly the skew this operator exists to fix. So
    the rank is computed in two exact steps:

    1. join each row with its key's total count ``n`` (one narrow
       partial-agg shuffle on the key), and pre-filter to rows with
       ``h * n < cap * margin * 2^32`` — an expected ``cap * margin``
       survivors per key, REGARDLESS of key size. The cap smallest
       hashes per key all fall below the threshold whenever at least
       ``min(cap, n)`` rows do, so the pre-filter is lossless in
       every case the in-plan guard accepts;
    2. rank only the survivors (window partitions now bounded at
       ~``cap * margin``), with an ``assert_true`` guard that each key
       kept ``>= min(cap, n)`` survivors — the vanishingly-rare margin
       bust (P < (e/margin)^(cap*margin) by a Chernoff bound, one-sided)
       fails the JOB loudly instead of silently under-capping; rerun
       with a larger ``margin``.

    ``mode='drop'`` returns the surviving rows + ``rank_col``.
    ``mode='rank'`` returns only the narrow ``(id, keys, rank)`` kept
    set — join it back on the id if a flag column is wanted (a flag
    mode that re-shuffles the wide rows is deliberately not offered).

    Rows with a NULL key are dropped (the count join is inner; a no-key
    row cannot be fairly capped) — ``coalesce`` the key to a sentinel
    first if they must participate.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if cap <= 0:
        raise ValueError(f"cap must be > 0, got {cap}")
    if margin < 2:
        raise ValueError(f"margin must be >= 2, got {margin}")
    if mode not in ("drop", "rank"):
        raise ValueError(f"mode must be 'drop' or 'rank', got {mode!r}")
    for c in (rank_col, "__cap_h", "__cap_n", "__cap_ns"):
        if c in df.columns:
            raise ValueError(f"cap_per_key: column {c!r} already exists")

    h = H.h32(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__cap_n"))
    with_n = df.withColumn("__cap_h", h).join(counts, on=keys, how="inner")
    # pre-filter threshold h <= (cap*margin*2^32 - 1) div n — pure int64
    # (dividing rather than multiplying h*n, which overflows once a key
    # holds > 2^30 rows). The exact threshold value does not affect the
    # OUTPUT (that is always the exact top-cap, enforced by the guard
    # below) — only the expected survivor count, ~cap*margin per key.
    thr = int(cap) * int(margin) * 4294967296 - 1
    surv = with_n.where(
        (F.col("__cap_n") <= F.lit(int(cap) * int(margin)))
        | (F.col("__cap_h")
           <= F.expr(f"CAST({thr} AS BIGINT) div `__cap_n`")))
    from pyspark.sql import Window
    w = (Window.partitionBy(*keys)
         .orderBy(F.col("__cap_h").asc(), F.col(id_col).asc()))
    ranked = (surv.withColumn(rank_col, F.row_number().over(w))
              .withColumn("__cap_ns",
                          F.count(F.lit(1)).over(Window.partitionBy(*keys))))
    # guard: every key must keep >= min(cap, n) survivors, else the
    # pre-filter MIGHT have dropped a row belonging to the true top-cap.
    # The assert lives INSIDE the keep predicate (assert_true(..) IS
    # NULL is tautologically true or raises) so column pruning can
    # never optimize the check away. The count window shares the rank
    # window's partition keys -> ONE Exchange feeding both WindowExecs.
    guard = F.assert_true(
        F.col("__cap_ns") >= F.least(F.lit(int(cap)).cast("bigint"),
                                     F.col("__cap_n")),
        F.lit(f"cap_per_key: margin={margin} bust - rerun with a "
              "larger margin")).isNull()
    kept = (ranked.where((F.col(rank_col) <= cap) & guard)
            .drop("__cap_h", "__cap_n", "__cap_ns"))
    if mode == "rank":
        return kept.select(id_col, *keys, rank_col)
    return kept


def cap_per_key_sql_duckdb(key_expr: str, cap: int, id_expr: str,
                           salt: str, table: str) -> str:
    """DuckDB twin of :func:`cap_per_key` (mode='rank'): the exact
    top-``cap`` by ``(h32(salt:id), id)`` per key, ranked over the FULL
    partition — the semantics the two-step Spark plan reproduces."""
    h = H.h32_sql_duckdb(f"'{salt}:' || CAST({id_expr} AS VARCHAR)")
    return f"""
        SELECT {id_expr} AS {id_expr}, {key_expr}, cap_rank FROM (
          SELECT {id_expr}, {key_expr},
                 CAST(row_number() OVER
                      (PARTITION BY {key_expr}
                       ORDER BY {h}, {id_expr}) AS INTEGER) AS cap_rank
          FROM {table})
        WHERE cap_rank <= {cap}
    """
