"""Temporal window algebra (SURVEY.md §2.5 W3-W8) — the layer ProFET lacks.

Every operator here is pure built-in ``pyspark.sql`` Window machinery:
JVM-side, whole-stage-codegen'd, one shuffle on the entity key which AQE
can coalesce. No Python executes per row.

Leakage discipline (BASELINE.json north_rule): operators that read the
future (``lead``, ``bfill``) are train-time-only conveniences and say so;
everything else is bounded at the current row (``rowsBetween(..., 0)`` or
``(..., -1)``) so a feature at ``(entity, t)`` can never observe rows with
``ts > t``. The zero-leakage property tests (tests/test_asof.py and
tests/test_pipeline.py) recompute on a truncated input and assert
bit-equality.

At 100 TB scale: all windows below share one partitioning
(``partitionBy(entity)``), so Catalyst plans a single Exchange reused by
every window node; per-entity row counts are small (snapshots per image),
so no per-partition memory hazard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _w(entity: str, ts: str, tiebreak: list[str] | None = None):
    """Entity window ordered by ts plus deterministic tiebreak columns
    (real snapshot streams can carry duplicate ts per entity)."""
    return Window.partitionBy(entity).orderBy(ts, *(tiebreak or []))


def with_lag_lead(
    df: DataFrame,
    cols: list[str],
    entity: str = "image_id",
    ts: str = "ts",
    offsets: tuple[int, ...] = (1,),
    lead: bool = False,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W3: previous (and optionally next) snapshot values per entity.

    ``lead`` reads the future — train-time only, never in a serving path.
    """
    w = _w(entity, ts, tiebreak)
    out = df
    for c in cols:
        for n in offsets:
            out = out.withColumn(f"{c}_lag{n}", F.lag(c, n).over(w))
            if lead:
                out = out.withColumn(f"{c}_lead{n}", F.lead(c, n).over(w))
    return out


def ffill(
    df: DataFrame, cols: list[str], entity: str = "image_id", ts: str = "ts",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W4 forward-fill: last non-null value at or before each row. Leakage-free."""
    w = _w(entity, ts, tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_ffill", F.last(c, ignorenulls=True).over(w))
    return out


def bfill(
    df: DataFrame, cols: list[str], entity: str = "image_id", ts: str = "ts",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W4 backward-fill: next non-null value. READS THE FUTURE — train-only."""
    w = _w(entity, ts, tiebreak).rowsBetween(0, Window.unboundedFollowing)
    out = df
    for c in cols:
        out = out.withColumn(f"{c}_bfill", F.first(c, ignorenulls=True).over(w))
    return out


def sessionize(
    df: DataFrame,
    gap_seconds: int,
    entity: str = "image_id",
    ts: str = "ts",
    session_col: str = "session_id",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W5 gap-based sessionization: a new session starts where the gap to
    the previous snapshot exceeds ``gap_seconds``. session_id is the
    0-based running count of session starts per entity — expressible as a
    cumulative sum over a lag comparison, one window, no Python."""
    w = _w(entity, ts, tiebreak)
    prev = F.lag(F.col(ts)).over(w)
    # interval arithmetic works for both TIMESTAMP and TIMESTAMP_NTZ inputs
    gap_exceeded = (F.col(ts) - prev) > F.expr(f"INTERVAL '{int(gap_seconds)}' SECOND")
    is_new = F.when(prev.isNull() | gap_exceeded, F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(
        session_col,
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)) - F.lit(1),
    )


def expanding_stats(
    df: DataFrame,
    col: str,
    entity: str = "image_id",
    ts: str = "ts",
    strictly_prior: bool = False,
    stats: tuple[str, ...] = ("mean", "min", "max", "count", "sum"),
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """W8 point-in-time cumulative stats — the leakage-safe normalizer.

    ``strictly_prior=True`` ends the frame at the previous row (value at t
    excludes row t itself), the convention for target-encoding-style
    features where the current observation must not see itself.
    """
    end = -1 if strictly_prior else 0
    w = _w(entity, ts, tiebreak).rowsBetween(Window.unboundedPreceding, end)
    fns = {
        "mean": F.avg,
        "min": F.min,
        "max": F.max,
        "count": F.count,
        "sum": F.sum,
        "stddev": F.stddev_samp,
    }
    out = df
    sfx = "_prior" if strictly_prior else "_cum"
    for s in stats:
        out = out.withColumn(f"{col}_{s}{sfx}", fns[s](col).over(w))
    return out


def tumbling_window(
    df: DataFrame,
    duration: str,
    aggs: list[Column],
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """W7 tumbling wall-clock buckets via built-in ``F.window`` + hash agg
    (map-side partial aggregation is free)."""
    return (
        df.groupBy(entity, F.window(ts, duration).alias("win"))
        .agg(*aggs)
        .withColumn("win_start", F.col("win.start"))
        .withColumn("win_end", F.col("win.end"))
        .drop("win")
    )


def sliding_time_window(
    df: DataFrame,
    duration: str,
    slide: str,
    aggs: list[Column],
    entity: str = "image_id",
    ts: str = "ts",
) -> DataFrame:
    """W7 sliding variant: each row lands in duration/slide buckets."""
    return (
        df.groupBy(entity, F.window(ts, duration, slide).alias("win"))
        .agg(*aggs)
        .withColumn("win_start", F.col("win.start"))
        .withColumn("win_end", F.col("win.end"))
        .drop("win")
    )


def resample_to_grid(
    df: DataFrame,
    value_cols: list[str],
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    every_seconds: int = 3600,
    max_points_per_entity: int = 1_000_000,
) -> DataFrame:
    """W9: regularize an irregular snapshot stream onto a fixed time grid.

    For each entity, emits one row per grid point (epoch-aligned multiples
    of ``every_seconds`` spanning the entity's [min ts, max ts]) carrying
    the as-of-latest value of each ``value_cols`` column — the standard
    "asfreq + ffill" feature-store primitive, built as a composition:

    1. grid generation: one hash aggregate (min/max per entity) then a
       narrow ``sequence``+``explode`` over integer epochs — no Python;
    2. value attachment: the engine's own :func:`asof.asof_join` (grid is
       the probe side), inheriting its partitioning/skew machinery.

    Duplicate (entity, ts) value rows are pre-reduced with ``max`` so the
    attachment is deterministic regardless of physical row order.

    At 100 TB: the grid explode materializes one int64 array per entity of
    length span/every — a long-lived entity at a fine grid is a per-task
    memory hazard, so ``max_points_per_entity`` fails LOUDLY (raise_error
    in the plan, no extra scan) instead of OOM-ing an executor; widen
    ``every_seconds`` or split the time range. Grid rows join as-of via one
    union-window Exchange (strategy="window") — no per-grid-point probe.
    """
    keys = [entity] if isinstance(entity, str) else list(entity)
    every = int(every_seconds)
    if every <= 0:
        raise ValueError("every_seconds must be a positive integer")
    vals = df.groupBy(*keys, ts).agg(
        *[F.max(c).alias(c) for c in value_cols])
    span = df.groupBy(*keys).agg(F.min(ts).alias("_mn"), F.max(ts).alias("_mx"))
    # NTZ-safe epoch seconds: hop through TIMESTAMP (session TZ pinned UTC
    # in session.py ⇒ identity), same convention as feature_matrix._tol_for
    ep = lambda c: F.unix_timestamp(F.col(c).cast("timestamp"))  # noqa: E731
    start = (F.floor(ep("_mn") / every) * every).cast("bigint")
    stop = ep("_mx").cast("bigint")
    n_pts = (stop - start) / F.lit(every) + 1
    start_checked = F.when(
        n_pts > max_points_per_entity,
        F.raise_error(F.concat(
            F.lit(f"resample_to_grid: > {max_points_per_entity} grid points "
                  f"for entity "),
            F.concat_ws(",", *[F.col(k).cast("string") for k in keys]),
            F.lit(f" at every_seconds={every} — widen the grid"),
        )).cast("bigint"),
    ).otherwise(start)
    grid = span.select(
        *keys,
        F.explode(F.sequence(start_checked, stop, F.lit(every))).alias("_ge"),
    ).select(*keys,
             F.timestamp_seconds("_ge").cast(df.schema[ts].dataType).alias(ts))
    from profet_spark.operators import asof as _asof  # lazy: avoid pkg-init cycle

    return _asof.asof_join(grid, vals, entity=entity, ts=ts, strategy="window")


def rolling_quantile(
    df: DataFrame,
    col: str,
    q: float,
    n: int,
    entity: str = "image_id",
    ts: str = "ts",
    tiebreak: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """W10: exact discrete rolling quantile over the last ``n`` rows per
    entity — nearest-rank (inverse-CDF) convention: the 1-based rank is
    ``ceil(q * count)`` over the sorted non-null window values, matching
    DuckDB's ``quantile_disc`` (pinned empirically in tests/test_temporal).

    Pure JVM: ``collect_list`` over a bounded row frame + ``array_sort`` +
    ``element_at`` — a value COPY, never float interpolation, so the result
    is bitwise engine-portable. NULLs are excluded from the window (both
    engines agree); an all-null window yields NULL. Leakage-free: the frame
    ends at the current row.

    At 100 TB: per-row state is the bounded n-element array (n is a feature
    parameter, typically <=100); one Exchange on the entity key, shared
    with every other window op on the same (entity, ts) ordering. Exact
    medians at unbounded window widths need a different algorithm
    (two-heap sketch) — out of scope, n is bounded by contract.
    """
    if not (0.0 < q <= 1.0):
        raise ValueError("q must be in (0, 1]")
    if n < 1:
        raise ValueError("n must be >= 1")
    w = _w(entity, ts, tiebreak).rowsBetween(-(n - 1), 0)
    arr = F.array_sort(F.collect_list(col).over(w))
    cnt = F.size(arr)
    rank = F.ceil(F.lit(float(q)) * cnt).cast("int")
    name = out_col or f"{col}_q{int(round(q * 100))}_{n}"
    return df.withColumn(name, F.when(cnt > 0, F.element_at(arr, rank)))


def hamming_drift(
    df: DataFrame,
    bits_col: str,
    entity: str = "image_id",
    ts: str = "ts",
    tiebreak: list[str] | None = None,
    mean_window: int = 4,
) -> DataFrame:
    """W11: temporal Hamming-drift profile over a perceptual-hash stream —
    the north-star "sliding-window numeric property profile over a phash
    stream". Per entity ordered by ts:

    - ``{bits}_drift``: popcount(phash XOR previous phash) — bits flipped
      since the last snapshot (NULL on the first snapshot);
    - ``{bits}_drift_mean{k}``: mean drift over the last ``mean_window``
      drift observations (exact int sums, one double division);
    - ``{bits}_drift_cum``: total bits flipped since the entity appeared.

    Two's-complement int64 phash values work unchanged: XOR and popcount
    act on the raw 64-bit pattern identically in Spark and DuckDB
    (verified in tests/test_temporal.py). Pure codegen'd column ops —
    lag + bitwiseXOR + bit_count + two framed sums sharing ONE Exchange
    (same partition/order spec). Leakage-free: all frames end at the
    current row.
    """
    w = _w(entity, ts, tiebreak)
    prev = F.lag(bits_col).over(w)
    drift = F.when(
        prev.isNotNull(),
        F.bit_count(F.col(bits_col).bitwiseXOR(prev)).cast("bigint"))
    dname = f"{bits_col}_drift"
    out = df.withColumn(dname, drift)
    wm = _w(entity, ts, tiebreak).rowsBetween(-(mean_window - 1), 0)
    dsum = F.sum(dname).over(wm)
    dcnt = F.count(dname).over(wm)
    out = out.withColumn(
        f"{dname}_mean{mean_window}",
        F.when(dcnt > 0, dsum.cast("double") / dcnt.cast("double")))
    wc = _w(entity, ts, tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    return out.withColumn(
        f"{dname}_cum",
        F.coalesce(F.sum(dname).over(wc), F.lit(0)).cast("bigint"))


def decayed_stats(
    df: DataFrame,
    col: str,
    n: int = 8,
    decay: float = 0.5,
    entity: str = "image_id",
    ts: str = "ts",
    tiebreak: list[str] | None = None,
    out_prefix: str | None = None,
) -> DataFrame:
    """W12: bounded exponential-decay (half-life) features over the last
    ``n`` snapshots per entity — the classic recency-weighted PIT feature:

    - ``{col}_dsum{n}``: Σ_k w_k · value(t-k) over present (non-null)
      lags, w_k = decay**k, k = 0 the current row;
    - ``{col}_dwt{n}``: Σ_k w_k over the same present lags (the exact
      normalizer, so ragged entity heads and interior NULLs renormalize
      instead of biasing toward 0);
    - ``{col}_dmean{n}``: dsum / dwt (NULL when no lag is present).

    Engine-portability contract: the weights are computed ONCE driver-side
    (``decay**k``) and embedded as double literals in both this plan and
    the DuckDB oracle; the term sum is an explicit LEFT-FOLD (fixed
    operand order). Catalyst's ``ReorderAssociativeOperator`` only touches
    integral types, so the double additions execute in the written order
    and each `*`/`+`/`/` is correctly-rounded IEEE in both engines —
    bitwise-equal results for ANY decay, not just dyadic ones (pinned in
    tests/test_temporal.py and the w12 oracle row).

    Pure codegen'd projection over ``lag`` columns sharing ONE window spec
    — stacking onto any other (entity, ts) window op adds ZERO Exchanges.
    Leakage-free: only lags (ts' <= ts) are read. ``n`` is a feature
    parameter (weights below ~1e-5·w_0 add nothing; decay=0.5 ⇒ n=8 spans
    it), so the per-row cost is a fixed n-term expression, not state.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    w = _w(entity, ts, tiebreak)
    v0 = F.col(col).cast("double")
    dsum: Column | None = None
    dwt: Column | None = None
    for k in range(n):
        vk = v0 if k == 0 else F.lag(v0, k).over(w)
        wk = F.lit(decay ** k)
        term = F.when(vk.isNotNull(), vk * wk).otherwise(F.lit(0.0))
        wgt = F.when(vk.isNotNull(), wk).otherwise(F.lit(0.0))
        dsum = term if dsum is None else dsum + term
        dwt = wgt if dwt is None else dwt + wgt
    p = out_prefix or col
    out = df.withColumn(f"{p}_dsum{n}", dsum).withColumn(f"{p}_dwt{n}", dwt)
    return out.withColumn(
        f"{p}_dmean{n}",
        F.when(F.col(f"{p}_dwt{n}") > 0.0,
               F.col(f"{p}_dsum{n}") / F.col(f"{p}_dwt{n}")))


def latest_snapshot(
    df: DataFrame, entity: str = "image_id", ts: str = "ts", k: int = 1, tiebreak: list[str] | None = None
) -> DataFrame:
    """W6 top-k most recent snapshots per entity (k=1 = as-of-now dedup).

    ``tiebreak`` columns make row_number deterministic when ts collides.
    """
    order = [F.desc(ts)] + [F.desc(c) for c in (tiebreak or [])]
    w = Window.partitionBy(entity).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .withColumnRenamed("_rn", "snapshot_rank")
    )
