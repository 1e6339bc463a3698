"""Point-in-time training-matrix assembly — the feature-store spine join.

The reference assembles its training matrix single-process with
``pandas.DataFrame.from_dict`` over per-sequence feature dicts
(``[R] ProFET/feat_extract/FeatureGen.py ≈L600-700``, SURVEY.md §1.1
"Feature matrix"); it has no temporal dimension at all. This engine's
north rule makes the matrix *point-in-time*: every entity×timestamp row
must carry, for each feature family, the latest value at-or-before its
timestamp — zero temporal leakage. That is exactly the Feast/Tecton-style
"spine join": given a label/spine table ``(entity, ts, ...)`` and N
feature tables each ``(entity, ts, values...)``, attach the as-of row of
EVERY feature table to every spine row.

Why not N :func:`profet_spark.operators.asof.asof_join` calls? Each call
re-shuffles and re-sorts the spine — N exchanges + N sorts + N operator
boundaries over the widest table in the pipeline. At 10^12-row scale the
spine dominates, so this operator instead:

1. tags the spine and all N feature tables with a side marker,
2. packs each table's value columns into ONE struct payload column
   (``__pay_<name>``; other tables' payload slots ride as null),
3. ``unionByName`` everything into a single relation,
4. runs a SINGLE window ``last(__pay_i, ignorenulls=True)`` per table —
   all N carries share one ``partitionBy(entity).orderBy(ts, side)``
   spec, so Catalyst folds them into ONE WindowExec: the whole assembly
   is ONE hash exchange + ONE within-partition sort, Python-free,
   regardless of how many feature tables are attached
   (plan-asserted in tests/test_feature_matrix.py).

Semantics per table match ``asof_join`` exactly (backward direction,
``allow_exact_matches``, optional per-table tolerance); the two paths are
bit-identical, which tests cross-check via ``strategy="sequential"``.

Like the window as-of strategy, a feature table holding several rows at
one (entity, ts) must be pre-aggregated to one row per key — the carried
row among equal-ts duplicates is otherwise unspecified (the same
precondition ``pd.merge_asof`` imposes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from profet_spark.operators.asof import _entity_cols, _ts_checked

_SIDE = "__fm_side"


def _output_names(
    spine: DataFrame,
    features: dict[str, DataFrame],
    entity,
    ts: str,
    keep_feature_ts: bool,
) -> dict[str, list[tuple[str, str]]]:
    """Per table: (source value column, output column) pairs.

    Naming rule: a value column keeps its own name when it is globally
    unambiguous (not a spine column, not emitted by any other table);
    otherwise it is prefixed ``<table>_``. Residual collisions raise.
    """
    value_cols: dict[str, list[str]] = {}
    for name, df in features.items():
        keys = set(_entity_cols(entity)) | {ts}
        vcols = [c for c in df.columns if c not in keys]
        if not vcols:
            raise ValueError(
                f"point_in_time_matrix: feature table {name!r} has no value "
                f"columns besides ({entity}, {ts})")
        value_cols[name] = vcols

    spine_taken = set(spine.columns)
    from collections import Counter
    freq = Counter(c for cols in value_cols.values() for c in cols)

    out: dict[str, list[tuple[str, str]]] = {}
    emitted: dict[str, str] = {}  # output name -> "table.column" provenance
    for name, vcols in value_cols.items():
        pairs = []
        for c in vcols:
            dst = c if (freq[c] == 1 and c not in spine_taken) else f"{name}_{c}"
            if dst in spine_taken or dst in emitted:
                other = emitted.get(dst, "the spine")
                raise ValueError(
                    f"point_in_time_matrix: output column {dst!r} (from "
                    f"{name}.{c}) collides with {other} — rename the column "
                    "or the feature table")
            emitted[dst] = f"{name}.{c}"
            pairs.append((c, dst))
        if keep_feature_ts:
            dst = f"{name}_asof_ts"
            if dst in spine_taken or dst in emitted:
                raise ValueError(
                    f"point_in_time_matrix: output column {dst!r} "
                    f"(matched-ts audit column of {name!r}) collides")
            emitted[dst] = f"{name}.{ts}"
        out[name] = pairs
    return out


def _tol_for(tolerance_s, name: str):
    if tolerance_s is None:
        return None
    if isinstance(tolerance_s, dict):
        return tolerance_s.get(name)
    return tolerance_s


def _embargo_micros(embargo_s, name: str) -> int | None:
    emb = _tol_for(embargo_s, name)
    if emb is None:
        return None
    if emb < 0:
        raise ValueError(
            f"point_in_time_matrix: embargo_s for {name!r} must be >= 0")
    return int(round(float(emb) * 1_000_000))


def point_in_time_matrix(
    spine: DataFrame,
    features: dict[str, DataFrame],
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    allow_exact_matches: bool = True,
    tolerance_s: dict[str, float] | float | None = None,
    embargo_s: dict[str, float] | float | None = None,
    keep_feature_ts: bool = False,
    strategy: str = "window",
) -> DataFrame:
    """Attach the as-of row of every feature table to every spine row.

    ``features`` maps a table name to its DataFrame (``entity``/``ts``
    plus value columns); ``entity`` is one column name or a composite-key
    list, exactly as in :func:`asof_join`. Output = spine columns, then per table (dict
    order) its value columns — kept under their own names when globally
    unambiguous, else prefixed ``<name>_`` — plus, with
    ``keep_feature_ts``, a ``<name>_asof_ts`` audit column carrying the
    matched feature timestamp (always <= the spine ts by construction:
    the zero-leakage evidence column).

    ``tolerance_s`` bounds the lookback per table (dict) or globally
    (scalar); ``allow_exact_matches=False`` makes every bound strict.

    ``embargo_s`` (dict or scalar, seconds) is the label-maturation /
    point-in-time-correctness gap of feature-store engines: a feature row
    at ``ts_f`` only becomes visible to spine rows with
    ``ts_spine >= ts_f + embargo`` (boundary inclusive iff
    ``allow_exact_matches``) — guarding against features derived from data
    that wasn't actually available until some delay after its event time
    (late-arriving upstream pipelines, label look-ahead). Implementation:
    the feature table's SORT timestamp is shifted by the embargo while the
    ``__rts`` audit/tolerance timestamp keeps the original event time, so
    the fused plan stays ONE Exchange + ONE WindowExec regardless of
    per-table embargos, and ``tolerance_s`` still bounds true staleness
    ``ts_spine - ts_f``. The shift is exact int64 microseconds. With an
    embargo, :func:`leakage_audit`'s ``min_staleness_us`` is >= the
    embargo for every matched row — the auditable invariant.

    ``strategy="window"`` (default) is the single-exchange fused plan
    documented in the module docstring; ``"sequential"`` chains one
    :func:`asof_join` per table (N exchanges) — the cross-check/fallback
    path, bit-identical output.
    """
    if not features:
        raise ValueError("point_in_time_matrix: no feature tables given")
    names = list(features)
    pairs = _output_names(spine, features, entity, ts, keep_feature_ts)

    if strategy == "sequential":
        return _pit_sequential(spine, features, pairs, entity, ts,
                               allow_exact_matches, tolerance_s, embargo_s,
                               keep_feature_ts)
    if strategy != "window":
        raise ValueError(f"unknown point_in_time_matrix strategy: {strategy}")

    spine = _ts_checked(spine, ts, "point_in_time_matrix")
    spine_cols = spine.columns

    # right rows order BEFORE left at equal ts for <= semantics, AFTER for
    # strict < — identical rule to asof's window plan. All feature tables
    # share one side value: equal-ts rows of different tables cannot
    # interfere, each carries only its own payload column.
    r_side = 0 if allow_exact_matches else 1
    l_side = 1 - r_side

    tagged = [spine.withColumn(_SIDE, F.lit(l_side))]
    pay_cols = {}
    for name in names:
        fdf = _ts_checked(features[name], ts, "point_in_time_matrix")
        pay = F.struct(
            F.col(ts).alias("__rts"),
            *[F.col(src).alias(dst) for src, dst in pairs[name]],
        )
        pc = f"__pay_{name}"
        pay_cols[name] = pc
        # embargo: shift this table's SORT key only — __rts in the payload
        # keeps the original event time for tolerance/audit
        emb_us = _embargo_micros(embargo_s, name)
        sort_ts = F.col(ts)
        if emb_us:
            sort_ts = F.col(ts) + F.expr(f"INTERVAL '{emb_us}' MICROSECOND")
        tagged.append(fdf.select(
            *[F.col(c) for c in _entity_cols(entity)], sort_ts.alias(ts),
            pay.alias(pc), F.lit(r_side).alias(_SIDE),
        ))

    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t, allowMissingColumns=True)

    # one spec -> Catalyst evaluates every carry in a single WindowExec
    w = (Window.partitionBy(*_entity_cols(entity)).orderBy(ts, _SIDE)
         .rowsBetween(Window.unboundedPreceding, 0))

    # the window must run over the FULL union (feature rows included), so
    # the carries are computed in a projection BEFORE the side filter.
    # Identical window expressions are deduplicated by Catalyst's
    # ExtractWindowExpressions, and every carry shares spec `w`, so the
    # whole loop lands in ONE WindowExec (plan-asserted)
    carry_cols = []
    final = [F.col(c) for c in spine_cols]
    for name in names:
        matched = F.last(pay_cols[name], ignorenulls=True).over(w)
        tol = _tol_for(tolerance_s, name)
        if tol is not None:
            # NTZ timestamps can't cast straight to numeric in Spark 4 —
            # hop through TIMESTAMP (session TZ pinned UTC ⇒ identity)
            sec = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
            matched = F.when(
                (sec(F.col(ts)) - sec(matched["__rts"])) <= float(tol),
                matched)
        mc = f"__m_{name}"
        carry_cols.append(matched.alias(mc))
        final.extend(F.col(mc)[dst].alias(dst) for _, dst in pairs[name])
        if keep_feature_ts:
            final.append(F.col(mc)["__rts"].alias(f"{name}_asof_ts"))

    carried = u.select(F.col(_SIDE), *[F.col(c) for c in spine_cols], *carry_cols)
    return carried.where(F.col(_SIDE) == l_side).select(*final)


def _pit_sequential(spine, features, pairs, entity, ts, allow_exact,
                    tolerance_s, embargo_s, keep_feature_ts):
    """N chained as-of joins — the reference plan the fused window path is
    tested bit-identical against. Each feature table is pre-projected to
    its FINAL output names, so no suffixing can fire inside asof_join.
    An embargo shifts the right ts (as in the window path); asof_join's
    internal tolerance then sees the shifted gap (true staleness minus
    embargo), so the true-staleness bound is restored by NARROWING it by
    the same embargo — and a bound narrower than the embargo itself can
    never match (every visible row is already >= embargo stale)."""
    from profet_spark.operators.asof import asof_join

    out = spine
    for name, fdf in features.items():
        emb_us = _embargo_micros(embargo_s, name)
        jts = F.col(ts)
        if emb_us:
            jts = F.col(ts) + F.expr(f"INTERVAL '{emb_us}' MICROSECOND")
        sel = [F.col(c) for c in _entity_cols(entity)] + [jts.alias(ts)]
        sel += [F.col(src).alias(dst) for src, dst in pairs[name]]
        if keep_feature_ts:
            sel.append(F.col(ts).alias(f"{name}_asof_ts"))
        right = fdf.select(*sel)
        tol = _tol_for(tolerance_s, name)
        if tol is not None and emb_us:
            tol = float(tol) - emb_us / 1_000_000
            if tol < 0:
                right = right.where(F.lit(False))
                tol = None
        out = asof_join(
            out, right, entity=entity, ts=ts, strategy="broadcast",
            tolerance_s=tol,
            allow_exact_matches=allow_exact,
        )
    return out


def leakage_audit(
    matrix: DataFrame,
    ts: str = "ts",
    features: dict[str, str] | None = None,
) -> DataFrame:
    """FM2: per-feature zero-temporal-leakage audit over a training matrix.

    Input: a matrix carrying matched feature timestamps (the
    ``keep_feature_ts=True`` output of :func:`point_in_time_matrix`, or any
    table with ``<feature>_asof_ts`` columns). ``features`` maps feature
    name -> its asof-ts column; by default every ``*_asof_ts`` column is
    audited. Returns one row per feature:

    - ``n_rows`` / ``n_matched``: coverage (unmatched = NULL asof ts);
    - ``n_violations``: rows where the feature timestamp is AFTER the
      label timestamp — must be 0 for the north-rule zero-leakage
      invariant; a non-zero count localizes the offending feature table;
    - ``min/max/sum_staleness_us``: exact int64 microsecond lag between
      label ts and feature ts (negative min = a violation's magnitude).

    One narrow projection (two int64 columns per feature via a struct
    explode) then a single hash aggregate with map-side partial
    aggregation — output is |features| rows, so the shuffle is bytes at
    any input scale. All statistics are exact integers (no float
    accumulation), hence engine-portable and order-insensitive.
    """
    if features is None:
        sfx = "_asof_ts"
        features = {c[: -len(sfx)]: c for c in matrix.columns if c.endswith(sfx)}
    if not features:
        raise ValueError("leakage_audit: no *_asof_ts columns found and no "
                         "features mapping given")
    pairs = F.explode(F.array(*[
        F.struct(F.lit(name).alias("feature"), F.col(col).alias("fts"))
        for name, col in sorted(features.items())
    ])).alias("p")
    base = matrix.select(F.col(ts).alias("_ts"), pairs).select(
        "_ts", F.col("p.feature").alias("feature"), F.col("p.fts").alias("_fts"))
    # NTZ-safe: unix_micros requires TIMESTAMP — hop through a cast
    # (session TZ pinned UTC in session.py ⇒ identity), as in _tol_for
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    lag_us = us("_ts") - us("_fts")
    return base.groupBy("feature").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_fts").alias("n_matched"),
        F.sum(F.when(F.col("_fts") > F.col("_ts"), 1).otherwise(0))
        .cast("bigint").alias("n_violations"),
        F.min(lag_us).alias("min_staleness_us"),
        F.max(lag_us).alias("max_staleness_us"),
        F.sum(lag_us).alias("sum_staleness_us"),
    )


_WAGG_FNS = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max,
             "avg": F.avg}


def windowed_spine_agg(
    spine: DataFrame,
    feature: DataFrame,
    aggs: dict[str, tuple[str, str]],
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    window_s: float = 3600.0,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """FM3: time-windowed feature aggregates anchored at each spine row —
    the Feast/Tecton "aggregation feature": for every spine ``(entity,
    ts)`` row, aggregate the feature rows whose timestamp falls in the
    trailing window ``(ts - window_s, ts]`` (``allow_exact_matches=False``
    shifts to ``[ts - window_s, ts)``). The classic leakage-free
    "clicks in the last hour before the label" feature.

    ``aggs`` maps output column -> ``(fn, src_col)`` with fn in
    {count, sum, min, max, avg}; ``count`` ignores ``src_col`` NULLs like
    SQL. An empty window yields SQL semantics too: count 0, others NULL.

    Plan: tag spine and feature rows, null-pad, ``unionByName``, and run
    every aggregate over ONE ``rangeBetween`` frame keyed on exact int64
    microseconds — spine rows carry NULL in every feature source column,
    so they never contaminate the aggregates even when several spine rows
    share the window. All aggs share the frame spec, so Catalyst folds
    them into ONE WindowExec over ONE hash Exchange regardless of how many
    aggregates are requested (plan-asserted). Per-row state at execution
    is the frame's row span — bounded by the feature arrival rate times
    ``window_s``, independent of total history (unlike an unbounded
    expanding frame).

    Exact-arithmetic note for engine parity: count and int64 sums are
    order-insensitive exact; float sum/avg accumulate in frame order and
    are NOT guaranteed bitwise-portable across engines — the graded driver
    query therefore sums an exact-int derivation (the convention of
    functions/hashing.py).
    """
    if not aggs:
        raise ValueError("windowed_spine_agg: no aggregates given")
    w_us = int(round(float(window_s) * 1_000_000))
    if w_us <= 0:
        raise ValueError("windowed_spine_agg: window_s must be > 0")
    for out_col, (fn, src) in aggs.items():
        if fn not in _WAGG_FNS:
            raise ValueError(
                f"windowed_spine_agg: unknown agg {fn!r} for {out_col!r} "
                f"(supported: {sorted(_WAGG_FNS)})")
        if src not in feature.columns:
            raise ValueError(
                f"windowed_spine_agg: {src!r} not in the feature table")
        if out_col in spine.columns:
            raise ValueError(
                f"windowed_spine_agg: output column {out_col!r} collides "
                "with a spine column")
    # internal scratch names — a user column with one of these would be
    # silently overwritten instead of raising like the out_col guard
    reserved = {_SIDE, "__wagg_us"} | {
        f"__wf_{src}" for _, src in aggs.values()}
    clashes = sorted(reserved & (set(spine.columns) | set(feature.columns)))
    if clashes:
        raise ValueError(
            f"windowed_spine_agg: column(s) {clashes} collide with "
            "internal scratch names — rename them")
    keys = _entity_cols(entity)
    spine = _ts_checked(spine, ts, "point_in_time_matrix")
    feature = _ts_checked(feature, ts, "point_in_time_matrix")
    srcs = sorted({src for _, src in aggs.values()})
    f_cols = {c: f"__wf_{c}" for c in srcs}

    sp = spine.withColumn(_SIDE, F.lit(1))
    for c in srcs:
        sp = sp.withColumn(f_cols[c], F.lit(None).cast(
            feature.schema[c].dataType))
    ft = feature.select(
        *[F.col(c) for c in keys], F.col(ts),
        *[F.col(c).alias(f_cols[c]) for c in srcs],
        F.lit(0).alias(_SIDE))
    u = sp.unionByName(ft, allowMissingColumns=True)

    # exact int64 microsecond ordering key (NTZ-safe hop, as _tol_for)
    mic = "__wagg_us"
    u = u.withColumn(mic, F.unix_micros(F.col(ts).cast("timestamp")))
    lo, hi = (-w_us + 1, 0) if allow_exact_matches else (-w_us, -1)
    w = (Window.partitionBy(*keys).orderBy(mic).rangeBetween(lo, hi))
    outs = [_WAGG_FNS[fn](F.col(f_cols[src])).over(w).alias(out_col)
            for out_col, (fn, src) in aggs.items()]
    res = u.select(F.col(_SIDE), *[F.col(c) for c in spine.columns
                                   if c != _SIDE], *outs)
    return res.where(F.col(_SIDE) == 1).drop(_SIDE)


def _drift_narrow(df: DataFrame, features: list[str], side: int,
                  extra: list[str] | None = None) -> DataFrame:
    """Narrow (feature, value) explode projection, non-null values only."""
    pairs = F.explode(F.array(*[
        F.struct(F.lit(c).alias("feature"),
                 F.col(c).cast("double").alias("v"))
        for c in sorted(features)
    ])).alias("p")
    return (df.select(*(extra or []), pairs)
            .select(*(extra or []), F.lit(side).alias("_side"),
                    F.col("p.feature").alias("feature"),
                    F.col("p.v").alias("v"))
            .where(F.col("v").isNotNull()))


def drift_bin_expr(n_bins: int) -> F.Column:
    """Clamped equal-width bin id over columns (v, lo, hi) — identical
    expression text in the SQL oracle, so the IEEE arithmetic (and
    therefore the bin id) matches bit-for-bit.

    The clamp happens in the DOUBLE domain BEFORE the int64 cast: a
    current value astronomically outside a tiny reference range (e.g.
    ref span 1e-300, v = 1.0) makes the quotient overflow int64, which
    under ANSI mode is a hard error — clamping to [0, n_bins-1] first is
    semantically identical for in-range quotients (found by the
    hypothesis portability test)."""
    nb = F.lit(float(n_bins))
    q = ((F.col("v") - F.col("lo")) * nb) / (F.col("hi") - F.col("lo"))
    qc = F.least(F.greatest(q, F.lit(0.0)), F.lit(float(n_bins - 1)))
    return F.when(F.col("hi") == F.col("lo"), F.lit(1).cast("bigint")) \
            .otherwise(F.lit(1) + F.floor(qc).cast("bigint"))


def drift_edges(ref: DataFrame, features: list[str]) -> DataFrame:
    """FM4 helper: the reference slice's per-feature bin edges
    ``(feature, lo, hi)`` — materialize this small table once (S7 sink /
    checkpoint) and feed it to the streaming drift monitor, whose static
    side it becomes."""
    return (_drift_narrow(ref, features, 0)
            .groupBy("feature").agg(F.min("v").alias("lo"),
                                    F.max("v").alias("hi")))


def feature_drift(
    ref: DataFrame,
    cur: DataFrame,
    features: list[str],
    n_bins: int = 10,
) -> DataFrame:
    """FM4: per-feature distribution-drift histogram between a reference
    slice and a current slice — the monitoring companion to
    :func:`leakage_audit`. For each feature the reference slice defines
    ``n_bins`` equal-width bins over its [min, max]; both slices are
    binned (out-of-range current values clamp to the edge bins, the PSI
    convention) and counted. Output is one row per (feature, bin):

    ``(feature, bin, bin_lo, bin_hi, n_ref, n_cur, p_ref, p_cur,
    psi_term)``

    - ``n_ref``/``n_cur``: exact non-null counts (NULLs are excluded);
    - ``p_ref``/``p_cur``: bin proportions — one IEEE division of exact
      int64 counts, so they are engine-portable bit-for-bit;
    - ``psi_term``: the population-stability-index term
      ``(p_cur' - p_ref') * ln(p_cur'/p_ref')`` under add-half Laplace
      smoothing (``p' = (n + 0.5) / (tot + 0.5*n_bins)``), never NULL or
      infinite even for empty bins. ``sum(psi_term)`` per feature is the
      PSI (rule of thumb: <0.1 stable, >0.25 drifted). ``ln`` is not
      guaranteed bitwise-identical across engines, so graded oracles
      should hash the count/proportion columns and leave ``psi_term`` to
      allclose tests.

    Empty bins are emitted (count 0) — PSI over a sparse histogram is
    meaningless otherwise. A feature that is constant in the reference
    slice (min == max) puts every value in bin 1. A feature with an empty
    reference slice has undefined edges and is dropped (0 output rows);
    callers should treat a missing feature in the output as "no baseline".

    Scale shape: each side collapses through a narrow
    ``explode(feature, value)`` projection into ONE hash aggregate keyed
    (feature, bin, side) with map-side partials — the shuffle carries
    O(features × bins) rows regardless of input size. The edge table
    (|features| rows) and the bin spine (|features| × n_bins rows) are
    broadcast. Two passes over the reference slice (edges, then counts):
    at 10^12 scale, persist or checkpoint the narrow ref projection if
    the input scan dominates.
    """
    if n_bins < 1:
        raise ValueError("feature_drift: n_bins must be >= 1")
    if not features:
        raise ValueError("feature_drift: no features given")
    for side_name, df in (("ref", ref), ("cur", cur)):
        missing = [c for c in features if c not in df.columns]
        if missing:
            raise ValueError(
                f"feature_drift: {missing} not in the {side_name} slice")

    r, c = (_drift_narrow(df, features, side)
            for side, df in ((0, ref), (1, cur)))
    edges = r.groupBy("feature").agg(F.min("v").alias("lo"),
                                     F.max("v").alias("hi"))

    nb = F.lit(float(n_bins))
    binned = (r.unionByName(c)
              .join(F.broadcast(edges), "feature")
              .select("_side", "feature",
                      drift_bin_expr(n_bins).alias("bin")))
    counts = binned.groupBy("feature", "bin").agg(
        F.sum(F.when(F.col("_side") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_ref"),
        F.sum(F.when(F.col("_side") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_cur"),
    )
    spine = edges.select(
        "feature", "lo", "hi",
        F.explode(F.sequence(F.lit(1).cast("bigint"),
                             F.lit(n_bins).cast("bigint"))).alias("bin"))
    hist = (spine.join(counts, ["feature", "bin"], "left")
            .select("feature", "bin", "lo", "hi",
                    F.coalesce("n_ref", F.lit(0).cast("bigint")).alias("n_ref"),
                    F.coalesce("n_cur", F.lit(0).cast("bigint")).alias("n_cur")))
    wf = Window.partitionBy("feature")
    tot_r = F.sum("n_ref").over(wf)
    tot_c = F.sum("n_cur").over(wf)
    width = (F.col("hi") - F.col("lo")) / nb
    p_ref = F.when(tot_r > 0, F.col("n_ref").cast("double") /
                   tot_r.cast("double"))
    p_cur = F.when(tot_c > 0, F.col("n_cur").cast("double") /
                   tot_c.cast("double"))
    half = F.lit(0.5)
    smooth = lambda n, tot: ((n.cast("double") + half) /  # noqa: E731
                             (tot.cast("double") + half * nb))
    ps_r = smooth(F.col("n_ref"), tot_r)
    ps_c = smooth(F.col("n_cur"), tot_c)
    return hist.select(
        "feature", "bin",
        (F.col("lo") + (F.col("bin") - 1).cast("double") * width)
        .alias("bin_lo"),
        F.when(F.col("bin") == n_bins, F.col("hi"))
        .otherwise(F.col("lo") + F.col("bin").cast("double") * width)
        .alias("bin_hi"),
        "n_ref", "n_cur",
        p_ref.alias("p_ref"), p_cur.alias("p_cur"),
        ((ps_c - ps_r) * F.log(ps_c / ps_r)).alias("psi_term"),
    )


def psi_summary(drift: DataFrame, threshold: float = 0.25) -> DataFrame:
    """FM4 rollup: one row per feature from a :func:`feature_drift`
    histogram — ``(feature, psi, drifted)`` with the conventional
    alerting thresholds (psi < 0.1 stable, 0.1–0.25 moderate, > 0.25
    drifted). A |features|-row aggregate; wire ``where(drifted)`` into
    the pipeline as the alert condition."""
    return (drift.groupBy("feature")
            .agg(F.sum("psi_term").alias("psi"))
            .withColumn("drifted", F.col("psi") > threshold))


def assign_time_folds(
    df: DataFrame,
    ts: str = "ts",
    n_folds: int = 5,
    bounds: tuple | None = None,
    out_col: str = "fold",
) -> DataFrame:
    """FM5a: equal-time-width fold assignment for time-series cross
    validation. Adds ``out_col`` ∈ [0, n_folds): fold k covers the k-th
    equal slice of [min(ts), max(ts)] (the last fold owns the upper
    boundary). All arithmetic is exact int64 microseconds —
    ``(us - lo) * n DIV span`` with ``span = hi - lo + 1`` — clamped
    non-negative before the division so truncating (Spark ``DIV``) and
    flooring (DuckDB ``//``) integer division agree: the fold id is
    engine-portable bit-for-bit, no float boundary jitter.

    ``bounds=(lo_ts, hi_ts)`` pins the fold grid explicitly (two
    timestamp-coercible literals). Required for streaming (a stream has
    no global min/max) — with bounds given, the operator is a stateless
    per-row projection, trivially stream-safe and shuffle-free. Without
    it the bounds come from ONE 1-row global aggregate broadcast back
    via crossJoin — no driver collect, no second scan of a wide plan
    (only ``ts`` is read). Rows outside explicit bounds clamp into the
    edge folds.
    """
    if n_folds < 1:
        raise ValueError("assign_time_folds: n_folds must be >= 1")
    if out_col in df.columns:
        raise ValueError(f"assign_time_folds: {out_col!r} already exists")
    base = _with_cv_bounds(df, ts, bounds)
    return (base.withColumn(out_col, _fold_expr("__cv_us", n_folds))
            .drop("__cv_us", "__cv_lo", "__cv_hi"))


def _with_cv_bounds(df: DataFrame, ts: str, bounds) -> DataFrame:
    """Attach ``__cv_us`` (exact int64 µs of ts) and the fold-grid bounds
    ``__cv_lo``/``__cv_hi`` — from literals, or from ONE broadcast 1-row
    global aggregate (no driver collect)."""
    us = F.unix_micros(F.col(ts).cast("timestamp"))
    if bounds is not None:
        base = (df.withColumn("__cv_lo",
                              F.unix_micros(F.lit(bounds[0]).cast("timestamp")))
                .withColumn("__cv_hi",
                            F.unix_micros(F.lit(bounds[1]).cast("timestamp"))))
    else:
        b = df.select(F.min(us).alias("__cv_lo"), F.max(us).alias("__cv_hi"))
        base = df.crossJoin(F.broadcast(b))
    return base.withColumn("__cv_us", us)


def _fold_expr(us_col: str, n_folds: int, shift_us: int = 0):
    """``clamp((max(us+shift, lo) - lo) * n DIV (hi - lo + 1), 0, n-1)``
    over the ``__cv_*`` columns — pure int64 (SQL ``DIV``), numerator
    clamped non-negative so truncating (Spark) and flooring (DuckDB
    ``//``) integer division coincide: bit-portable, no float hop."""
    n = n_folds
    return F.expr(
        f"least(CAST({n - 1} AS BIGINT), "
        f"(greatest({us_col} + CAST({shift_us} AS BIGINT), __cv_lo) - __cv_lo)"
        f" * {n} DIV (__cv_hi - __cv_lo + 1))")


def assign_entity_folds(
    df: DataFrame,
    entity: str = "image_id",
    n_folds: int = 5,
    salt: str = "cv",
    out_col: str = "fold",
) -> DataFrame:
    """FM5c: entity-grouped fold assignment — ``h32(salt:entity) %
    n_folds``, so EVERY row of an entity lands in the same fold: the
    grouped split that prevents a val entity's other rows from training
    the model (the complement of the temporal split — use
    :func:`purged_cv_roles` when the leak is through time,
    this when it is through entity identity; compose both for panel
    data). Pure stateless salted-hash projection: zero shuffle,
    stream-safe, stable under corpus growth and consistent across tables
    sharing the entity space (same contract as corpus.hash_split), and
    engine-portable bit-for-bit. NULL entities raise — a silently
    unassigned row would leak out of every fold.
    """
    if n_folds < 1:
        raise ValueError("assign_entity_folds: n_folds must be >= 1")
    if out_col in df.columns:
        raise ValueError(f"assign_entity_folds: {out_col!r} already exists")
    from profet_spark.functions import hashing as H
    guarded = F.when(
        F.col(entity).isNull(),
        F.raise_error(F.lit(
            f"assign_entity_folds: NULL {entity} — folds are a pure "
            "function of the entity")).cast("string"),
    ).otherwise(F.col(entity).cast("string"))
    h = H.h32(F.concat(F.lit(f"{salt}:"), guarded))
    return df.withColumn(out_col, (h % n_folds).cast("bigint"))


def purged_cv_roles(
    df: DataFrame,
    ts: str = "ts",
    n_folds: int = 5,
    val_fold: int = 0,
    embargo_s: float = 0.0,
    purge_s: float = 0.0,
    bounds: tuple | None = None,
    out_col: str = "cv_role",
    scheme: str = "kfold",
) -> DataFrame:
    """FM5b: purged k-fold time-series CV roles with embargo (the López
    de Prado construction) — the zero-leakage split that matches this
    engine's point-in-time training matrices. Adds ``fold`` plus
    ``out_col`` ∈ {'val', 'purged', 'train'} for validation fold
    ``val_fold``:

    - ``val``: the row's fold IS ``val_fold``;
    - ``purged``: a non-val row whose label window or feature window
      overlaps the validation slice —
      * *purge* (look-ahead): a row before the slice whose label matures
        inside it — ``fold(us + purge_s) >= val_fold`` (interval overlap,
        not equality: a purge horizon longer than one fold still purges);
      * *embargo* (serial correlation): a row after the slice whose
        trailing features still read validation-period data —
        ``fold(us - embargo_s) <= val_fold``;
    - ``train``: everything else. Training on ``role = 'train'`` and
      evaluating on ``'val'`` is leakage-free by construction for labels
      maturing within ``purge_s`` and features looking back at most
      ``embargo_s`` (set them to the matrix's windows, e.g. FM3's
      ``window_s``).

    ``scheme='walk_forward'`` is the classic backtest variant: rows in
    folds AFTER the validation slice become ``'future'`` (never trained
    on — train strictly on the past); the immediate post-val embargo
    band still reads ``'purged'`` so its exclusion reason stays visible.

    Same exact-int64 fold grid as :func:`assign_time_folds` (equal time
    width; explicit ``bounds`` for streaming/stateless use). The whole
    operator is one projection over the broadcast 1-row bounds — no
    shuffle of the input, stream-safe with explicit bounds, and every
    comparison is integer, so the role is engine-portable bit-for-bit.
    """
    if not (0 <= val_fold < n_folds):
        raise ValueError(
            f"purged_cv_roles: val_fold {val_fold} outside [0, {n_folds})")
    for name, v in (("embargo_s", embargo_s), ("purge_s", purge_s)):
        if v < 0:
            raise ValueError(f"purged_cv_roles: {name} must be >= 0")
    for c in ("fold", out_col):
        if c in df.columns:
            raise ValueError(f"purged_cv_roles: column {c!r} already exists")
    if scheme not in ("kfold", "walk_forward"):
        raise ValueError(
            f"purged_cv_roles: unknown scheme {scheme!r} "
            "(kfold | walk_forward)")
    emb_us = int(round(float(embargo_s) * 1_000_000))
    pur_us = int(round(float(purge_s) * 1_000_000))
    base = _with_cv_bounds(df, ts, bounds)
    fold = _fold_expr("__cv_us", n_folds)
    k = F.lit(val_fold).cast("bigint")
    purged = ((fold < k) &
              (_fold_expr("__cv_us", n_folds, shift_us=pur_us) >= k)) | \
             ((fold > k) &
              (_fold_expr("__cv_us", n_folds, shift_us=-emb_us) <= k))
    role = F.when(fold == k, F.lit("val")).when(purged, F.lit("purged"))
    if scheme == "walk_forward":
        # the classic backtest: train strictly on the PAST — rows after
        # the validation slice never enter training (no embargo needed
        # on that side; it still marks the immediate post-val band so
        # the caller sees why those rows aren't 'future' by distance)
        role = role.when(fold > k, F.lit("future"))
    role = role.otherwise(F.lit("train"))
    return (base.withColumn("fold", fold).withColumn(out_col, role)
            .drop("__cv_us", "__cv_lo", "__cv_hi"))
