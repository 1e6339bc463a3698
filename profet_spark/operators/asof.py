"""Point-in-time as-of join (SURVEY.md §2.3 J3) — the engine's hard core.

Semantics: for each left row ``(entity, ts)``, attach the single right row
with the greatest ``right.ts <= left.ts`` (backward direction; optional
tolerance; optional strict ``<``). Right rows in the left row's future can
NEVER be attached — the zero-leakage invariant of BASELINE.json's
north_rule. ProFET has no join at all (SURVEY.md §2.3); this operator is
new, mandated by the north rule.

Spark has no native ASOF join, so four physical strategies are
implemented at the DataFrame level (no custom Catalyst rule — SURVEY.md
§4.2):

``sort_merge`` (default, scales to 100 TB)
    Tag both sides, ``unionByName`` them, hash-``repartition`` on the
    entity key (ONE shuffle for both inputs), ``sortWithinPartitions(ts,
    side)`` so right rows precede left rows at equal ts, then a single
    ``mapInPandas`` pass per partition runs a vectorized
    ``pd.merge_asof(by=entity)`` over the whole co-partitioned,
    pre-sorted partition. No per-group Python dispatch (unlike
    ``groupBy().applyInPandas``, which pays per-entity overhead when
    entities are numerous and small), and AQE can still coalesce the
    exchange.

``broadcast``
    Small build side: collected once, broadcast to every Python worker,
    merged against each Arrow batch of the (un-shuffled!) left side.
    Zero shuffle on the probe side — the strategy of choice when the
    right side is a dimension-sized update stream.

``salted``
    Skewed entity clusters (the fixture's hot phash cluster holds ~30% of
    rows): hot left rows get a deterministic salt in [0, s), hot right
    rows are REPLICATED once per salt, and the sort-merge path runs on
    ``(entity, salt)``. AQE's skew-join splitting cannot see inside
    ``mapInPandas``, so the salting is explicit (SURVEY.md §4.2).
    Results are bit-identical to the unsalted path (tests/test_asof.py).

``window``
    Pure JVM: union the tagged sides, then ONE partitioned window
    ``last(payload struct, ignorenulls=True)`` carries the latest right
    payload onto every left row (right rows order before left at equal ts
    for ``<=``, after for strict ``<``; tolerance post-filters on the
    carried right-ts). Exchange + Sort + WindowExec, no Python boundary —
    fastest path when the payload fits a struct; bit-identical to
    sort_merge (tests/test_asof.py matrix).

``auto`` picks broadcast when the build side is provably small (its
parquet footer row count when it is a bare file scan, else one bounded
``limit().count()`` probe), salted when the caller supplies
``hot_keys`` (from :func:`detect_hot_keys` — one aggregate scan, run it
explicitly — or an offline skew profile; auto never scans for skew
implicitly), else sort-merge.

Contract: a NULL ``ts`` on either side raises with a clear message in
every strategy (point-in-time semantics are undefined for it).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from profet_spark import _worker
from profet_spark.sources.stats import estimate_row_count

_SIDE = "__asof_side"
_SALT = "__asof_salt"


def _entity_cols(entity) -> list[str]:
    """Normalize the entity key: a single column name or a composite list
    (e.g. ``["user_id", "device"]``) — every strategy partitions/merges on
    the full tuple."""
    return [entity] if isinstance(entity, str) else list(entity)


def _right_value_cols(left: DataFrame, right: DataFrame, entity, ts: str, suffix: str) -> list[tuple[str, str]]:
    """(right_col, output_name) pairs for the payload the join attaches."""
    keys = set(_entity_cols(entity)) | {ts}
    taken = set(left.columns)
    emitted = set()
    out = []
    for f in right.schema.fields:
        if f.name in keys:
            continue
        name = f.name if f.name not in taken else f"{f.name}{suffix}"
        if name in emitted or (name != f.name and name in taken):
            # e.g. left has 'x' and 'x_r', right has 'x': the suffixed
            # name collides — a duplicate-label schema fails deep inside
            # Arrow conversion, so raise a clear error here instead
            raise ValueError(
                f"asof_join: output column {name!r} collides (left columns "
                f"{sorted(taken)}, suffix {suffix!r}) — rename the right "
                "column or pass a different suffix")
        emitted.add(name)
        out.append((f.name, name))
    return out


def _out_schema(left: DataFrame, right: DataFrame, pairs: list[tuple[str, str]]) -> T.StructType:
    fields = list(left.schema.fields)
    rmap = {f.name: f for f in right.schema.fields}
    for src, dst in pairs:
        fields.append(T.StructField(dst, rmap[src].dataType, True))
    return T.StructType(fields)


def _merge_kernel(
    left_cols: list[str],
    pairs: list[tuple[str, str]],
    entity: str,
    ts: str,
    tolerance_s: float | None,
    allow_exact: bool,
    by_cols: list[str],
):
    """Build the per-partition pandas merge function. The partition
    arrives co-partitioned on the entity key and sorted by (ts, side) —
    merge_asof's preconditions.

    STREAMING merge: batches are processed as they arrive; the only state
    carried across batches is, per by-group, the latest right row for each
    of the last TWO distinct ts values (never the whole partition). Two,
    not one: with allow_exact_matches=False a left row at ts T must reject
    an equal-ts right and fall back to the latest right with ts < T, which
    can sit one distinct-ts step earlier when an Arrow batch boundary
    splits an equal-ts run. Null by-keys are kept in the carry
    (dropna=False) — merge_asof matches them like any other group.
    Correctness leans on the global (ts, side) sort: every carry row's ts
    is <= every ts in later batches, so prepending the (ts-sorted) carry
    to a batch's right rows preserves merge_asof's sorted-on-key
    precondition, and right-before-left at equal ts means a left row's
    admissible rights can never land in a LATER batch. Memory is
    O(arrow_batch + distinct_entities_in_partition) instead of the whole
    partition — the 100 TB-safe shape."""
    rsrc = [src for src, _ in pairs]
    rename = dict(pairs)
    dsts = [dst for _, dst in pairs]
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None
    lkeep = left_cols + [c for c in by_cols if c not in left_cols]

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _worker.init()
        carry: pd.DataFrame | None = None  # latest right row per by-group
        for pdf in batches:
            if pdf.empty:
                continue
            lmask = pdf[_SIDE] == 1
            lpdf = pdf.loc[lmask, lkeep].reset_index(drop=True)
            rpdf = (pdf.loc[~lmask, by_cols + [ts] + rsrc]
                    .reset_index(drop=True).rename(columns=rename))
            if carry is None or carry.empty:
                rall = rpdf
            elif rpdf.empty:
                rall = carry
            else:
                rall = pd.concat([carry, rpdf], ignore_index=True)
            if not lpdf.empty:
                if rall.empty:
                    out = lpdf.copy()
                    for dst in dsts:
                        out[dst] = None
                else:
                    out = pd.merge_asof(
                        lpdf,
                        rall,
                        on=ts,
                        by=by_cols,
                        direction="backward",
                        allow_exact_matches=allow_exact,
                        tolerance=tol,
                        suffixes=("", "__rdup"),
                    )
                yield out[left_cols + dsts]
            if not rall.empty:
                # rall is ts-sorted (carry ts <= batch ts; both sorted):
                # keep, per group, the latest row of each of the last two
                # DISTINCT ts values (strict-bound fallback), nulls kept
                last_per_ts = (rall.groupby(by_cols + [ts], sort=False,
                                            as_index=False, dropna=False)
                               .tail(1))
                carry = (last_per_ts.groupby(by_cols, sort=False,
                                             as_index=False, dropna=False)
                         .tail(2).reset_index(drop=True))

    return merge


def asof_join(
    left: DataFrame,
    right: DataFrame,
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    strategy: str = "auto",
    tolerance_s: float | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_r",
    num_partitions: int | None = None,
    salt: int = 8,
    hot_keys: list[Any] | None = None,
    broadcast_threshold: int = 200_000,
    skew_frac: float = 0.05,
) -> DataFrame:
    """Attach, to every left row, the latest right row at-or-before its ts.

    ``entity`` is one column name or a composite-key list (every strategy
    partitions and merges on the full tuple; for composite keys,
    ``hot_keys`` entries are value tuples in the same column order).
    Returns left's columns plus right's value columns (collisions suffixed).
    ``allow_exact_matches=False`` makes the bound strict (< instead of <=).

    Cost note: ``strategy="salted"`` with ``hot_keys=None`` runs
    :func:`detect_hot_keys` — one full scan of ``left`` (a per-entity hash
    aggregate). At warehouse scale pass ``hot_keys`` explicitly (from table
    statistics or an offline skew profile) so the salted plan adds no scan.
    """
    spark = left.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

    # point-in-time semantics are undefined for a NULL ts, and the
    # strategies would otherwise disagree: merge_asof raises an opaque
    # ValueError deep in an executor while the window path silently
    # carries values across the null — one loud uniform contract instead
    def _ts_checked(df: DataFrame) -> DataFrame:
        return df.withColumn(ts, F.when(
            F.col(ts).isNull(),
            F.raise_error(F.lit(
                f"asof_join: NULL {ts} — point-in-time rows must carry a "
                "timestamp")).cast(df.schema[ts].dataType),
        ).otherwise(F.col(ts)))

    left, right = _ts_checked(left), _ts_checked(right)

    pairs = _right_value_cols(left, right, entity, ts, suffix)
    schema = _out_schema(left, right, pairs)
    left_cols = left.columns

    if strategy == "auto":
        # build-side cardinality from parquet footers (no Spark job); the
        # bounded count probe only when the footers cannot tell
        n_right = estimate_row_count(right)
        if n_right is None:
            n_right = right.limit(broadcast_threshold + 1).count()
        if n_right <= broadcast_threshold:
            strategy = "broadcast"
        elif hot_keys:
            strategy = "salted"
        else:
            strategy = "sort_merge"

    if strategy == "broadcast":
        return _asof_broadcast(left, right, entity, ts, pairs, schema, tolerance_s, allow_exact_matches)
    if strategy == "salted":
        if hot_keys is None:
            hot_keys = detect_hot_keys(left, entity, skew_frac)
        return _asof_salted(
            left, right, entity, ts, pairs, schema, tolerance_s, allow_exact_matches,
            num_partitions, salt, hot_keys,
        )
    if strategy == "sort_merge":
        return _asof_sort_merge(
            left, right, entity, ts, pairs, schema, tolerance_s, allow_exact_matches, num_partitions
        )
    if strategy == "window":
        return _asof_window(left, right, entity, ts, pairs, tolerance_s, allow_exact_matches)
    raise ValueError(f"unknown asof strategy: {strategy}")


def detect_hot_keys(df: DataFrame, entity: str | list[str], frac: float = 0.05,
                    max_keys: int = 64,
                    total_rows: int | None = None) -> list[Any]:
    """Entities holding more than ``frac`` of all rows — scalars for a
    single-column key, value tuples (in ``entity`` order) for a composite.

    ONE scan of ``df`` (the per-entity hash aggregate): the total row count
    is re-aggregated from the persisted per-entity counts — never a second
    full scan — or skipped entirely when the caller passes ``total_rows``
    from table statistics. At 100 TB prefer an offline skew profile and
    pass ``hot_keys`` to :func:`asof_join` directly; callers should
    cache/materialize the result either way."""
    ents = _entity_cols(entity)
    counts = df.groupBy(*ents).count().persist()
    try:
        if total_rows is None:
            row = counts.agg(F.sum("count").alias("t")).first()
            total_rows = int(row["t"] or 0)
        if total_rows == 0:
            return []
        rows = (
            counts.where(F.col("count") > total_rows * frac)
            .orderBy(F.desc("count"))
            .limit(max_keys)
            .collect()
        )
        if len(ents) == 1:
            return [r[ents[0]] for r in rows]
        return [tuple(r[c] for c in ents) for r in rows]
    finally:
        counts.unpersist()


def _prep_union(left: DataFrame, right: DataFrame, entity, ts: str, pairs):
    """Tag sides and union: one DataFrame carrying both inputs so a single
    Exchange co-partitions them."""
    ents = _entity_cols(entity)
    rsel = [F.col(c) for c in ents] + [F.col(ts)] + [F.col(src) for src, _ in pairs]
    r = right.select(*rsel).withColumn(_SIDE, F.lit(0))
    l = left.withColumn(_SIDE, F.lit(1))
    return l.unionByName(r, allowMissingColumns=True)


def _asof_sort_merge(left, right, entity, ts, pairs, schema, tolerance_s, allow_exact, n):
    ents = _entity_cols(entity)
    u = _prep_union(left, right, entity, ts, pairs)
    # one shuffle co-partitions both sides; sort is within-partition only
    # (no global range sort needed — merge_asof(by=) handles interleaved keys).
    u = u.repartition(n, *ents).sortWithinPartitions(ts, _SIDE)
    kernel = _merge_kernel(left.columns, pairs, entity, ts, tolerance_s, allow_exact, ents)
    return u.mapInPandas(kernel, schema=schema)


def _asof_window(left, right, entity, ts, pairs, tolerance_s, allow_exact):
    """Pure-JVM strategy: union the tagged sides, then one partitioned
    window ``last(payload, ignorenulls=True)`` carries the most recent
    right payload forward onto every left row. Whole plan is Exchange +
    Sort + WindowExec — no Python boundary at all, so it wins whenever the
    payload fits a struct column and the entity isn't pathologically hot
    (window partitions, like mapInPandas groups, are invisible to AQE skew
    splitting — use 'salted' for hot keys).

    Ordering rule: right rows sort BEFORE left rows at equal ts when
    allow_exact (so the <=-bound sees them), AFTER when strict. If right
    has several rows at one (entity, ts), pre-aggregate it — same
    requirement pd.merge_asof imposes on the other strategies."""
    from pyspark.sql.window import Window

    ents = _entity_cols(entity)
    pay_t = F.struct(
        F.col(ts).alias("__rts"), *[F.col(src).alias(dst) for src, dst in pairs]
    )
    r = right.select(
        *[F.col(c) for c in ents], F.col(ts), pay_t.alias("__pay"),
        F.lit(0 if allow_exact else 1).alias(_SIDE),
    )
    lkeep = [c for c in left.columns if c not in ents and c != ts]
    l = left.select(
        *[F.col(c) for c in ents], F.col(ts),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        F.lit(1 if allow_exact else 0).alias(_SIDE),
        *[F.col(c) for c in lkeep],
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*ents).orderBy(ts, _SIDE)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = F.last("__pay", ignorenulls=True).over(w)
    if tolerance_s is not None:
        # NTZ timestamps can't cast straight to numeric in Spark 4 — hop
        # through TIMESTAMP (session TZ is pinned UTC, so it's the identity)
        sec = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
        in_tol = (sec(F.col(ts)) - sec(matched["__rts"])) <= tolerance_s
        matched = F.when(in_tol, matched)
    left_side = 1 if allow_exact else 0
    out = (
        u.withColumn("__m", matched)
        .where(F.col(_SIDE) == left_side)
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col("__m")[dst].alias(dst) for _, dst in pairs],
        )
    )
    return out


def _asof_broadcast(left, right, entity, ts, pairs, schema, tolerance_s, allow_exact):
    ents = _entity_cols(entity)
    rsel = ents + [ts] + [src for src, _ in pairs]
    rpdf = right.select(*rsel).toPandas().sort_values(ts, kind="mergesort").reset_index(drop=True)
    rpdf = rpdf.rename(columns=dict(pairs))
    bc = left.sparkSession.sparkContext.broadcast(rpdf)
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None
    left_cols = left.columns
    dsts = [dst for _, dst in pairs]

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _worker.init()
        rp = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            lp = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
            out = pd.merge_asof(
                lp, rp, on=ts, by=ents, direction="backward",
                allow_exact_matches=allow_exact, tolerance=tol, suffixes=("", "__rdup"),
            )
            yield out[left_cols + dsts]

    return left.mapInPandas(merge, schema=schema)


def _hot_predicate(ents: list[str], hot_keys):
    """Row-is-hot predicate: membership for a single key, OR-of-AND over
    value tuples (same column order as ``ents``) for composite keys."""
    if len(ents) == 1:
        return F.col(ents[0]).isin(list(hot_keys))
    conds = [
        F.struct(*[F.col(c) for c in ents])
        == F.struct(*[F.lit(v) for v in tup])
        for tup in hot_keys
    ]
    out = F.lit(False)
    for c in conds:
        out = out | c
    return out


def _asof_salted(left, right, entity, ts, pairs, schema, tolerance_s, allow_exact, n, salt, hot_keys):
    ents = _entity_cols(entity)
    is_hot = _hot_predicate(ents, hot_keys)
    # left: hot rows spread deterministically across salts (hash of ts —
    # any stable per-row value works; correctness needs only that the
    # matching right rows exist under every salt).
    l = left.withColumn(
        _SALT, F.when(is_hot, F.pmod(F.xxhash64(F.col(ts)), F.lit(salt)).cast("int")).otherwise(F.lit(0))
    )
    # right: hot rows replicated once per salt so every left shard sees
    # the full as-of history of its entity.
    r = right.withColumn(
        "_salts",
        F.when(is_hot, F.sequence(F.lit(0), F.lit(salt - 1))).otherwise(F.array(F.lit(0))),
    ).withColumn(_SALT, F.explode("_salts")).drop("_salts")

    rsel = [F.col(c) for c in ents] + [F.col(ts), F.col(_SALT)] + [F.col(src) for src, _ in pairs]
    rr = r.select(*rsel).withColumn(_SIDE, F.lit(0))
    ll = l.withColumn(_SIDE, F.lit(1))
    u = ll.unionByName(rr, allowMissingColumns=True)
    u = u.repartition(n, *ents, _SALT).sortWithinPartitions(ts, _SIDE)
    kernel = _merge_kernel(left.columns, pairs, entity, ts, tolerance_s, allow_exact, ents + [_SALT])
    return u.mapInPandas(kernel, schema=schema)


def interval_join(points: DataFrame, intervals: DataFrame, point_ts: str,
                  start_ts: str, end_ts: str, keys: list[str] | None = None,
                  bin_seconds: int = 3600, how: str = "inner",
                  max_point_ts: int | None = None) -> DataFrame:
    """J4 scale path: point-in-interval join WITHOUT requiring an equi
    key — binned so Spark never plans a nested-loop/cartesian.

    With an equi key (e.g. user_id) Spark already handles
    ``point.ts BETWEEN i.start AND i.end`` as a SortMergeJoin on the key
    with a range residual — use a plain join there (the graded
    j4_range_join shape). With NO shared key the same condition
    degenerates to BroadcastNestedLoop (quadratic at scale). This
    operator applies the standard binning trick instead:

    - each interval EXPLODES into the ``bin_seconds`` grid cells it
      overlaps (``sequence(floor(start), floor(end))`` — Catalyst
      codegen, no Python);
    - each point maps to its single cell;
    - equi-join on ``(keys..., cell)`` — a narrow hash/SMJ exchange —
    - then the exact ``[start, end)`` predicate filters survivors.

    A point's cell is covered exactly once per overlapping interval, so
    no dedup is needed. Cost scales with interval span / bin_seconds:
    pick ``bin_seconds`` near the MEDIAN interval length (a day-long
    interval at 1 h bins = 24 replicas — the shuffle stays linear; a
    pathological years-long interval would fan out 10^4 rows, which is
    the same skew a hot key causes: AQE's skew-join split handles the
    cell, or pre-split such intervals). ``how='inner'`` (matches only)
    or ``'left'`` (keep unmatched points with NULL interval columns).
    ``max_point_ts`` (epoch seconds): known data horizon bounding
    open-ended (NULL-end) intervals, skipping the one bounded
    max-aggregate job the operator otherwise runs for them.

    Upstream has no analog (single-process ProFET joins nothing);
    semantics follow the standard streaming/warehouse interval-join
    contract: start inclusive, end exclusive, NULL end = open-ended.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    keys = list(keys or [])
    overlap = [c for c in points.columns if c in intervals.columns
               and c not in keys]
    if overlap:
        raise ValueError(
            f"ambiguous non-key columns on both sides: {overlap}; "
            "rename or drop before joining")
    cell = "__ij_cell"
    p_cell = (F.unix_timestamp(F.col(point_ts)) / bin_seconds).cast("bigint")
    i_lo = (F.unix_timestamp(F.col(start_ts)) / bin_seconds).cast("bigint")
    # NULL end = open-ended: bound the explode at the points' max cell.
    # ONE bounded driver value (a max over the narrow point-ts
    # projection — the detect_hot_keys O(1)-collect pattern), NOT a
    # 1-row broadcast cross join, which would plant a
    # BroadcastNestedLoopJoin in an operator whose whole point is
    # avoiding nested loops. Callers with a known horizon pass
    # max_point_ts and skip the extra job entirely.
    if max_point_ts is not None:
        mx_cell = int(max_point_ts) // bin_seconds
    else:
        mx_cell = points.select(F.max(p_cell)).first()[0]
        if mx_cell is None:  # no points: result is empty either way
            mx_cell = 0
    i_hi_raw = (F.unix_timestamp(F.col(end_ts)) / bin_seconds).cast("bigint")
    i_hi = F.when(F.col(end_ts).isNull(), F.lit(mx_cell)).otherwise(i_hi_raw)
    iv = intervals.withColumn(
        cell, F.explode(F.sequence(i_lo, F.greatest(i_lo, i_hi))))
    pt = points.withColumn(cell, p_cell)
    # the exact range predicate lives INSIDE the join condition: the
    # equi part (keys + cell) still drives the hash/SMJ exchange and the
    # range evaluates as a residual on matched pairs — so how='left'
    # keeps a point whose every cell-match fails the range (NULL
    # interval columns), which a post-join filter would wrongly drop
    in_range = (
        (pt[point_ts] >= iv[start_ts])
        & (iv[end_ts].isNull() | (pt[point_ts] < iv[end_ts])))
    cond = [pt[k] == iv[k] for k in keys] + [pt[cell] == iv[cell], in_range]
    from functools import reduce

    out = pt.join(iv, reduce(lambda a, b: a & b, cond), how=how)
    drop = [iv[cell]] + [iv[k] for k in keys]
    for c in drop:
        out = out.drop(c)
    return out.drop(cell)


def label_join(
    left: DataFrame,
    right: DataFrame,
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    horizon_s: float | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_y",
) -> DataFrame:
    """Attach, to every left row, the EARLIEST right row at-or-after its
    ts (forward as-of) — the label-attachment operator: "the first
    outcome event within the horizon". ``horizon_s`` bounds the lookahead
    (rows with no outcome inside it get NULL labels — the right censoring
    a supervised pipeline must see, not silently drop);
    ``allow_exact_matches=False`` makes the bound strict (> instead of >=).

    This operator looks FORWARD on purpose and must only ever build
    training LABELS: a feature produced by it reads the future by
    construction (point-in-time audit: ``leakage_audit`` flags any
    ``*_asof_ts`` column that exceeds its spine ts, and this operator's
    match timestamps are >= ts for every matched row — the mirror image
    of :func:`asof_join`'s zero-leakage invariant).

    Physical plan mirrors :func:`asof_join`'s pure-JVM ``window``
    strategy with the frame reversed: tagged union → ONE Exchange on the
    entity → ``first(payload, ignorenulls=True)`` over
    ``[current row, unbounded following]``. Equal-ts visibility is the
    sort order of the side tag (right before left iff strict — outside
    the forward frame). Same contract as the other strategies: one right
    row per (entity, ts) — pre-aggregate the build side otherwise — and
    a loud error on NULL ts.
    """
    from pyspark.sql.window import Window

    ents = _entity_cols(entity)

    def _ts_checked(df: DataFrame) -> DataFrame:
        return df.withColumn(ts, F.when(
            F.col(ts).isNull(),
            F.raise_error(F.lit(
                f"label_join: NULL {ts} — point-in-time rows must carry "
                "a timestamp")).cast(df.schema[ts].dataType),
        ).otherwise(F.col(ts)))

    left, right = _ts_checked(left), _ts_checked(right)
    pairs = _right_value_cols(left, right, entity, ts, suffix)

    pay_t = F.struct(
        F.col(ts).alias("__rts"), *[F.col(src).alias(dst) for src, dst in pairs]
    )
    # forward frame: at equal ts the right row must sort AT-OR-AFTER the
    # left row to be visible (allow_exact), BEFORE it to be excluded
    r = right.select(
        *[F.col(c) for c in ents], F.col(ts), pay_t.alias("__pay"),
        F.lit(1 if allow_exact_matches else 0).alias(_SIDE),
    )
    lkeep = [c for c in left.columns if c not in ents and c != ts]
    l = left.select(
        *[F.col(c) for c in ents], F.col(ts),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        F.lit(0 if allow_exact_matches else 1).alias(_SIDE),
        *[F.col(c) for c in lkeep],
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(*ents).orderBy(ts, _SIDE)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    matched = F.first("__pay", ignorenulls=True).over(w)
    if horizon_s is not None:
        sec = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
        in_h = (sec(matched["__rts"]) - sec(F.col(ts))) <= horizon_s
        matched = F.when(in_h, matched)
    left_side = 0 if allow_exact_matches else 1
    return (
        u.withColumn("__m", matched)
        .where(F.col(_SIDE) == left_side)
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col("__m")[dst].alias(dst) for _, dst in pairs],
        )
    )
