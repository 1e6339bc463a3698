"""Point-in-time as-of join (SURVEY.md §2.3 J3) — the engine's hard core.

Semantics: for each left row ``(entity, ts)``, attach the single right row
with the greatest ``right.ts <= left.ts`` (backward direction; optional
tolerance; optional strict ``<``). Right rows in the left row's future can
NEVER be attached — the zero-leakage invariant of BASELINE.json's
north_rule. ProFET has no join at all (SURVEY.md §2.3); this operator is
new, mandated by the north rule.

Spark has no native ASOF join, so two physical plans are implemented at
the DataFrame level (no custom Catalyst rule — SURVEY.md §4.2), one per
build-side regime:

``window`` (large build sides)
    Pure JVM: union the tagged sides, then ONE partitioned window
    ``last(payload struct, ignorenulls=True)`` carries the latest right
    payload onto every left row (right rows order before left at equal ts
    for ``<=``, after for strict ``<``; tolerance post-filters on the
    carried right-ts). Exchange + Sort + WindowExec, no Python boundary.

    Salting: WindowExec buffers one partition group at a time (spilling
    when it is large), so a hot entity's whole history sits in one task.
    Given ``hot_keys``, hot left rows get a deterministic salt in [0, s),
    hot right rows are REPLICATED once per salt, and the window partitions
    on ``(entity, salt)``: each hot group splits into ``s`` groups, each
    still seeing the entity's full right history. The salt column is
    dropped from the output; the rows equal the unsalted plan's.

``broadcast`` (small build sides)
    The build side is collected once (``toArrow``) and broadcast to every
    Python worker as a ts-sorted key frame plus its Arrow payload. A
    scalar Arrow UDF over the left side's key and ts columns runs a
    narrow ``pd.merge_asof`` per Arrow batch and ``take``s the matched
    payload rows as one struct; the other left columns never leave the
    JVM. Zero shuffle on the probe side.

``auto`` picks broadcast when the build side is provably small (its
parquet footer row count when it is a bare file scan, else one bounded
``limit().count()`` probe), else window. Salting is never automatic: the
caller passes ``hot_keys`` (from :func:`detect_hot_keys` — one aggregate
scan, run it explicitly — or an offline skew profile).

:func:`label_join`, the forward as-of, runs the same window plan with
the frame reversed.

Contract: a NULL ``ts`` on either side raises with a clear message in
every plan (point-in-time semantics are undefined for it).
"""

from __future__ import annotations

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
    (e.g. ``["user_id", "device"]``) — both plans partition/merge on the
    full tuple."""
    return [entity] if isinstance(entity, str) else list(entity)


def _ts_checked(df: DataFrame, ts: str, op: str) -> DataFrame:
    """Raise, naming ``op``, on a NULL ``ts``: point-in-time semantics are
    undefined for it, and the plans would otherwise disagree
    (merge_asof raises an opaque ValueError deep in an executor while a
    window carry silently smears values across the null) — one loud
    uniform contract instead."""
    return df.withColumn(ts, F.when(
        F.col(ts).isNull(),
        F.raise_error(F.lit(
            f"{op}: NULL {ts} — point-in-time rows must carry a "
            "timestamp")).cast(df.schema[ts].dataType),
    ).otherwise(F.col(ts)))


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


def asof_join(
    left: DataFrame,
    right: DataFrame,
    entity: str | list[str] = "image_id",
    ts: str = "ts",
    strategy: str = "auto",
    tolerance_s: float | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_r",
    salt: int = 8,
    hot_keys: list[Any] | None = None,
    broadcast_threshold: int = 200_000,
) -> DataFrame:
    """Attach, to every left row, the latest right row at-or-before its ts.

    ``entity`` is one column name or a composite-key list (both plans
    partition and merge on the full tuple; for composite keys,
    ``hot_keys`` entries are value tuples in the same column order).
    Returns left's columns plus right's value columns (collisions suffixed).
    ``allow_exact_matches=False`` makes the bound strict (< instead of <=).
    ``strategy`` is ``"auto"``, ``"window"`` or ``"broadcast"``;
    ``hot_keys`` salts the window plan ``salt`` ways on those entities.
    """
    left = _ts_checked(left, ts, "asof_join")
    right = _ts_checked(right, ts, "asof_join")
    pairs = _right_value_cols(left, right, entity, ts, suffix)

    if strategy == "auto":
        # build-side cardinality from parquet footers (no Spark job); the
        # bounded count probe only when the footers cannot tell
        n_right = estimate_row_count(right)
        if n_right is None:
            n_right = right.limit(broadcast_threshold + 1).count()
        strategy = "broadcast" if n_right <= broadcast_threshold else "window"

    if strategy == "broadcast":
        return _asof_broadcast(left, right, entity, ts, pairs, tolerance_s, allow_exact_matches)
    if strategy != "window":
        raise ValueError(f"unknown asof strategy: {strategy}")
    ents = _entity_cols(entity)
    if not hot_keys:
        return _asof_window(left, right, ents, ts, pairs, tolerance_s, allow_exact_matches)
    is_hot = _hot_predicate(ents, hot_keys)
    # left: hot rows spread deterministically across salts (hash of ts —
    # any stable per-row value works; correctness needs only that the
    # matching right rows exist under every salt)
    left = left.withColumn(_SALT, F.when(
        is_hot, F.pmod(F.xxhash64(F.col(ts)), F.lit(salt)).cast("int")
    ).otherwise(F.lit(0)))
    # right: hot rows replicated once per salt so every left shard sees
    # the full as-of history of its entity
    right = right.withColumn(_SALT, F.explode(F.when(
        is_hot, F.sequence(F.lit(0), F.lit(salt - 1))
    ).otherwise(F.array(F.lit(0)))))
    out = _asof_window(left, right, ents + [_SALT], ts, pairs, tolerance_s, allow_exact_matches)
    return out.drop(_SALT)


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


def _asof_window(left, right, ents, ts, pairs, bound_s, allow_exact, forward=False):
    """The pure-JVM plan: union the tagged sides, then one window over
    ``ents`` carries the nearest right payload onto every left row —
    ``last(payload, ignorenulls=True)`` over ``[unbounded preceding,
    current row]`` backward, ``first`` over ``[current row, unbounded
    following]`` forward. The whole plan is Exchange + Sort + WindowExec,
    no Python boundary. ``bound_s`` (tolerance backward, horizon forward)
    post-filters on the carried right-ts.

    Equal-ts visibility is the sort order of the side tag: the right row
    sorts inside the frame (before the left row backward, after it
    forward) iff ``allow_exact``. If right has several rows at one
    (entity, ts), pre-aggregate it — the requirement pd.merge_asof
    imposes on the broadcast plan too."""
    from pyspark.sql.window import Window

    pay_t = F.struct(
        F.col(ts).alias("__rts"), *[F.col(src).alias(dst) for src, dst in pairs]
    )
    r_side = int(forward == allow_exact)
    r = right.select(
        *[F.col(c) for c in ents], F.col(ts), pay_t.alias("__pay"),
        F.lit(r_side).alias(_SIDE),
    )
    lkeep = [c for c in left.columns if c not in ents and c != ts]
    l = left.select(
        *[F.col(c) for c in ents], F.col(ts),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        F.lit(1 - r_side).alias(_SIDE),
        *[F.col(c) for c in lkeep],
    )
    u = l.unionByName(r, allowMissingColumns=True)
    if forward:
        frame, pick = (Window.currentRow, Window.unboundedFollowing), F.first
    else:
        frame, pick = (Window.unboundedPreceding, Window.currentRow), F.last
    w = Window.partitionBy(*ents).orderBy(ts, _SIDE).rowsBetween(*frame)
    matched = pick("__pay", ignorenulls=True).over(w)
    if bound_s is not None:
        # NTZ timestamps can't cast straight to numeric in Spark 4 — hop
        # through TIMESTAMP (session TZ is pinned UTC, so it's the identity)
        sec = lambda c: c.cast("timestamp").cast("double")  # noqa: E731
        lts, rts = sec(F.col(ts)), sec(matched["__rts"])
        matched = F.when(((rts - lts) if forward else (lts - rts)) <= bound_s, matched)
    return (
        u.withColumn("__m", matched)
        .where(F.col(_SIDE) == 1 - r_side)
        .select(
            *[F.col(c) for c in left.columns],
            *[F.col("__m")[dst].alias(dst) for _, dst in pairs],
        )
    )


def _naive_utc(s: pd.Series) -> pd.Series:
    """A TimestampType column arrives tz-aware, in the session time zone
    inside a UDF but in UTC from ``toArrow``; merge keys must share one
    dtype, so both sides become naive UTC. Other types pass through."""
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        return s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s


def _asof_broadcast(left, right, entity, ts, pairs, tolerance_s, allow_exact):
    """Scalar Arrow UDF over the left side's key and ts columns only: the
    other left columns stay in the JVM and the matched right payload comes
    back as one struct. The build side is collected once (``toArrow``) and
    broadcast as a ts-sorted key frame plus its Arrow payload; per batch a
    narrow ``merge_asof`` on (keys, ts, row position) picks the payload
    row, which ``take`` gathers."""
    if not pairs:
        return left
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    ents = _entity_cols(entity)
    dsts = [dst for _, dst in pairs]
    rtab = right.select(*ents, ts, *[F.col(src).alias(dst) for src, dst in pairs]).toArrow()
    rkeys = rtab.select(ents + [ts]).to_pandas()
    rkeys[ts] = _naive_utc(rkeys[ts])
    rkeys["__rpos"] = np.arange(len(rkeys))
    rkeys = rkeys.sort_values(ts, kind="mergesort").reset_index(drop=True)
    payload = pa.StructArray.from_arrays(
        [rtab.column(d).combine_chunks() for d in dsts], dsts)
    bc = left.sparkSession.sparkContext.broadcast((rkeys, payload))
    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None
    rtypes = {f.name: f.dataType for f in right.schema.fields}
    pay_type = T.StructType([T.StructField(dst, rtypes[src], True) for src, dst in pairs])

    @arrow_udf(pay_type, ArrowUDFType.SCALAR)
    def asof_payload(*cols):
        _worker.init()
        rk, rpay = bc.value
        lk = pd.DataFrame({c: a.to_pandas() for c, a in zip(ents + [ts], cols)})
        lk[ts] = _naive_utc(lk[ts])
        lk["__lpos"] = np.arange(len(lk))
        lk = lk.sort_values(ts, kind="mergesort")
        m = pd.merge_asof(lk, rk, on=ts, by=ents, direction="backward",
                          allow_exact_matches=allow_exact, tolerance=tol)
        rpos = np.empty(len(lk))
        rpos[m["__lpos"].to_numpy()] = m["__rpos"].to_numpy(dtype=np.float64)
        miss = np.isnan(rpos)  # no right row at or before ts: NULL payload
        return rpay.take(pa.array(np.where(miss, 0, rpos).astype(np.int64), mask=miss))

    out = left.select("*", asof_payload(*ents, ts).alias("__asof"))
    return out.select(*left.columns, *[F.col("__asof")[d].alias(d) for d in dsts])


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

    Physical plan: :func:`asof_join`'s ``window`` plan with the frame
    reversed — tagged union → ONE Exchange on the entity →
    ``first(payload, ignorenulls=True)`` over ``[current row, unbounded
    following]``. Same contract as :func:`asof_join`: one right row per
    (entity, ts) — pre-aggregate the build side otherwise — and a loud
    error on NULL ts.
    """
    left = _ts_checked(left, ts, "label_join")
    right = _ts_checked(right, ts, "label_join")
    pairs = _right_value_cols(left, right, entity, ts, suffix)
    return _asof_window(left, right, _entity_cols(entity), ts, pairs, horizon_s,
                        allow_exact_matches, forward=True)
