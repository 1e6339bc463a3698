"""Streaming twins of the batch temporal algebra (SURVEY.md §2.9).

ProFET has no streaming surface at all (single-process batch scripts —
[R] ProFET/feat_extract/pipeline.py); the engine's batch point-in-time
semantics are the contract, and each batch operator below has a Structured
Streaming analog with the SAME grouping semantics:

  batch temporal.tumbling_window     <-> tumbling_counts  (F.window)
  batch temporal.sliding_time_window <-> sliding_counts   (F.window w/ slide)
  batch temporal.sessionize+groupBy  <-> session_agg      (F.session_window)
  batch dropDuplicates               <-> dedup_within_watermark

Late data: every stream is watermarked; rows older than the watermark are
dropped by Spark's state eviction — the streaming stand-in for the batch
zero-leakage rule (state never reaches back past the watermark horizon).

At scale these run with the same partitioning story as batch (state-store
shuffle on the grouping keys); `availableNow` triggers give exactly-once
batch-equivalent replays for the tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from profet_spark import _worker


def read_parquet_stream(spark: SparkSession, path: str, schema: StructType,
                        ts_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """File-source stream over a parquet directory with an event-time
    watermark (the production shape would be Kafka/Iceberg incremental;
    the source swap changes one line)."""
    stream = spark.readStream.schema(schema).parquet(path)
    # testdata timestamps are TIMESTAMP_NTZ; event-time/watermark require
    # TIMESTAMP (LTZ). Session TZ is pinned UTC so the cast is the identity.
    if dict(stream.dtypes).get(ts_col) == "timestamp_ntz":
        stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return stream.withWatermark(ts_col, watermark)


def tumbling_counts(stream: DataFrame, width: str, entity: str = "user_id",
                    ts: str = "ts", value: str = "value") -> DataFrame:
    """W7 streaming twin: per-entity tumbling-window count + exact sum."""
    return (
        stream.groupBy(F.window(ts, width).alias("win"), entity)
        .agg(F.count("*").alias("n"),
             F.sum(F.col(value).cast("decimal(18,2)")).alias("sv"))
        .select(entity, F.col("win.start").cast("timestamp_ntz").alias("win_start"), "n", "sv")
    )


def theta_daily_rollup(stream: DataFrame, value: str = "user_id",
                       ts: str = "ts", lgk: int = 12) -> DataFrame:
    """A17 streaming twin: per-day theta distinct sketches as a
    streaming windowed aggregation (1-day tumbling window over the
    watermarked event time). DataSketches aggregates are
    TypedImperativeAggregates with partial merge, so the streaming
    state holds partial SKETCHES (bytes per open window, never values)
    across micro-batches. In the exact-mode regime (≤ 2^lgk distinct
    per day) a theta sketch is a merge-order-free verbatim hash
    sample, so the drained rows equal the batch
    ``sketches.theta_rollup`` bit-for-bit and downstream
    ``retention_rollup`` set expressions are batch-identical — the
    graded contract."""
    return (stream.groupBy(F.window(ts, "1 day").alias("w"))
            .agg(F.theta_sketch_agg(value, F.lit(lgk)).alias("sketch"))
            .select(F.expr("CAST(unix_micros(w.start) div 86400000000"
                           " AS BIGINT)").alias("day"), "sketch"))


def sliding_counts(stream: DataFrame, width: str, slide: str,
                   entity: str = "user_id", ts: str = "ts") -> DataFrame:
    """W7 sliding variant (overlapping windows)."""
    return (
        stream.groupBy(F.window(ts, width, slide).alias("win"), entity)
        .agg(F.count("*").alias("n"))
        .select(entity, F.col("win.start").cast("timestamp_ntz").alias("win_start"), "n")
    )


def session_agg(stream: DataFrame, gap_seconds: int, entity: str = "user_id",
                ts: str = "ts") -> DataFrame:
    """W5 streaming twin: gap-based session windows. Session start/end and
    row counts match batch temporal.sessionize + groupBy(session_id)."""
    gap = f"{gap_seconds} seconds"
    return (
        stream.groupBy(F.session_window(ts, gap).alias("win"), entity)
        .agg(F.count("*").alias("n"))
        .select(entity, F.col("win.start").cast("timestamp_ntz").alias("session_start"), "n")
    )


def dedup_within_watermark(stream: DataFrame, keys: list[str]) -> DataFrame:
    """F3 streaming twin: stateful dedup bounded by the watermark (state
    for a key is dropped once the watermark passes it — bounded memory at
    unbounded input)."""
    return stream.dropDuplicatesWithinWatermark(keys)


def run_available_now(df: DataFrame, name: str, output_mode: str = "complete") -> None:
    """Drain everything currently available into an in-memory table
    ``name`` and stop — the batch-equivalent replay used by the tests.

    The ``complete`` default fits the windowed AGGREGATIONS in this
    module (tumbling/sliding/session); the append-only stateful operators
    (:func:`dedup_within_watermark`, :func:`stateful_asof_attach`) reject
    it at ``start()`` — pass ``output_mode="append"`` for those."""
    q = (
        df.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stateful_asof_attach(stream: DataFrame, entity: str = "user_id",
                         ts: str = "ts", right_col: str = "pv") -> DataFrame:
    """J3 streaming twin — a CUSTOM STATEFUL operator via
    ``applyInPandasWithState`` (the pattern Spark's built-in stream joins
    cannot express: attach the latest build-side row at-or-before each
    event's timestamp, with per-entity state carried across micro-batches).

    Contract: rows where ``right_col`` is non-null are build-side rows
    (pre-aggregated upstream like the batch flagship); every row is
    emitted with ``{right_col}_asof`` = the max build value among rows of
    equal latest ts at-or-before its own ts — identical to
    ``operators.asof.asof_join(..., allow_exact_matches=True)`` on the
    same rows (tests prove equality, including multi-batch replays).

    State per entity: ``(last_right_ts_us, last_right_val)`` — O(1), no
    row buffering. Ordering contract (documented, matching the watermark
    model): micro-batches must arrive per-entity time-monotonic (true for
    append-log replays and availableNow); a production deployment buffers
    out-of-order rows until the watermark passes, exactly as the built-in
    session/dedup state stores do.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType as ST,
    )

    out_field = f"{right_col}_asof"
    out_schema = ST(list(stream.schema.fields)
                    + [StructField(out_field, DoubleType())])
    state_schema = ST([StructField("last_ts_us", LongType()),
                       StructField("last_val", DoubleType())])
    in_cols = stream.columns

    def attach(key, pdfs, state):
        _worker.init()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        is_right = pdf[right_col].notna()
        # rights first within equal ts => ffill implements allow_exact=True;
        # per-ts max first so equal-ts build rows behave like the batch
        # groupBy(entity, ts).agg(max) build side
        pdf["_r"] = is_right
        mx = pdf.loc[is_right].groupby(ts)[right_col].transform("max")
        pdf.loc[is_right, right_col] = mx
        last_ts_us = last_val = None
        if state.exists:
            last_ts_us, last_val = state.get
            # a build ts can straddle a micro-batch boundary: rows of the
            # stored ts arriving in THIS batch must max-merge with the
            # stored value (the batch twin's groupBy(entity, ts).max spans
            # batches) — overwriting would let a smaller late twin win
            ts_us = (pdf[ts].astype("datetime64[ns]").astype("int64")
                     // 1000)
            eq = is_right & (ts_us == last_ts_us)
            if eq.any():
                pdf.loc[eq, right_col] = pdf.loc[eq, right_col].clip(
                    lower=last_val)
        pdf = pdf.sort_values([ts, "_r"], ascending=[True, False],
                              kind="mergesort").reset_index(drop=True)
        ff = pdf[right_col].ffill()
        if state.exists:
            ff = ff.fillna(last_val)
        rights = pdf.loc[pdf["_r"]]
        if not rights.empty:
            last_row = rights.iloc[-1]
            state.update((int(pd.Timestamp(last_row[ts]).value // 1000),
                          float(last_row[right_col])))
        pdf[out_field] = ff
        yield pdf[in_cols + [out_field]]

    return (
        stream.groupBy(entity)
        .applyInPandasWithState(attach, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def stateful_matrix_attach(stream: DataFrame, entity: str = "user_id",
                           ts: str = "ts",
                           right_cols: list[str] | tuple[str, ...] = ("pv",)):
    """FM streaming twin — the feature-store spine join as ONE custom
    stateful operator: N feature columns attached per entity with O(1)
    state per (entity, table), the streaming analog of
    ``operators.feature_matrix.point_in_time_matrix`` exactly as
    :func:`stateful_asof_attach` is the analog of one ``asof_join``.

    Contract per column ``c`` in ``right_cols``: rows where ``c`` is
    non-null are that table's build rows (a row may be build for one
    table and probe for the others); every row is emitted with
    ``{c}_asof`` = the max build value among rows at the latest build ts
    at-or-before its own ts — per column identical to a backward
    ``allow_exact_matches`` as-of join (and to DuckDB ``ASOF JOIN``,
    which the tests/oracle use).

    Internals: each micro-batch builds, per column, the (ts, max-value)
    build series MERGED with the stored per-column state row — so equal-ts
    build rows straddling a micro-batch boundary max-merge exactly like
    the batch ``groupBy(entity, ts).max`` — then attaches via a
    ``merge_asof`` against that series (order-insensitive at equal ts,
    unlike an ffill over a single global sort). State per entity:
    ``(last_ts_us, last_val)`` per column — never row buffers. Same
    per-entity time-monotonic micro-batch ordering contract as
    :func:`stateful_asof_attach`.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType as ST,
    )

    cols = list(right_cols)
    out_fields = [f"{c}_asof" for c in cols]
    out_schema = ST(list(stream.schema.fields)
                    + [StructField(f, DoubleType()) for f in out_fields])
    state_fields = []
    for i in range(len(cols)):
        state_fields += [StructField(f"last_ts_us_{i}", LongType()),
                         StructField(f"last_val_{i}", DoubleType())]
    state_schema = ST(state_fields)
    in_cols = stream.columns

    def attach(key, pdfs, state):
        _worker.init()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        stored = list(state.get) if state.exists else [None] * (2 * len(cols))
        pdf["_ts_us"] = (pdf[ts].astype("datetime64[ns]").astype("int64")
                         // 1000)
        pdf = pdf.sort_values("_ts_us", kind="mergesort").reset_index(drop=True)
        new_state = []
        for i, c in enumerate(cols):
            lt, lv = stored[2 * i], stored[2 * i + 1]
            m = pdf[c].notna()
            rc = pdf.loc[m, ["_ts_us", c]].copy()
            rc[c] = rc[c].astype("float64")
            if lt is not None:
                rc = pd.concat(
                    [pd.DataFrame({"_ts_us": [lt], c: [lv]}), rc],
                    ignore_index=True)
            if rc.empty:
                pdf[f"{c}_asof"] = pd.Series(
                    [None] * len(pdf), index=pdf.index, dtype="float64")
                new_state += [lt, lv]
                continue
            rc = (rc.groupby("_ts_us", as_index=False)[c].max()
                  .sort_values("_ts_us", kind="mergesort"))
            asof = pd.merge_asof(
                pdf[["_ts_us"]], rc.rename(columns={c: f"{c}_asof"}),
                on="_ts_us", direction="backward")
            pdf[f"{c}_asof"] = asof[f"{c}_asof"].to_numpy()
            last = rc.iloc[-1]
            new_state += [int(last["_ts_us"]), float(last[c])]
        if any(v is not None for v in new_state):
            state.update(tuple(new_state))
        yield pdf[in_cols + out_fields]

    return (
        stream.groupBy(entity)
        .applyInPandasWithState(attach, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def stateful_drift_profile(stream: DataFrame, bits_col: str = "ph",
                           entity: str = "user_id", ts: str = "ts",
                           mean_window: int = 4) -> DataFrame:
    """W11 streaming twin — per-entity Hamming-drift profile with O(1)
    state via ``applyInPandasWithState``: popcount(bits XOR previous bits),
    the ``mean_window``-row sliding mean of drift, and cumulative drift,
    carried across micro-batches. Bit-identical to the batch
    :func:`operators.temporal.hamming_drift` on the same rows (pytest +
    oracle-mirror proven).

    State per entity: ``(last_bits, cum_drift, recent)`` where ``recent``
    holds the drift values of the last ``mean_window - 1`` ROWS with -1
    encoding a null drift (an entity's first row) — drift is a popcount,
    never negative, so the sentinel is unambiguous. Ordering contract as
    :func:`stateful_asof_attach`: per-entity time-monotonic micro-batches.

    All arithmetic is exact int64 (numpy XOR + unpackbits popcount — the
    pandas ``shift`` float64 detour would corrupt bits past 2^53); the
    sliding mean is one double division of exact int sums, matching the
    batch plan's expression bit for bit.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType as ST,
    )

    dname = f"{bits_col}_drift"
    out_schema = ST(list(stream.schema.fields) + [
        StructField(dname, LongType()),
        StructField(f"{dname}_mean{mean_window}", DoubleType()),
        StructField(f"{dname}_cum", LongType()),
    ])
    state_schema = ST([
        StructField("last_bits", LongType()),
        StructField("cum", LongType()),
        StructField("recent", ArrayType(LongType())),
    ])
    in_cols = stream.columns
    keep = mean_window - 1

    def profile(key, pdfs, state):
        _worker.init()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        v = pdf[bits_col].to_numpy(np.int64)
        prev = np.empty_like(v)
        prev[1:] = v[:-1]
        if state.exists:
            last_bits, cum0, recent = state.get
            prev[0] = last_bits
            first_null = False
        else:
            cum0, recent = 0, []
            prev[0] = v[0]  # xor = 0; masked below
            first_null = True
        xor = (v ^ prev).astype(np.int64)
        d = np.unpackbits(xor.view(np.uint8).reshape(len(v), 8),
                          axis=1).sum(axis=1).astype(np.int64)
        dnull = np.zeros(len(v), dtype=bool)
        if first_null:
            dnull[0] = True
        # sliding mean over the last mean_window ROWS' drifts (nulls
        # excluded from both sum and count — the batch F.sum/F.count pair)
        hist_vals = np.array(list(recent) + list(np.where(dnull, -1, d)),
                             dtype=np.int64)
        hv = pd.Series(np.where(hist_vals >= 0, hist_vals, 0), dtype="float64")
        hn = pd.Series((hist_vals >= 0).astype("float64"))
        rs = hv.rolling(mean_window, min_periods=1).sum()
        rc = hn.rolling(mean_window, min_periods=1).sum()
        mean = (rs / rc).where(rc > 0).to_numpy()[len(recent):]
        cum = cum0 + np.cumsum(np.where(dnull, 0, d))
        state.update((int(v[-1]), int(cum[-1]),
                      [int(x) for x in hist_vals[-keep:]] if keep else []))
        pdf[dname] = pd.array(np.where(dnull, pd.NA, d), dtype="Int64")
        pdf[f"{dname}_mean{mean_window}"] = mean
        pdf[f"{dname}_cum"] = cum
        yield pdf[in_cols + [dname, f"{dname}_mean{mean_window}",
                             f"{dname}_cum"]]

    return (
        stream.groupBy(entity)
        .applyInPandasWithState(profile, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def stateful_decayed_stats(stream: DataFrame, col: str = "value",
                           n: int = 8, decay: float = 0.5,
                           entity: str = "user_id", ts: str = "ts") -> DataFrame:
    """W12 streaming twin — bounded exponential-decay (half-life)
    sum/weight/mean with O(1) per-entity state via
    ``applyInPandasWithState``: the state is the last ``n - 1`` values plus
    their presence mask, carried across micro-batches. Bit-identical to the
    batch :func:`operators.temporal.decayed_stats` on the same rows: the
    weights are the SAME driver-computed Python floats and the term sum is
    the SAME left fold, executed elementwise in ``k`` order (numpy float64
    ``*``/``+`` are correctly-rounded IEEE like the JVM's).

    NULL encoding contract: SQL NULL arrives as NaN in the Arrow batch and
    is treated as absent (renormalized away) — a genuine NaN *value* would
    diverge from the batch plan (which distinguishes NULL from NaN), so the
    input contract is NaN-free, as for the other stateful kernels.
    Ordering contract as :func:`stateful_asof_attach`: per-entity
    time-monotonic micro-batches; equal-ts rows keep arrival order
    (stable sort), matching the batch tiebreak when files are written in
    tiebreak order.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType as ST,
    )

    if n < 1:
        raise ValueError("n must be >= 1")
    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    weights = [decay ** k for k in range(n)]
    names = [f"{col}_dsum{n}", f"{col}_dwt{n}", f"{col}_dmean{n}"]
    out_schema = ST(list(stream.schema.fields) +
                    [StructField(x, DoubleType()) for x in names])
    state_schema = ST([
        StructField("vals", ArrayType(DoubleType())),
        StructField("mask", ArrayType(LongType())),
    ])
    in_cols = stream.columns
    keep = n - 1

    def fold(key, pdfs, state):
        _worker.init()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        v = pdf[col].to_numpy(np.float64)  # SQL NULL -> NaN
        pres = ~np.isnan(v)
        if state.exists:
            hv, hm = state.get
            hvals = np.asarray(hv, dtype=np.float64)
            hmask = np.asarray(hm, dtype=np.int64).astype(bool)
        else:
            hvals = np.empty(0, dtype=np.float64)
            hmask = np.empty(0, dtype=bool)
        m, length = len(hvals), len(v)
        full_v = np.concatenate([hvals, np.where(pres, v, 0.0)])
        full_p = np.concatenate([hmask, pres])
        base = m + np.arange(length)
        dsum = dwt = None
        for k, wk in enumerate(weights):
            idx = base - k
            ok = idx >= 0
            safe = np.clip(idx, 0, None)
            pk = ok & full_p[safe]
            term = np.where(pk, full_v[safe] * wk, 0.0)
            wgt = np.where(pk, wk, 0.0)
            dsum = term if dsum is None else dsum + term
            dwt = wgt if dwt is None else dwt + wgt
        has = dwt > 0.0
        mean = np.where(has, dsum / np.where(has, dwt, 1.0), np.nan)
        if keep:
            state.update(([float(x) for x in full_v[-keep:]],
                          [int(x) for x in full_p[-keep:]]))
        else:
            state.update(([], []))
        pdf[names[0]] = dsum
        pdf[names[1]] = dwt
        pdf[names[2]] = mean
        yield pdf[in_cols + names]

    return (
        stream.groupBy(entity)
        .applyInPandasWithState(fold, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def stateful_windowed_agg(stream: DataFrame, src_col: str,
                          window_s: float = 3600.0,
                          entity: str = "user_id", ts: str = "ts",
                          prefix: str | None = None) -> DataFrame:
    """FM3 streaming twin — trailing-window aggregation features with
    bounded per-entity state: for every arriving row, count / int64-sum /
    min / max of the non-null ``src_col`` values whose timestamp lies in
    ``(ts - window_s, ts]`` (same inclusive-right convention as the batch
    :func:`operators.feature_matrix.windowed_spine_agg` default).

    ``src_col`` must be an integral (int64-representable) column — the
    engine-portable convention: derive an exact-int column for float
    sources (functions/hashing.py rationale). Output columns (all
    bigint): ``{p}_n``, ``{p}_sum``, ``{p}_min``, ``{p}_max``, where
    ``p`` is ``prefix`` or ``src_col``; sum/min/max are NULL on an empty
    window, n is 0 — SQL aggregate semantics.

    State per entity: the (ts_us, value) pairs of the non-null source rows
    still inside any future row's window — bounded by arrival rate ×
    ``window_s``, independent of history (the stream analog of the batch
    rangeBetween frame). Window membership is resolved by binary search
    over the ts-sorted feature rows, so equal-ts rows are ALL included
    regardless of arrival order — exactly the batch rangeBetween
    semantics, which a pandas positional rolling would get wrong.
    min/max slice per row is a numpy view reduction; worst case
    O(rows × window-rows) per micro-batch, the documented trade for exact
    frame semantics (a monotone-deque O(rows) variant is the drop-in
    upgrade if profiles ever show it).
    Ordering contract as :func:`stateful_asof_attach`: per-entity
    time-monotonic micro-batches.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType as ST,
    )

    w_us = int(round(float(window_s) * 1_000_000))
    if w_us <= 0:
        raise ValueError("window_s must be > 0")
    p = prefix or src_col
    names = [f"{p}_n", f"{p}_sum", f"{p}_min", f"{p}_max"]
    out_schema = ST(list(stream.schema.fields) +
                    [StructField(x, LongType()) for x in names])
    state_schema = ST([
        StructField("f_us", ArrayType(LongType())),
        StructField("f_val", ArrayType(LongType())),
    ])
    in_cols = stream.columns

    def agg(key, pdfs, state):
        _worker.init()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        t_us = (pdf[ts].astype("datetime64[us]").astype("int64")
                .to_numpy())
        s = pdf[src_col]
        if pd.api.types.is_extension_array_dtype(s.dtype):
            # nullable Int64 bridge: stay integral, no float detour
            pres = s.notna().to_numpy()
            vi = s.fillna(0).astype("int64").to_numpy()
        else:
            # plain float64-with-NaN bridge (the usual Arrow conversion of
            # a nullable bigint); exact up to 2^53 — same caveat as the
            # other kernels' pandas bridges
            v = s.to_numpy(np.float64)
            pres = ~np.isnan(v)
            vi = np.where(pres, v, 0).astype(np.int64)
        if state.exists:
            hus, hval = state.get
            hus = np.asarray(hus, dtype=np.int64)
            hval = np.asarray(hval, dtype=np.int64)
        else:
            hus = np.empty(0, dtype=np.int64)
            hval = np.empty(0, dtype=np.int64)
        f_us = np.concatenate([hus, t_us[pres]])
        f_val = np.concatenate([hval, vi[pres]])
        order = np.argsort(f_us, kind="stable")
        f_us, f_val = f_us[order], f_val[order]
        lo = np.searchsorted(f_us, t_us - w_us, side="right")
        hi = np.searchsorted(f_us, t_us, side="right")
        n = (hi - lo).astype(np.int64)
        csum = np.concatenate([[0], np.cumsum(f_val)])
        ssum = csum[hi] - csum[lo]
        mn = np.zeros(len(pdf), dtype=np.int64)
        mx = np.zeros(len(pdf), dtype=np.int64)
        for i in range(len(pdf)):
            if hi[i] > lo[i]:
                seg = f_val[lo[i]:hi[i]]
                mn[i], mx[i] = seg.min(), seg.max()
        cutoff = t_us[-1] - w_us
        keepmask = f_us >= cutoff
        state.update(([int(x) for x in f_us[keepmask]],
                      [int(x) for x in f_val[keepmask]]))
        has = n > 0
        pdf[names[0]] = n
        pdf[names[1]] = pd.array(np.where(has, ssum, 0), dtype="Int64")
        pdf[names[2]] = pd.array(np.where(has, mn, 0), dtype="Int64")
        pdf[names[3]] = pd.array(np.where(has, mx, 0), dtype="Int64")
        for c in names[1:]:
            pdf.loc[~has, c] = pd.NA
        yield pdf[in_cols + names]

    return (
        stream.groupBy(entity)
        .applyInPandasWithState(agg, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def stateful_target_encode(stream: DataFrame, category: str, label: str,
                           ts: str = "ts", smoothing: float = 0.0,
                           prior: float = 0.0,
                           out_col: str | None = None) -> DataFrame:
    """FE2 streaming twin — time-aware target encoding with O(1)
    per-category state: ``(n_prior, sum_prior)`` carried across
    micro-batches, each row encoded from the state BEFORE its own label
    is folded in (strictly prior, so the online encoder emits exactly
    what the batch operator backfills).

    Bitwise parity with :func:`operators.encoding.time_aware_target_encode`:
    the batch side sums an exact ``decimal(18,6)`` projection and casts
    once to double, so the state here is the exact integer micro-unit sum
    (``Decimal(repr(v)).quantize(1e-6, HALF_UP)`` — the same shortest-
    repr + HALF_UP rounding Spark's double→decimal cast applies) and the
    encoding is the same mirrored IEEE expression over (exact sum, exact
    count). NULL labels (NaN in Arrow) contribute to neither but are
    still encoded. Ordering contract as the other stateful kernels:
    per-category time-monotonic micro-batches, equal-ts rows in arrival
    (tiebreak) order.

    The persisted sum is a STRING-encoded exact integer (arbitrary
    precision), not an int64: the batch twin's decimal(28,6) sum has
    ~1e22 micro-unit headroom, and an int64 state field would make
    success depend on where micro-batch boundaries land relative to a
    transient >9.2e18 prefix peak — same data, different file splits,
    different outcome. A string state is exact at any magnitude.
    """
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType as ST,
    )

    if smoothing < 0:
        raise ValueError("stateful_target_encode: smoothing must be >= 0")
    out_col = out_col or f"{category}_te"
    if out_col in stream.columns:
        raise ValueError(f"stateful_target_encode: {out_col!r} exists")
    out_schema = ST(list(stream.schema.fields) +
                    [StructField(out_col, DoubleType())])
    state_schema = ST([StructField("n", LongType()),
                       StructField("s_micro", StringType())])
    in_cols = stream.columns
    m = float(smoothing)
    mp = m * float(prior)  # same constant product Catalyst folds
    q6 = Decimal("0.000001")

    def fold(key, pdfs, state):
        _worker.init()
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if pdf.empty:
            return
        pdf = pdf.sort_values(ts, kind="mergesort").reset_index(drop=True)
        n0, s0 = state.get if state.exists else (0, "0")
        s0 = int(s0)
        v = pdf[label].to_numpy(np.float64)
        pres = ~np.isnan(v)
        micro = [
            int(Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP)
                .scaleb(6)) if p else 0
            for x, p in zip(v.tolist(), pres.tolist())]
        # strictly-prior exclusive prefix over (count, exact micro sum).
        # The sum accumulates in PYTHON ints (arbitrary precision): an
        # int64 cumsum wraps silently once |cumulative micro sum|
        # exceeds ~9.2e18 — i.e. |label sum| > ~9.2e12, well inside the
        # documented |value| < 1e12 per-row domain — whereas the batch
        # operator's decimal(28,6) sum has ~1e22 headroom.
        n_prev = n0 + np.concatenate(([0], np.cumsum(pres.astype(np.int64))[:-1]))
        s_prev_micro = []
        acc = int(s0)
        for mv in micro:
            s_prev_micro.append(acc)
            acc += mv
        # one correctly-rounded decimal->double per row (the batch's
        # CAST(sum AS DOUBLE)), then the mirrored encoding expression
        s_prev = np.array([float(Decimal(sm).scaleb(-6))
                           for sm in s_prev_micro], dtype=np.float64)
        denom = n_prev.astype(np.float64) + m
        with np.errstate(divide="ignore", invalid="ignore"):
            enc = np.where(denom > 0, (s_prev + mp) / denom, np.nan)
        state.update((int(n_prev[-1] + int(pres[-1])), str(acc)))
        pdf[out_col] = enc
        yield pdf[in_cols + [out_col]]

    return (
        stream.groupBy(category)
        .applyInPandasWithState(fold, out_schema, state_schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def windowed_drift_counts(stream: DataFrame, edges: DataFrame,
                          features: list[str], n_bins: int = 10,
                          ts: str = "ts", window: str = "1 hour") -> DataFrame:
    """FM4 streaming twin — per-tumbling-window drift histograms against a
    STATIC reference: the production drift monitor. ``edges`` is the
    materialized :func:`operators.feature_matrix.drift_edges` table of the
    reference slice (broadcast as the static side of a stream-static
    join); incoming rows collapse through the same narrow (feature,
    value) explode, bin with the same clamped equal-width expression, and
    count per ``(window, feature, bin)``.

    Output: ``(win_start, win_end, feature, bin, n_cur)`` — exact int64
    counts, append-mode emission once the watermark passes each window.
    State is the open windows' count map (O(windows × features × bins)),
    never the rows. Downstream PSI against the reference proportions is a
    broadcast join away; alerts are a filter.
    """
    from profet_spark.operators.feature_matrix import (_drift_narrow,
                                                       drift_bin_expr)

    narrow = _drift_narrow(stream, features, 1, extra=[ts])
    binned = (narrow.join(F.broadcast(edges), "feature")
              .select(F.col(ts), "feature",
                      drift_bin_expr(n_bins).alias("bin")))
    win = F.window(F.col(ts), window)
    return (binned.groupBy(win.alias("w"), "feature", "bin")
            .agg(F.count(F.lit(1)).alias("n_cur"))
            .select(F.col("w.start").alias("win_start"),
                    F.col("w.end").alias("win_end"),
                    "feature", "bin", "n_cur"))
