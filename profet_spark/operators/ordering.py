"""O6 global order index: dense row numbering without a global window.

Spark has no DataFrame-native ``zipWithIndex``: ``row_number()`` over an
un-partitioned window funnels EVERY row through one task, and
``monotonically_increasing_id`` is neither dense nor order-respecting.
:func:`global_row_number` fills the gap with the same distributed
prefix-sum shape as ``pack_chunks`` (operators/corpus.py):

1. ``repartitionByRange`` on (group + order) keys + sort-within-partition
   — ONE range exchange of the narrow key projection; ascending partition
   id then equals ascending key order, the property the offsets rely on;
2. in-partition position via a streaming Arrow kernel with an O(1) carry
   across batches (state: the last (group, running count) pair — never
   the partition);
3. per-(partition, group) totals — at most ``P x |groups|`` rows, O(
   parallelism), never O(data) — exclusive-prefix-summed by a bounded
   window and broadcast-joined back.

Everything stays in ONE lazy DAG so the range exchange is planned once
and reused by both the totals branch and the probe branch (the same
layout-consistency argument, and the same plan assertion, as
``pack_chunks`` — a collect-then-rejoin would let the two actions sample
different range boundaries).

Determinism contract: ``order_cols`` must be a TOTAL order (append a
unique tiebreak column such as the id). With ties, indices are still
dense and the set of indices per key is exact, but the assignment among
tied rows follows partition layout. Group cardinality must be SMALL
(epochs, splits, buckets — O(100)): the offsets frame is P x |groups|
rows and the numbering restarts per group; for high-cardinality groups
use a plain ``Window.partitionBy`` instead, which is already scale-free.

Reference parity: ProFET materializes pandas frames whose implicit
RangeIndex IS the global order ([R] FeatureGen.py dataframe assembly);
a distributed engine has to construct that index explicitly.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from profet_spark import _worker


def global_row_number(df: DataFrame, order_cols: Sequence[str],
                      group_cols: Sequence[str] = (),
                      out_col: str = "row_idx",
                      n_partitions: int | None = None,
                      persist: bool = True) -> DataFrame:
    """Dense 0-based row index in the total order of ``order_cols``,
    restarting at 0 within each ``group_cols`` group.

    Returns the input columns plus ``out_col`` (bigint). See the module
    docstring for the plan shape and the determinism/cardinality
    contract. ``persist`` caches the scanned projection referenced by
    both the offsets aggregation and the final join (same knob
    convention as ``pack_chunks``); correctness is unaffected either
    way.
    """
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    order_cols = list(order_cols)
    group_cols = list(group_cols)
    if not order_cols:
        raise ValueError("global_row_number: order_cols must be non-empty")
    for c in (out_col, "_pid", "_gidx"):
        if c in df.columns:
            raise ValueError(
                f"global_row_number: column {c!r} already exists on the "
                "input — rename it first (output/internal collision)")
    missing = [c for c in order_cols + group_cols if c not in df.columns]
    if missing:
        raise ValueError(f"global_row_number: columns {missing} not on "
                         f"the input (has {df.columns})")
    spark = df.sparkSession
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    keys = group_cols + order_cols
    base = (df
            .repartitionByRange(n_parts, *[F.col(c) for c in keys])
            .sortWithinPartitions(*keys)
            .withColumn("_pid", F.spark_partition_id()))

    dtypes = dict(base.dtypes)
    out_schema = ", ".join(f"`{c}` {dtypes[c]}" for c in base.columns)
    out_schema += ", _gidx bigint"
    gcols = list(group_cols)

    def scan_kernel(batches):
        _worker.init()
        last_key, carry = None, 0
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            if gcols:
                # input is sorted by (group, order): only the last
                # group's running count survives a batch boundary
                idx = out.groupby(gcols, sort=False).cumcount()
                first_key = tuple(out.iloc[0][gcols])
                if last_key is not None and first_key == last_key:
                    head = (out[gcols] == pd.Series(first_key,
                                                    index=gcols)).all(axis=1)
                    # rows of the carried group are a sorted prefix
                    idx = idx + head.cumprod() * carry
                out["_gidx"] = idx
                last_key = tuple(out.iloc[-1][gcols])
                carry = int(out["_gidx"].iloc[-1]) + 1
            else:
                out["_gidx"] = range(carry, carry + len(out))
                carry += len(out)
            yield out

    local = base.mapInPandas(scan_kernel, out_schema)
    if persist:
        local = local.persist()
    # per-(pid, group) totals: bounded by P x |groups| rows. Exclusive
    # prefix over ascending _pid WITHIN each group (range partitions:
    # ascending pid = ascending (group, order) keys, so a group's rows
    # occupy a contiguous pid span). With no groups the pmod key keeps
    # the single partition explicit (and the executor logs free of the
    # data-independent "No Partition Defined" warning) — the frame is
    # partition-COUNT rows either way.
    from pyspark.sql.window import Window

    part_keys = gcols if gcols else [F.pmod(F.col("_pid"), F.lit(1))]
    wp = (Window.partitionBy(*part_keys).orderBy("_pid")
          .rowsBetween(Window.unboundedPreceding, -1))
    totals = (local.groupBy("_pid", *gcols).agg(F.count("*").alias("_t"))
              .select("_pid", *gcols,
                      F.coalesce(F.sum("_t").over(wp), F.lit(0))
                      .alias("_off")))
    joined = local.join(F.broadcast(totals), ["_pid"] + gcols)
    return (joined
            .withColumn(out_col, (F.col("_off") + F.col("_gidx"))
                        .cast("bigint"))
            .drop("_pid", "_gidx", "_off"))
