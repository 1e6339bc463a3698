"""Iceberg-style hidden partitioning over the parquet fallback
(SURVEY.md §4.2 "partition pruning"; north_rule: Iceberg tables with
days(ts) / bucket(N, image_id) partition specs).

Iceberg stores transform values (``days(ts)``, ``bucket(N, id)``) out of
band and rewrites predicates on the SOURCE columns into partition
predicates. The sandbox image carries no Iceberg jars, so this module
gives the parquet fallback the same contract:

- :func:`write_partitioned` materializes the transform columns (prefix
  ``_p_``) and writes with ``partitionBy`` — the directory layout IS the
  partition index;
- :func:`scan_pruned` rewrites ts-range / entity-set predicates into
  filters on those columns, so the scan's ``PartitionFilters`` prune whole
  directories before any data file is opened (asserted against the
  physical plan in tests/test_partitioned.py);
- readers never see the hidden columns (dropped after pruning), exactly
  like Iceberg's hidden partitioning.

On a real cluster the same two calls map 1:1 onto
``df.writeTo(tbl).partitionedBy(partitioning.days("ts"), partitioning.bucket(8, "image_id"))``
plus a plain source-column filter (Iceberg performs the predicate rewrite
itself); callers migrate by swapping this module for the catalog writer.

Scale notes (10^12 rows): day granularity bounds partition count by the
table's time span; the bucket transform spreads each day over N
directories so per-partition file sizes stay plannable, and entity lookups
(as-of build sides, backfill repairs) read N_probe/N of each day. The
bucket hash is Spark's xxhash64 — the same function the checkpoint sink
uses — so co-partitioned writes from different jobs land identically.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_COL = "_p_day"
BUCKET_COL = "_p_bucket"
SPEC_FILE = "_partition_spec.json"


def _day_expr(col: F.Column, dtype: str) -> F.Column:
    """days() transform value as 'yyyy-MM-dd'.

    Iceberg's ``days()`` buckets instants by their UTC day; for a zoned
    TIMESTAMP column the day is therefore derived from the epoch micros
    (session-timezone date_format would move rows across directory
    boundaries whenever writer and reader sessions disagree on
    spark.sql.session.timeZone). TIMESTAMP_NTZ and DATE carry no zone, so
    date_format on them is already deterministic."""
    if dtype == "timestamp":
        day = F.date_from_unix_date(
            F.floor(F.unix_micros(col) / F.lit(86_400_000_000)).cast("int"))
        return F.date_format(day, "yyyy-MM-dd")
    return F.date_format(col, "yyyy-MM-dd")


def partition_transforms(ts_col: str, entity_col: str, n_buckets: int,
                         ts_dtype: str = "timestamp_ntz"):
    """The two hidden transforms: days(ts) and bucket(n, entity)."""
    return {
        DAY_COL: _day_expr(F.col(ts_col), ts_dtype),
        BUCKET_COL: F.pmod(F.xxhash64(F.col(entity_col)), F.lit(n_buckets)).cast("int"),
    }


def write_partitioned(df: DataFrame, out_dir: str, ts_col: str = "ts",
                      entity_col: str = "image_id", n_buckets: int = 8) -> None:
    """Write ``df`` with the hidden partition spec days(ts) x bucket(n).

    The spec (column names, bucket count, ts dtype) is persisted next to
    the data as ``_partition_spec.json`` — the fallback's stand-in for
    Iceberg's table metadata — so readers cannot silently probe with a
    different bucket modulus (which would return zero rows for entities
    whose bucket id differs under the wrong N)."""
    dtypes = dict(df.dtypes)
    transforms = partition_transforms(ts_col, entity_col, n_buckets,
                                      ts_dtype=dtypes[ts_col])
    for name, expr in transforms.items():
        df = df.withColumn(name, expr)
    (df.write.mode("overwrite")
     .partitionBy(DAY_COL, BUCKET_COL)
     .parquet(out_dir))
    with open(os.path.join(out_dir, SPEC_FILE), "w") as f:
        json.dump({"ts_col": ts_col, "entity_col": entity_col,
                   "n_buckets": n_buckets, "ts_dtype": dtypes[ts_col]}, f)


def read_spec(out_dir: str) -> dict | None:
    path = os.path.join(out_dir, SPEC_FILE)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return json.load(f)


def _bucket_ids(spark: SparkSession, values: list, n_buckets: int,
                value_type: str) -> list[int]:
    """Bucket ids for an entity list — computed with the SAME engine
    function AND the same column type used at write time (xxhash64 is
    type-sensitive: hashing 7 as int and as bigint give different values,
    so the probe column is cast to the table's entity type)."""
    src = spark.createDataFrame([(v,) for v in values], ["v"])
    rows = (src.select(F.pmod(F.xxhash64(F.col("v").cast(value_type)),
                              F.lit(n_buckets)).cast("int").alias("b"))
            .distinct().collect())
    return sorted(int(r["b"]) for r in rows)


def scan_pruned(spark: SparkSession, out_dir: str, ts_col: str = "ts",
                entity_col: str = "image_id", n_buckets: int | None = None,
                ts_between: tuple | None = None,
                entity_in: list | None = None) -> DataFrame:
    """Read a :func:`write_partitioned` table with Iceberg-style predicate
    rewrite: ts bounds become ``_p_day`` range filters, an entity set
    becomes a ``_p_bucket`` IN-list — both land in the scan's
    ``PartitionFilters`` (directory pruning), while the exact row-level
    predicates still apply on the source columns. Hidden columns are
    dropped from the result.

    The bucket modulus comes from the table's persisted spec; passing an
    ``n_buckets`` that contradicts it raises (probing pmod(h, 8) against
    directories keyed by pmod(h, 16) would silently return zero rows for
    most entities). ``n_buckets`` is only required for pre-spec tables."""
    spec = read_spec(out_dir)
    if spec is not None:
        if n_buckets is not None and n_buckets != spec["n_buckets"]:
            raise ValueError(
                f"scan_pruned: n_buckets={n_buckets} contradicts the "
                f"table's partition spec ({spec['n_buckets']}) — omit the "
                "argument; the spec is authoritative")
        n_buckets = spec["n_buckets"]
    elif n_buckets is None:
        raise ValueError(
            "scan_pruned: table has no _partition_spec.json (written by a "
            "pre-spec version?) — pass n_buckets explicitly")
    df = spark.read.parquet(out_dir)
    dtypes = dict(df.dtypes)
    if ts_between is not None:
        lo, hi = ts_between
        lo_c = F.lit(lo).cast(dtypes[ts_col])
        hi_c = F.lit(hi).cast(dtypes[ts_col])
        # constant-foldable day bounds (same transform as the writer)
        # -> partition filter
        df = df.where(F.col(DAY_COL).between(
            _day_expr(lo_c, dtypes[ts_col]), _day_expr(hi_c, dtypes[ts_col])))
        df = df.where(F.col(ts_col).between(lo_c, hi_c))
    if entity_in is not None:
        if not entity_in:  # IN () matches nothing
            return (df.where(F.lit(False)).drop(DAY_COL, BUCKET_COL))
        etype = dtypes[entity_col]
        df = df.where(F.col(BUCKET_COL).isin(
            _bucket_ids(spark, entity_in, n_buckets, etype)))
        df = df.where(F.col(entity_col).isin(entity_in))
    return df.drop(DAY_COL, BUCKET_COL)


def _day_str(d) -> str:
    """Normalize a collected ``_p_day`` value to 'yyyy-MM-dd': reading a
    partitioned store back infers the column as DATE, while
    :func:`partition_transforms` produces strings — driver-side pair
    comparisons must not mix the two."""
    return d.isoformat() if hasattr(d, "isoformat") else str(d)


# Batches whose distinct-key set exceeds this are merged with a plain
# (AQE-planned) join instead of a forced broadcast — a forced broadcast
# of an unbounded batch key set can OOM the driver/executors.
BROADCAST_KEY_LIMIT = 1_000_000


def upsert_partitioned(spark: SparkSession, updates: DataFrame,
                       out_dir: str,
                       key_cols: list[str] | None = None,
                       on_moved_keys: str = "extend") -> dict:
    """S8: incremental upsert into a :func:`write_partitioned` store —
    the feature-store materialization pattern: merge a new batch of
    feature rows into the table, replacing rows that share a key and
    keeping everything else, while rewriting ONLY the ``(day, bucket)``
    partitions the batch touches (dynamic partition overwrite). The
    production twin is Iceberg's ``MERGE INTO`` / dynamic overwrite;
    this is the same contract on the parquet fallback.

    ``key_cols`` identifies a row (default: the spec's
    ``(entity, ts)``). The batch must be key-unique (the usual
    pre-aggregated-updates contract — which of two same-key batch rows
    wins is otherwise unspecified). Steps, all partition-pruned:

    1. the batch's transform values name the affected partitions —
       O(days × buckets touched), collected (bounded by the batch's time
       span, not the table);
    2. ONLY those partitions are read back from the store; surviving
       rows (keys not in the batch — one anti-join, broadcast when the
       batch is small) are unioned with the batch;
    3. the union is written with ``partitionOverwriteMode=dynamic``:
       partitions absent from it are never read, never rewritten.

    Returns ``{"partitions_rewritten", "rows_written", "rows_replaced"}``
    (exact ints — the audit numbers a checkpointed pipeline logs).

    **Moved keys.** The batch-footprint fast path is sound only when the
    key functionally determines the partition — true for the default
    ``(entity, ts)`` key (and any superset). With a custom surrogate key
    (e.g. ``key_cols=['event_id']``) a batch row may carry a DIFFERENT
    ``(entity, ts)`` than the stored same-key row, leaving the stale row
    alive in a partition the fast path never reads. ``on_moved_keys``
    governs that case (it is consulted only when ``key_cols`` does not
    contain both spec columns):

    - ``"extend"`` (default): probe the store OUTSIDE the batch-touched
      partitions for batch keys — a key-column-pruned scan of the table
      (the unavoidable price of global key semantics without a key
      index) — and extend the rewrite set with the partitions holding
      stale rows, so the merge is exact;
    - ``"error"``: same probe, but raise if any stale same-key row lives
      outside the touched partitions (for pipelines that forbid keys
      moving partitions);
    - ``"skip"``: no probe — the caller guarantees batch rows never move
      a key's ``(entity, ts)`` across partitions, restoring the pure
      batch-footprint cost model.

    At 10^12 rows: cost scales with the BATCH's footprint (touched
    partitions), not table size — the whole point vs a full rewrite
    (plus, for custom keys under extend/error, one key-column probe
    scan). A batch spanning the full history degenerates to a table
    rewrite; bound batch spans upstream.
    """
    if on_moved_keys not in ("extend", "error", "skip"):
        raise ValueError(
            f"upsert_partitioned: on_moved_keys={on_moved_keys!r} "
            "(expected 'extend', 'error' or 'skip')")
    spec = read_spec(out_dir)
    if spec is None:
        raise ValueError(
            "upsert_partitioned: no _partition_spec.json — the store must "
            "be written by write_partitioned first")
    ts_col, entity_col = spec["ts_col"], spec["entity_col"]
    keys = list(key_cols) if key_cols else [entity_col, ts_col]
    missing = [c for c in set(keys) | {ts_col, entity_col}
               if c not in updates.columns]
    if missing:
        raise ValueError(f"upsert_partitioned: {missing} not in the batch")
    store = spark.read.parquet(out_dir)
    extra = [c for c in updates.columns
             if c not in store.columns and c not in (DAY_COL, BUCKET_COL)]
    if extra:
        # silently dropping batch columns is schema-evolution data loss;
        # evolve the store explicitly (full rewrite) before upserting
        raise ValueError(
            f"upsert_partitioned: batch columns {extra} are not in the "
            "store schema — drop them or evolve the store first")
    for c in (ts_col, entity_col):
        st, ut = dict(store.dtypes)[c], dict(updates.dtypes)[c]
        if st != ut:
            # xxhash64 (bucket) and days() are TYPE-sensitive: a batch
            # probing with a different entity/ts type would land rows in
            # the wrong partitions silently
            raise ValueError(
                f"upsert_partitioned: batch column {c!r} is {ut}, the "
                f"store has {st} — cast the batch to the store's schema")
    transforms = partition_transforms(
        ts_col, entity_col, spec["n_buckets"],
        ts_dtype=dict(updates.dtypes)[ts_col])
    up = updates
    for name, expr in transforms.items():
        up = up.withColumn(name, expr)

    pairs = [(r[DAY_COL], r[BUCKET_COL])
             for r in up.select(DAY_COL, BUCKET_COL).distinct().collect()]
    pair_tag = F.concat_ws("/", F.col(DAY_COL),
                           F.col(BUCKET_COL).cast("string"))
    n_batch = up.count()
    batch_keys = up.select(*keys).distinct()
    if n_batch <= BROADCAST_KEY_LIMIT:
        # the batch is key-unique, so n_batch bounds the key set size
        batch_keys = F.broadcast(batch_keys)
    extended = False
    if {entity_col, ts_col} - set(keys) and on_moved_keys != "skip":
        # custom key that does not determine (day, bucket): stale
        # same-key rows may live outside the batch footprint — probe for
        # them (key-column-pruned scan) and extend/fail per the knob
        stale_tags = [f"{d}/{b}" for d, b in pairs]
        stale = (store.where(~pair_tag.isin(stale_tags))
                 .join(batch_keys, keys, "left_semi")
                 .select(DAY_COL, BUCKET_COL).distinct().collect())
        # the read-back partition column is DATE (type inference) while
        # the batch transform yields 'yyyy-MM-dd' strings — normalize
        moved = sorted((_day_str(r[DAY_COL]), r[BUCKET_COL]) for r in stale)
        if moved and on_moved_keys == "error":
            raise ValueError(
                "upsert_partitioned: batch keys match stored rows in "
                f"{len(moved)} partition(s) outside the batch footprint "
                f"(e.g. {moved[0]}) — the batch moves keys across "
                "partitions; use on_moved_keys='extend' (or 'skip' to "
                "accept duplicates)")
        pairs += moved
        extended = bool(moved)
    tags = [f"{d}/{b}" for d, b in pairs]
    # partition pruning: day/bucket IN-lists reach PartitionFilters; the
    # pair tag trims the (day x bucket) superset row-level
    touched = (store
               .where(F.col(DAY_COL).isin(sorted({d for d, _ in pairs})))
               .where(F.col(BUCKET_COL).isin(sorted({b for _, b in pairs})))
               .where(pair_tag.isin(tags)))
    survivors = touched.join(batch_keys, keys, "left_anti")
    n_touched = touched.count()
    # eager localCheckpoint truncates lineage off the store path — Spark
    # (rightly) refuses to overwrite a path its write plan still reads.
    # Only the touched partitions materialize, preserving the
    # batch-footprint cost model.
    out = (survivors.unionByName(up.select(*survivors.columns))
           .localCheckpoint())
    n_written = out.count()
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(DAY_COL, BUCKET_COL)
     .parquet(out_dir))
    # dynamic overwrite only rewrites partitions PRESENT in the output;
    # an extended partition whose every row carried a batch key ends up
    # empty and must be dropped explicitly (the parquet-fallback analog
    # of the catalog's delete). Batch partitions always hold batch rows,
    # so ONLY moved-key extensions can hit this — the default fast path
    # skips the extra distinct+collect job entirely.
    if extended:
        written = {(_day_str(r[DAY_COL]), r[BUCKET_COL])
                   for r in out.select(DAY_COL, BUCKET_COL)
                   .distinct().collect()}
        for d, b in pairs:
            if (d, b) not in written:
                day_dir = os.path.join(out_dir, f"{DAY_COL}={d}")
                part_dir = os.path.join(day_dir, f"{BUCKET_COL}={b}")
                if os.path.isdir(part_dir):
                    shutil.rmtree(part_dir)
                if os.path.isdir(day_dir) and not os.listdir(day_dir):
                    os.rmdir(day_dir)
    return {"partitions_rewritten": len(pairs),
            "rows_written": int(n_written),
            "rows_replaced": int(n_touched - (n_written - n_batch))}


def compact_partitions(spark: SparkSession, out_dir: str,
                       max_files_per_partition: int = 4,
                       target_file_bytes: int = 128 * 1024 * 1024) -> dict:
    """S9: small-file compaction of a :func:`write_partitioned` store —
    the maintenance pass that keeps scan parallelism healthy after many
    :func:`upsert_partitioned` batches (each parallel write can leave
    one file per task per partition; thousands of tiny files turn a
    pruned scan into a metadata storm). The production twin is Iceberg's
    ``rewrite_data_files``.

    Partition directories holding more than ``max_files_per_partition``
    data files AND totalling at most ``target_file_bytes`` are rewritten
    in place (dynamic partition overwrite) into one file each; every
    other partition is untouched — never read, never rewritten.
    Oversized fragmented partitions are left alone (splitting them well
    is the catalog engine's rewrite job; merging them would create the
    opposite problem). Victim discovery is a driver-side directory
    listing (the parquet-fallback analog of reading Iceberg's manifest
    file sizes): O(partitions), zero data read for non-victims.

    Content is invariant by construction — compaction moves bytes
    between files, never rows between partitions (the partition columns
    are not recomputed; ``repartition`` on them puts each victim
    partition's rows in one task). Returns ``{"partitions_compacted",
    "files_before", "files_after"}``.
    """
    if read_spec(out_dir) is None:
        raise ValueError(
            "compact_partitions: no _partition_spec.json — not a "
            "write_partitioned store")
    victims: list[tuple[str, int]] = []  # (relative dir, files)
    for root, _dirs, files in os.walk(out_dir):
        data = [f for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
        if f"{BUCKET_COL}=" in root and len(data) > max_files_per_partition:
            nbytes = sum(os.path.getsize(os.path.join(root, f))
                         for f in data)
            if nbytes <= target_file_bytes:
                victims.append((os.path.relpath(root, out_dir), len(data)))
    if not victims:
        return {"partitions_compacted": 0, "files_before": 0,
                "files_after": 0}
    paths = [os.path.join(out_dir, rel) for rel, _ in victims]
    # basePath keeps the partition columns in the frame so the dynamic
    # overwrite lands rows back in their own partitions; hash-repartition
    # on them gives one write task (= one file) per victim partition
    df = (spark.read.option("basePath", out_dir).parquet(*paths)
          .repartition(len(victims), F.col(DAY_COL), F.col(BUCKET_COL))
          .localCheckpoint())
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(DAY_COL, BUCKET_COL)
     .parquet(out_dir))
    return {"partitions_compacted": len(victims),
            "files_before": int(sum(n for _, n in victims)),
            "files_after": len(victims)}


def _day_dirs(out_dir: str) -> list[str]:
    """Sorted 'yyyy-MM-dd' day-partition values from the directory layout
    ('yyyy-MM-dd' sorts lexicographically = chronologically). The parquet
    analog of reading Iceberg's partition summary off the manifest list:
    O(day-partitions), no data file opened."""
    days = []
    for e in os.listdir(out_dir):
        if e.startswith(f"{DAY_COL}="):
            v = e.split("=", 1)[1]
            if v and v != "__HIVE_DEFAULT_PARTITION__":
                days.append(v)
    return sorted(days)


def _watermark_scan(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The pruned one-day frame :func:`high_watermark` aggregates —
    exposed so tests can assert file-level pruning via inputFiles()."""
    days = _day_dirs(out_dir)
    if not days:
        return None
    return spark.read.parquet(out_dir).where(F.col(DAY_COL) == days[-1])


def high_watermark(spark: SparkSession, out_dir: str):
    """Max ``ts`` in a :func:`write_partitioned` store WITHOUT a table
    scan: the lexicographic max ``_p_day=`` directory names the newest
    day (pure listing), then ``max(ts)`` aggregates over ONLY that day's
    files — a partition-pruned, column-pruned scan of one day regardless
    of table history. At 10^12 rows this is the difference between an
    O(1-day) probe and a full-history pass every incremental run.

    Returns the max timestamp (driver-side value) or None for an empty
    store."""
    spec = read_spec(out_dir)
    if spec is None:
        raise ValueError(
            "high_watermark: no _partition_spec.json — the store must be "
            "written by write_partitioned first")
    scan = _watermark_scan(spark, out_dir)
    if scan is None:
        return None
    return scan.agg(F.max(spec["ts_col"])).collect()[0][0]


def materialize_incremental(spark: SparkSession, source: DataFrame,
                            out_dir: str, compute=None,
                            ts_col: str = "ts",
                            entity_col: str = "image_id",
                            n_buckets: int = 8,
                            key_cols: list[str] | None = None,
                            lookback=None, late_window=None) -> dict:
    """S10: incremental feature materialization — the "compute only the
    delta" loop a 100 TB feature store lives by (Feast/Tecton
    materialization, Iceberg incremental-append consumption; the engine's
    composition of :func:`high_watermark` + ``compute`` +
    :func:`upsert_partitioned`):

    1. **watermark** — the store's max ``ts``, found from the partition
       layout + one single-day scan (never the full table);
    2. **delta** — source rows with ``ts >= watermark - late_window``
       (a plain pushable predicate: Catalyst lands it in the source
       scan's PushedFilters / PartitionFilters);
    3. **context** — when ``compute`` derives trailing-window features,
       ``lookback`` widens what the kernel SEES to
       ``ts >= watermark - late_window - lookback`` while only rows with
       ``ts >= watermark - late_window`` are EMITTED, so windowed
       features on the delta equal a full-history recompute (graded
       end-to-end by the s10 driver key: incremental == full, hash-exact);
    4. **upsert** — the emitted rows merge via
       :func:`upsert_partitioned` (dynamic partition overwrite): rows at
       or after the cutoff are REPLACED, making re-runs idempotent and
       the whole loop exactly-once from the reader's point of view.

    ``compute`` is a ``DataFrame -> DataFrame`` transform (default
    identity). It must be **delta-closed over the lookback**: a row's
    output may depend only on rows within ``lookback`` before it (true
    for per-row descriptor kernels with ``lookback=None`` and for
    trailing windows with ``lookback >= window span``). Expanding /
    unbounded-history features need a stateful stream
    (streaming.temporal_stream) instead — with too-small ``lookback``
    the recomputed boundary rows would silently disagree with a full
    recompute.

    ``late_window`` re-emits an extra trailing slice each run so late
    source arrivals within it are healed by the upsert; arrivals later
    than that are the caller's backfill problem (run with an explicit
    wider ``late_window``). With the default ``None`` the cutoff is the
    watermark itself, so re-runs recompute exactly the watermark instant
    (ties included) and nothing else.

    First run (no store yet) bootstraps: full compute +
    :func:`write_partitioned`. Returns the run's audit metrics —
    ``{"bootstrap", "watermark", "cutoff", "rows_written",
    "rows_replaced", "partitions_rewritten"}`` (the checkpointed-pipeline
    lineage numbers; the bootstrap row-count comes from the written
    store's parquet footers, not a second compute pass).
    """
    if late_window is not None and getattr(late_window, "total_seconds",
                                           None) is None:
        raise ValueError("materialize_incremental: late_window must be a "
                         f"datetime.timedelta, got {late_window!r}")
    if lookback is not None and getattr(lookback, "total_seconds",
                                        None) is None:
        raise ValueError("materialize_incremental: lookback must be a "
                         f"datetime.timedelta, got {lookback!r}")
    spec = read_spec(out_dir)
    if spec is not None:
        ts_col, entity_col = spec["ts_col"], spec["entity_col"]
        n_buckets = spec["n_buckets"]
        wm = high_watermark(spark, out_dir)
    else:
        wm = None
    ts_dtype = dict(source.dtypes).get(ts_col)
    if ts_dtype is None:
        raise ValueError(
            f"materialize_incremental: {ts_col!r} not in the source")
    if wm is None:
        # no store yet (or a spec with zero rows — nothing to read back):
        # bootstrap with a plain overwrite, no merge needed
        out = compute(source) if compute is not None else source
        missing = [c for c in (ts_col, entity_col) if c not in out.columns]
        if missing:
            raise ValueError(
                f"materialize_incremental: compute() dropped {missing} — "
                "the emitted frame must keep the store's key columns")
        write_partitioned(out, out_dir, ts_col=ts_col,
                          entity_col=entity_col, n_buckets=n_buckets)
        n = spark.read.parquet(out_dir).count()
        n_parts = sum(
            1 for day in _day_dirs(out_dir)
            for e in os.listdir(os.path.join(out_dir, f"{DAY_COL}={day}"))
            if e.startswith(f"{BUCKET_COL}="))
        return {"bootstrap": True, "watermark": None, "cutoff": None,
                "rows_written": int(n), "rows_replaced": 0,
                "partitions_rewritten": n_parts}
    cutoff = wm - late_window if late_window is not None else wm
    context_lo = cutoff - lookback if lookback is not None else cutoff
    # cast the bound to the source's ts dtype: comparing timestamp_ntz
    # against a zoned TIMESTAMP literal would resolve through the session
    # timezone and move the cut
    feed = source.where(F.col(ts_col) >= F.lit(context_lo).cast(ts_dtype))
    out = compute(feed) if compute is not None else feed
    missing = [c for c in (ts_col, entity_col) if c not in out.columns]
    if missing:
        raise ValueError(
            f"materialize_incremental: compute() dropped {missing} — "
            "the emitted frame must keep the store's key columns")
    out = out.where(
        F.col(ts_col) >= F.lit(cutoff).cast(dict(out.dtypes)[ts_col]))
    # one materialization: the feature kernel would otherwise re-execute
    # for each of the upsert's internal actions (pair collect, counts,
    # final write)
    out = out.localCheckpoint()
    if not out.take(1):
        return {"bootstrap": False, "watermark": wm, "cutoff": cutoff,
                "rows_written": 0, "rows_replaced": 0,
                "partitions_rewritten": 0}
    m = upsert_partitioned(spark, out, out_dir, key_cols=key_cols)
    return {"bootstrap": False, "watermark": wm, "cutoff": cutoff, **m}


def _netstring_fingerprint(cols: list[str]) -> F.Column:
    """Injective row fingerprint over ``cols``: md5 of a netstring-style
    serialization — NULL encodes as ``n``, a value as
    ``v<len>:<cast-to-string>``. Length prefixes make the concatenation
    uniquely parseable, so unlike a separator join (where ``('ab','c')``
    and ``('a','bc')`` collide) or ``concat_ws`` (which silently SKIPS
    nulls), two rows share a fingerprint iff every column's string cast
    matches null-for-null.

    Caveats of comparing through Spark's string cast: ``NaN`` equals
    ``NaN`` (both cast to ``'NaN'`` — pandas-style semantics, unlike SQL
    ``=``) and ``-0.0`` differs from ``0.0``. Binary columns must be cast
    explicitly (e.g. ``md5(bytes)``) before diffing; Spark's
    binary→string cast is the raw bytes and may not be valid UTF-8.
    """
    pieces = []
    for c in cols:
        s = F.col(c).cast("string")
        pieces.append(
            F.when(s.isNull(), F.lit("n"))
            .otherwise(F.concat(F.lit("v"), F.length(s), F.lit(":"), s)))
    return F.md5(F.concat(*pieces))


def snapshot_diff(left: DataFrame, right: DataFrame, key_cols: list[str],
                  compare_cols: list[str] | None = None,
                  include_unchanged: bool = False,
                  mode: str = "rows") -> DataFrame:
    """S11: content diff between two snapshots of the same table — the
    CDC-style audit that pairs with :func:`materialize_incremental`
    (is the incrementally-maintained store byte-equivalent to a full
    recompute? what did this backfill actually touch?).

    A row is identified by ``key_cols``; ``compare_cols`` (default: all
    shared non-key columns, which must agree between the two sides) are
    reduced to an injective 128-bit fingerprint per side. Status per key:
    ``added`` (only in ``right``), ``removed`` (only in ``left``),
    ``changed`` (both sides, fingerprints differ), ``unchanged``.

    ``mode='rows'`` returns ``key_cols + diff_status`` (``unchanged``
    rows excluded unless ``include_unchanged``); ``mode='summary'``
    returns ``(diff_status, n)`` counts — ``unchanged`` included, since
    an audit total that silently omits the biggest class reads as data
    loss.

    Scale (10^12 rows): each side is projected to ``key_cols`` + one
    32-char fingerprint BEFORE the full-outer join, so the join exchange
    carries ~50 bytes/row regardless of payload width — wide feature
    vectors / image bytes never shuffle (Catalyst prunes them into the
    scan's ReadSchema; plan-asserted in tests/test_partitioned.py). The
    single shuffle is on ``key_cols`` — for two stores written by
    :func:`write_partitioned` with the same spec that key is already
    co-bucketed on disk. Keys join null-safely (``<=>``), so a null key
    is one key value, not a dropped row.

    Reference parity: ProFET has no store maintenance at all (one-shot
    script, [R] FeatureGen.py writes a single CSV); this belongs to the
    engine's task-mandated incremental tier (S8 upsert, S9 compaction,
    S10 materialization).
    """
    if mode not in ("rows", "summary"):
        raise ValueError(
            f"snapshot_diff: mode must be 'rows' or 'summary', got {mode!r}")
    if not key_cols:
        raise ValueError("snapshot_diff: key_cols must be non-empty")
    for side, df in (("left", left), ("right", right)):
        missing = [c for c in key_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"snapshot_diff: key_cols {missing} not in {side} columns")
    if compare_cols is None:
        lc = [c for c in left.columns if c not in key_cols]
        rc = [c for c in right.columns if c not in key_cols]
        if set(lc) != set(rc):
            raise ValueError(
                "snapshot_diff: sides disagree on non-key columns "
                f"(left-only {sorted(set(lc) - set(rc))}, right-only "
                f"{sorted(set(rc) - set(lc))}) — pass compare_cols")
        compare_cols = lc  # left's order: deterministic fingerprint
    else:
        overlap = set(compare_cols) & set(key_cols)
        if overlap:
            raise ValueError(
                f"snapshot_diff: {sorted(overlap)} in both key_cols and "
                "compare_cols")
        for side, df in (("left", left), ("right", right)):
            missing = [c for c in compare_cols if c not in df.columns]
            if missing:
                raise ValueError(
                    f"snapshot_diff: compare_cols {missing} not in {side}")
    if "diff_status" in key_cols:
        raise ValueError(
            "snapshot_diff: 'diff_status' collides with the output column")
    fp = _netstring_fingerprint(compare_cols)
    l = left.select(*key_cols, fp.alias("__sd_fp")).alias("l")
    r = right.select(*key_cols, fp.alias("__sd_fp")).alias("r")
    cond = None
    for k in key_cols:
        c = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
        cond = c if cond is None else cond & c
    lk = F.col("l.__sd_fp")
    rk = F.col("r.__sd_fp")
    status = (F.when(lk.isNull(), F.lit("added"))
              .when(rk.isNull(), F.lit("removed"))
              .when(lk != rk, F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    out = (l.join(r, cond, "full_outer")
           .select(*[F.coalesce(F.col(f"l.{k}"), F.col(f"r.{k}")).alias(k)
                     for k in key_cols],
                   status.alias("diff_status")))
    if mode == "summary":
        return out.groupBy("diff_status").agg(F.count("*").alias("n"))
    if not include_unchanged:
        out = out.where(F.col("diff_status") != "unchanged")
    return out


def store_diff(spark: SparkSession, left_dir: str, right_dir: str,
               compare_cols: list[str] | None = None,
               include_unchanged: bool = False,
               mode: str = "rows") -> DataFrame:
    """S11 front door over two :func:`write_partitioned` roots: key on
    each store's ``(entity, ts)`` spec (which must agree), hide the
    ``_p_*`` layout columns from the comparison, and
    :func:`snapshot_diff` the payloads. The two scans stay pruned to
    keys + compared columns; nothing else is read."""
    ls, rs = read_spec(left_dir), read_spec(right_dir)
    if ls is None or rs is None:
        raise ValueError("store_diff: both roots must carry a "
                         f"{SPEC_FILE} (written by write_partitioned)")
    lk = [ls["entity_col"], ls["ts_col"]]
    if lk != [rs["entity_col"], rs["ts_col"]]:
        raise ValueError(
            f"store_diff: key specs disagree: {lk} vs "
            f"[{rs['entity_col']!r}, {rs['ts_col']!r}]")
    hidden = [DAY_COL, BUCKET_COL]
    left = spark.read.parquet(left_dir).drop(*hidden)
    right = spark.read.parquet(right_dir).drop(*hidden)
    return snapshot_diff(left, right, key_cols=lk,
                         compare_cols=compare_cols,
                         include_unchanged=include_unchanged, mode=mode)


def expire_partitions(spark: SparkSession, out_dir: str,
                      older_than=None, keep_days: int | None = None,
                      dry_run: bool = False) -> dict:
    """S12: TTL retention — drop whole day-partitions strictly older
    than a cutoff (the GDPR/compliance + storage-cost maintenance pass;
    the production twin is Iceberg's ``expire_snapshots`` +
    ``delete_orphan_files`` driven off a partition-level retention
    policy).

    Exactly one of:

    - ``older_than``: the cutoff day — a ``'yyyy-MM-dd'`` string or a
      date/datetime; day-partitions with ``day < cutoff`` are dropped
      (the cutoff day itself is KEPT — retention windows are closed on
      the left, so "older than 2024-01-10" never deletes Jan 10);
    - ``keep_days``: keep the newest N day-partitions PRESENT in the
      store (calendar gaps don't shrink the retained history).

    Pure metadata operation at any scale: victim discovery is the
    O(day-partitions) directory listing (``_day_dirs`` — the parquet
    analog of reading Iceberg's partition summary), the dropped-row
    metric comes from parquet FOOTERS via pyarrow (exact, O(files),
    zero data pages read — same mechanism as sources/stats.py), and the
    deletion is a directory remove. No Spark job runs; nothing is
    rewritten, so surviving partitions are byte-identical by
    construction (pinned in tests/test_partitioned.py).

    ``dry_run=True`` reports the victims without deleting — the audit
    step a production retention job logs before acting. Returns
    ``{"days_dropped": [...], "partitions_dropped": n_bucket_dirs,
    "files_dropped": n, "rows_dropped": n, "dry_run": bool}``.
    """
    if read_spec(out_dir) is None:
        raise ValueError(
            "expire_partitions: no _partition_spec.json — not a "
            "write_partitioned store")
    if (older_than is None) == (keep_days is None):
        raise ValueError(
            "expire_partitions: pass exactly one of older_than / "
            "keep_days (an unbounded retention delete is almost "
            "certainly a bug)")
    days = _day_dirs(out_dir)
    if older_than is not None:
        cutoff = (older_than if isinstance(older_than, str)
                  else _day_str(older_than))
        if len(cutoff) != 10 or cutoff[4] != "-" or cutoff[7] != "-":
            raise ValueError(
                f"expire_partitions: older_than must be 'yyyy-MM-dd' "
                f"(got {cutoff!r}) — lexicographic day comparison "
                "requires the zero-padded ISO form")
        victims = [d for d in days if d < cutoff]
    else:
        if keep_days < 1:
            raise ValueError(
                f"expire_partitions: keep_days must be >= 1, got "
                f"{keep_days} (0 would delete the whole store)")
        victims = days[:-keep_days] if len(days) > keep_days else []
    import pyarrow.parquet as pq

    n_parts = n_files = n_rows = 0
    for day in victims:
        day_dir = os.path.join(out_dir, f"{DAY_COL}={day}")
        for root, _dirs, files in os.walk(day_dir):
            if f"{BUCKET_COL}=" in os.path.basename(root):
                n_parts += 1
            for f in files:
                if f.endswith(".parquet") and not f.startswith(("_", ".")):
                    n_files += 1
                    n_rows += pq.ParquetFile(
                        os.path.join(root, f)).metadata.num_rows
    if not dry_run:
        for day in victims:
            shutil.rmtree(os.path.join(out_dir, f"{DAY_COL}={day}"))
    return {"days_dropped": victims, "partitions_dropped": n_parts,
            "files_dropped": n_files, "rows_dropped": n_rows,
            "dry_run": dry_run}
