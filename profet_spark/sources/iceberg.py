"""Iceberg catalog front door with a sandbox-safe parquet fallback.

The north rule targets Iceberg tables with hidden partition specs
(``days(ts)`` x ``bucket(N, image_id)``). This module is the single entry
point callers use either way:

- when an Iceberg catalog is on the classpath AND the session has a
  catalog configured, :func:`write_table` issues the real
  ``df.writeTo(identifier).partitionedBy(PT.days(ts), PT.bucket(N, entity))
  .createOrReplace()`` and :func:`read_table` a plain
  ``spark.table(identifier)`` + source-column filters (Iceberg rewrites
  them into partition predicates itself);
- otherwise (this sandbox ships no Iceberg jars) both route to the
  hidden-partition parquet layer (:mod:`profet_spark.sources.partitioned`),
  which materializes the SAME transforms as directory keys and performs
  the same predicate rewrite — plan-asserted in tests/test_partitioned.py.

The fallback's contract is deliberately identical (same transform
functions, same pruning semantics), so migrating a deployment is a
catalog-config change, not a code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import partitioning as PT

from profet_spark.sources import partitioned as P

_ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session's classpath."""
    try:
        spark._jvm.java.lang.Class.forName(_ICEBERG_CATALOG_CLASS)  # noqa: SLF001
        return True
    except Exception:
        return False


_DATA_FILE_SUFFIXES = (".parquet", ".orc", ".csv", ".json", ".avro")


def _is_catalog_identifier(target: str) -> bool:
    """Heuristic: a 3-part dotted slash-free name (``cat.db.tbl``) is a
    catalog identifier; anything else — dotted filenames like
    ``snapshots.v2`` or ``events.v2.parquet`` — is a filesystem path for
    the fallback."""
    return (target.count(".") >= 2 and "/" not in target
            and not target.lower().endswith(_DATA_FILE_SUFFIXES))


def _catalog_configured(spark: SparkSession, target: str) -> bool:
    """True iff the identifier's catalog has a ``spark.sql.catalog.<name>``
    session config — writeTo()/spark.table() fail with a raw
    CATALOG_NOT_FOUND otherwise, so we check up front and explain."""
    cat = target.split(".", 1)[0]
    try:
        return spark.conf.get(f"spark.sql.catalog.{cat}", None) is not None
    except Exception:
        return False


def _route(spark: SparkSession, target: str) -> str:
    """"iceberg" | "parquet", with loud errors for half-configured setups."""
    if not _is_catalog_identifier(target):
        return "parquet"
    if not iceberg_available(spark):
        raise ValueError(
            f"'{target}' is a catalog identifier but no Iceberg runtime "
            f"({_ICEBERG_CATALOG_CLASS}) is on the classpath — pass an "
            "output directory for the parquet fallback or add the "
            "iceberg-spark-runtime jar + catalog config.")
    if not _catalog_configured(spark, target):
        raise ValueError(
            f"'{target}' names catalog '{target.split('.', 1)[0]}' but the "
            f"session has no spark.sql.catalog.{target.split('.', 1)[0]} "
            "config — configure the catalog (SparkCatalog/SparkSessionCatalog "
            "+ warehouse) or pass an output directory for the fallback.")
    return "iceberg"


def write_table(df: DataFrame, target: str, ts_col: str = "ts",
                entity_col: str = "image_id", n_buckets: int = 8) -> str:
    """Write ``df`` partitioned by days(ts) x bucket(n_buckets, entity).

    ``target`` is an Iceberg identifier (``catalog.db.table``, used when
    the runtime is on the classpath AND the catalog is configured — a
    half-configured setup fails with a clear error) or an output directory
    for the parquet fallback. Returns the path taken
    ("iceberg" | "parquet")."""
    spark = df.sparkSession
    if _route(spark, target) == "iceberg":
        (df.writeTo(target)
         .partitionedBy(PT.days(F.col(ts_col)),
                        PT.bucket(n_buckets, F.col(entity_col)))
         .createOrReplace())
        return "iceberg"
    P.write_partitioned(df, target, ts_col=ts_col, entity_col=entity_col,
                        n_buckets=n_buckets)
    return "parquet"


def read_table(spark: SparkSession, target: str, ts_col: str = "ts",
               entity_col: str = "image_id", n_buckets: int | None = None,
               ts_between: tuple | None = None,
               entity_in: list | None = None) -> DataFrame:
    """Scan a :func:`write_table` table with partition pruning.

    Iceberg path: plain source-column predicates (the catalog rewrites
    them against the hidden partition spec). Fallback path: the explicit
    rewrite in :func:`partitioned.scan_pruned` (PartitionFilters pruning,
    plan-asserted); the bucket modulus is read from the table's persisted
    spec — only pre-spec tables need ``n_buckets``."""
    if _route(spark, target) == "iceberg":
        df = spark.table(target)
        if ts_between is not None:
            lo, hi = ts_between
            df = df.where(F.col(ts_col).between(
                F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")))
        if entity_in is not None:
            df = df.where(F.col(entity_col).isin(entity_in))
        return df
    return P.scan_pruned(spark, target, ts_col=ts_col, entity_col=entity_col,
                         n_buckets=n_buckets, ts_between=ts_between,
                         entity_in=entity_in)
