"""SQL surface for the descriptor kernel (SURVEY.md §2.8 scalar tier).

Upstream ProFET is a Python library — its features are only reachable
from Python (`[R] FeatureGen.py ≈L40-120`, the `Get_Protein_Feat` dict
builder). A Spark-native engine should also serve `spark.sql(...)`
users, so this module registers the descriptor kernels as
session-scoped SQL functions:

    >>> register_sql_functions(spark)
    ['profet_features', 'profet_features_struct', 'profet_image_stats']
    >>> spark.sql("SELECT image_id, profet_features(caption) AS f FROM snaps")

Each function is the SAME Arrow-batched UDF the DataFrame API uses, so
there is one kernel per function and no row-at-a-time Python anywhere:

- ``profet_features(caption) -> array<double>``: the packed layout
  (FEATURE_NAMES order; index features with ``element_at(f, i)`` and
  :func:`profet_spark.functions.text_descriptors.feature_index`) — the
  scalar Arrow UDF behind ``add_caption_features_packed``.
- ``profet_features_struct(caption) -> struct<...340 fields>``: named
  fields, so ``profet_features_struct(caption).entropy`` works and
  Catalyst prunes unused fields from the struct projection.
- ``profet_image_stats(bytes, fmt) -> struct<lum_*, edge_density,
  rowprof_*, phash_check, phash_dct, dhash, decode_ok>``: the scalar
  Arrow UDF behind ``add_image_features`` (decode failures map to
  ``decode_ok = false``, never a stage kill), for SQL pipelines over the
  image axis, e.g. ``profet_image_stats(bytes, fmt).phash_check``.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from profet_spark.functions.image_descriptors import image_stats_udf
from profet_spark.functions.text_descriptors import (
    FEATURE_NAMES,
    caption_features,
    features_udf,
)


def register_sql_functions(spark: SparkSession,
                           prefix: str = "profet_") -> list[str]:
    """Register the descriptor kernels under ``{prefix}features`` /
    ``{prefix}features_struct`` / ``{prefix}image_stats`` in the
    session's function catalog and return the registered names.
    Idempotent (re-registering replaces)."""
    names = [f"{prefix}features", f"{prefix}features_struct",
             f"{prefix}image_stats"]
    spark.udf.register(names[0], features_udf())
    spark.udf.register(names[1], caption_features)
    spark.udf.register(names[2], image_stats_udf())
    return names


__all__ = ["register_sql_functions", "FEATURE_NAMES"]
