"""profet_spark — a from-scratch PySpark-native point-in-time feature-engineering engine.

Re-expresses the capabilities of the public ddofer/ProFET toolkit
(k-mer/n-gram composition, CTD composition-transition-distribution
statistics, sliding-window numeric property profiles — see SURVEY.md §2)
as leakage-free point-in-time features over an image+caption snapshot
table keyed by ``(image_id, ts)``, built Spark-first:

- built-in ``pyspark.sql.functions`` / ``Window`` for everything Catalyst
  can optimize (filters, windows, joins, sessionization);
- Arrow-vectorized pandas UDFs (``pandas_udf`` / ``mapInPandas`` /
  ``applyInPandas``) for descriptor math and the as-of merge kernel;
- no RDDs, no per-row Python UDFs anywhere.

Layout:
  functions/   descriptor math (text + image) as vectorized UDF factories
  operators/   temporal algebra (as-of join, lag/lead, ffill, sessionize),
               dedup, similarity search, text quality
  sources/     table loading (parquet now, Iceberg when jars present) and
               checkpointed/resumable sinks
  plans/       plan-inspection helpers (pushdown / broadcast assertions)
  streaming/   Structured-Streaming analogs of the temporal operators
"""

from profet_spark import _worker
from profet_spark.session import get_spark

# on a Python worker, the first kernel that unpickles a profet_spark
# reference lands here: drop the fixed per-task cost (see _worker.py)
_worker.init()

__all__ = ["get_spark"]
__version__ = "0.4.0"
