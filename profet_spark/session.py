"""SparkSession construction with the engine's scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every setting
here is chosen to be correct at both scales:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to cores locally (overridable; a real cluster
  would size to 2-3x total cores),
- Arrow enabled with a bounded batch size so ``bytes`` columns flowing
  through pandas UDFs cannot blow executor memory (SURVEY.md §4.3).
  Default 1024 rows/batch: measured on this host, the descriptor kernel's
  per-batch working set then stays cache-resident under full-core worker
  concurrency — 3.4x faster at 32 workers than the 8192-row setting
  (335k vs 99k rows/s); per-batch fixed overhead is already amortized at
  1024. Raise it only for narrow all-numeric rows,
- session timezone pinned UTC so timestamps survive the pandas/DuckDB
  boundary bit-for-bit.

Per-task Python worker cost. Every Python operator task pays a fixed
cost whatever its row count. PySpark's worker calls
``importlib.invalidate_caches()`` before each task; on Python < 3.13 that
makes every zip importer on the worker path re-read its archive's whole
directory (``pyspark.zip`` and the ``spark-core`` jar: up to ~230 ms
per task on a 4-core ``local[4]`` box under Python 3.11). After each
task the daemon runs a full ``gc.collect()`` over the import-time heap
(~73k objects, 45-49 ms).
``profet_spark._worker.init`` removes both once per worker process:
zip directories are re-read only when the archive's mtime or size
changed (Python < 3.13 only; 3.13 already re-reads lazily), and the
import-time heap is ``gc.freeze()``-d. It runs on package import, not
through ``spark.python.daemon.module``, so it also covers sessions this
module does not build and ``spark-submit --py-files`` jobs, where the
package is not importable when the daemon starts. Kernels whose closures
would pull in only pandas call it explicitly.

Generated-code cache. Spark compiles each whole-stage-codegen stage and
each generated projection to a class with Janino and keeps the classes in
a cache keyed by source text (``spark.sql.codegen.cache.maxEntries``,
LRU, 100 by default). One ``event_pit_matrix`` job of ``perfbench`` (as-of,
ffill, sessions, a 3-table PIT matrix, rolling and decayed stats) needs
113 classes and one ``corpus_curation`` job 118, so at 100 each job
evicted what the next one needed: 84-89 Janino compiles per repeated job,
whose classes the JIT then compiled again from scratch.
``snapshot_features`` needs 32 and was never affected. This module sets
the cache to 1000 entries, so a repeated job compiles nothing; plans,
rows and results are the same at any cache size. The size is read once
per JVM, when it first generates code, so a session this module did not
build keeps Spark's 100 unless it sets the conf itself: the driver's own
session handed to ``__spark_entry__.entry``, and ``BENCH/scaling_job.py``'s
session, are such sessions.

Spark's "time to initialize Python workers" (``python.init_s`` in
``perfbench``) is not a cost to chase: ``worker.py`` stamps its boot time
before its blocking read of the next task, so for a reused worker the
metric includes the idle wait between tasks.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "profet_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 1024,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None``: under spark-submit (detected via the
    ``PYSPARK_GATEWAY_PORT`` env var the launcher JVM sets for its
    Python child) the builder sets NO master, so spark-submit's
    ``--master yarn/k8s/local[N]`` choice applies — forcing a local
    master here would silently downgrade a cluster job to single-node.
    Outside spark-submit it defaults to ``local[$SPARK_GRAFT_CPUS or
    *]`` (the sandbox/test shape).
    """
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = max(8, min(64, n))

    b = SparkSession.builder.appName(app)
    if master is not None:
        b = b.master(master)
    b = (
        b
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.ui.enabled", "false")
        # a job's generated-class working set (up to ~120) must fit, or
        # every job recompiles what the previous one evicted (see above)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("PROFET_DRIVER_MEM", "8g"))
        # 1 task = 1 core: a threaded BLAS inside a Python worker only
        # steals cycles from the other workers on the host. Measured 3x
        # kernel aggregate at 32 workers (text_descriptors._pin_blas_threads,
        # which also enforces this at runtime when the env is absent).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
