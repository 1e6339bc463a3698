"""Shared machinery: the Spark session, staging, sinks, job tagging,
spans and the RSS sampler. Nothing here calls into ``profet_spark``
except :func:`start_session` (``get_spark``)."""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORES = 4
SHUFFLE_PARTITIONS = 8
STAGED_FILES = 8
_OBS_IDS = itertools.count()


def start_session(root: str, work: str):
    """``local[4]`` session whose temp files stay under ``work`` and whose
    Python workers import ``profet_spark`` from ``root`` whatever the
    working directory is."""
    from profet_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app="perfbench", master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra={
            "spark.driver.memory": "2g",
            "spark.executorEnv.PYTHONPATH": root,
            "spark.executorEnv.TMPDIR": tmp,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.ui.retainedExecutions": "5000",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
        })


def stop_session(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def write_parquet(pdf, path: str, schema: pa.Schema,
                  n_files: int = STAGED_FILES) -> None:
    """Stage ``pdf`` as ``n_files`` parquet files of consecutive rows, so
    the scan splits into several tasks the way a real table does."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def noop_sink(df, *exprs):
    """Run ``df`` into the noop sink while observing ``exprs`` (aggregate
    columns) in the same job; returns the observed Row."""
    from pyspark.sql import Observation

    obs = Observation(f"perfbench_{next(_OBS_IDS)}")
    df.observe(obs, *exprs).write.format("noop").mode("overwrite").save()
    return obs.get


class JobTag:
    """Tags every Spark job started inside the block with one job group
    and description, and afterwards counts its jobs, stages and tasks."""

    def __init__(self, spark, tag: str):
        self.spark, self.tag = spark, tag

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.tag, self.tag)
        return self

    def __exit__(self, *exc):
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.spark.sparkContext.setLocalProperty("spark.job.description",
                                                 None)
        return False

    def counts(self) -> dict[str, float]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = failed = 0
        for jid in tracker.getJobIdsForGroup(self.tag):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
        return {"spark.jobs": jobs, "spark.stages": stages,
                "spark.tasks": tasks, "spark.task_retries": failed}


class Tracer:
    """In-memory spans (name, start, end, parent, run id). Disabled, it
    only forwards the block, so untraced and traced runs share code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.run_id = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str, run_id) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["run"] == run_id
                   and s["end"] is not None)


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc ``stat`` file."""
    with open(path) as f:
        raw = f.read()
    name_end = raw.rindex(")")
    return raw[raw.index("(") + 1:name_end], raw[name_end + 1:].split()


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds (user + system, reaped children included) a process
    tree has used so far, and the part of it the JVM's JIT compiler
    threads used. Those threads live as long as their JVM (see
    ``-XX:-UseDynamicNumberOfCompilerThreads``), so both sums only grow."""
    total = jit = 0
    for pid in _tree_pids(root_pid):
        try:
            total += sum(int(v) for v in
                         _stat_fields(f"/proc/{pid}/stat")[1][11:15])
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, IndexError, ValueError):
            continue
        for tid in tids:
            try:
                name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    jit += int(fields[11]) + int(fields[12])
            except (OSError, IndexError, ValueError):
                continue
    tick = os.sysconf("SC_CLK_TCK")
    return total / tick, jit / tick


class RssSampler:
    """Samples the summed RSS of a process tree (the Spark JVM and the
    Python workers it forks) from /proc and keeps the peak."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root_pid, self.interval_s = root_pid, interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        total, page = 0, os.sysconf("SC_PAGE_SIZE")
        for pid in _tree_pids(self.root_pid):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return False
