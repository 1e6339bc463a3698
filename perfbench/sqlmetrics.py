"""Read Spark SQL metrics for tagged executions and roll them into layers.

Spark keeps the per-operator SQL metrics of every execution in the shared
state's status store (populated with or without the web UI). Values come
back as formatted text, e.g. ``"25,234"``, ``"67.2 MiB"``, ``"7.9 s"``, or,
for metrics aggregated over several tasks, a two-line form::

    total (min, med, max (stageId: taskId))
    12.1 MiB (1409.1 KiB, 1924.5 KiB, 2.9 MiB (stage 72.0: task 117))

:func:`parse_value` turns such text into numbers in base units (bytes,
seconds, counts); :func:`layer_totals` sums them per layer for a list of
``(node_name, metric_name, text)`` triples, which :func:`execution_metrics`
reads from the status store for the executions carrying one description.
"""

from __future__ import annotations

import re
import time

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40, "PiB": 2 ** 50, "EiB": 2 ** 60}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def _scalar(token: str) -> float:
    m = _NUM.fullmatch(token.strip())
    if m is None:
        raise ValueError(f"unparseable SQL metric value {token!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    raise ValueError(f"unknown SQL metric unit {unit!r} in {token!r}")


def parse_value(text: str) -> dict[str, float]:
    """``{"total": x}`` plus ``min``/``med``/``max`` when the text carries a
    per-task breakdown. Sizes are bytes, timings seconds."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    body = lines[-1]
    if "(" not in body:
        return {"total": _scalar(body)}
    head, rest = body.split("(", 1)
    # drop the trailing "(stage 3.0: task 12))" / "(driver))" locator
    parts = [p.strip() for p in re.sub(r"\([^()]*\)\)?\s*$", "", rest).split(",")]
    parts = [p for p in parts if p]
    out = {"total": _scalar(head)}
    for key, token in zip(("min", "med", "max"), parts):
        out[key] = _scalar(token)
    return out


# (layer metric, metric name as Spark prints it); summed over every node
_SUMS = [
    ("sources.scan_s", "scan time", "Scan "),
    ("sources.bytes_read", "size of files read", "Scan "),
    ("sources.rows_read", "number of output rows", "Scan "),
    ("sources.files_read", "number of files read", "Scan "),
    ("exchange.shuffle_write_bytes", "shuffle bytes written", None),
    ("exchange.shuffle_read_bytes", "local bytes read", None),
    ("exchange.shuffle_read_bytes", "remote bytes read", None),
    ("exchange.fetch_wait_s", "fetch wait time", None),
    ("exchange.spill_bytes", "spill size", None),
    ("python.bytes_sent", "data sent to Python workers", None),
    ("python.bytes_returned", "data returned from Python workers", None),
    ("python.run_s", "time to run Python workers", None),
    ("python.init_s", "time to initialize Python workers", None),
    ("python.start_s", "time to start Python workers", None),
    ("partitioned.files_written", "number of written files", None),
    ("partitioned.bytes_written", "written output", None),
    ("partitioned.commit_s", "task commit time", None),
    ("partitioned.commit_s", "job commit time", None),
]
SQL_LAYER_METRICS = sorted({name for name, _, _ in _SUMS}) + [
    "exchange.skew_max_over_median"]


def layer_totals(triples) -> dict[str, float]:
    """Sum ``(node_name, metric_name, text)`` triples into layer metrics.

    ``exchange.skew_max_over_median`` is the largest max/median ratio of
    the per-partition sizes any adaptive shuffle read reported (1.0 when
    no shuffle read carried a breakdown)."""
    out = {name: 0.0 for name in SQL_LAYER_METRICS}
    out["exchange.skew_max_over_median"] = 1.0
    for node, metric, text in triples:
        if text is None:
            continue
        for layer, want, node_prefix in _SUMS:
            if metric == want and (node_prefix is None
                                   or node.startswith(node_prefix)):
                out[layer] += parse_value(text)["total"]
        if metric == "partition data size":
            v = parse_value(text)
            if v.get("med"):
                out["exchange.skew_max_over_median"] = max(
                    out["exchange.skew_max_over_median"], v["max"] / v["med"])
    return out


def _as_list(spark, scala_seq):
    return list(spark._jvm.scala.jdk.javaapi.CollectionConverters
                .asJava(scala_seq))


def execution_metrics(spark, description: str, timeout_s: float = 10.0):
    """``(node_name, metric_name, text)`` for every SQL metric of every
    execution whose description equals ``description``.

    The status store is fed by an asynchronous listener, so this waits
    (up to ``timeout_s``) until each matching execution has completed."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    deadline = time.monotonic() + timeout_s
    while True:
        execs = [e for e in _as_list(spark, store.executionsList())
                 if e.description() == description]
        if all(e.completionTime().isDefined() for e in execs) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    triples = []
    for e in execs:
        eid = e.executionId()
        values = conv.asJava(store.executionMetrics(eid))
        for node in _as_list(spark, store.planGraph(eid).allNodes()):
            for m in _as_list(spark, node.metrics()):
                triples.append((node.name(), m.name(),
                                values.get(m.accumulatorId())))
    return triples
