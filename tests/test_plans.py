"""Physical-plan assertions (SURVEY.md §4.2): the optimizations we rely on
at 100 TB must actually fire at sf-scale — predicate pushdown into the
parquet scan, column pruning (never read what a query doesn't touch,
especially ``bytes``), broadcast joins for small dims, partial (map-side)
aggregation, and shuffle-free plans where we designed them to be
shuffle-free."""

import importlib.util

import pytest
from pyspark.sql import functions as F

from profet_spark import fixtures
from profet_spark.operators import asof
from profet_spark.plans import formatted_plan as _plan
from profet_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ENTRY = _load_entry()


def test_filter_pushdown_reaches_scan(spark):
    """F1/F2 predicates must appear in PushedFilters of the parquet scan."""
    q = ENTRY.queries()["f1_doc_filter"]
    plan = _plan(q(spark, SF))
    assert "PushedFilters" in plan
    # the n_chars range filter is scan-evaluable and must be pushed
    assert "GreaterThanOrEqual(n_chars,50)" in plan
    assert "LessThanOrEqual(n_chars,2000)" in plan


def test_column_pruning_excludes_unused(spark):
    """A text-only projection over documents must not scan `text`-adjacent
    heavy columns it doesn't use (ReadSchema shows the pruned scan)."""
    docs = load_table(spark, SF, "documents")
    q = docs.groupBy("lang").count()
    plan = _plan(q)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    assert "text" not in read[0]


def test_image_scan_prunes_bytes(spark, tmp_path):
    """Caption-only queries over the image_caption table must never read
    the `bytes` column (the §4.2 contract: bytes is the dominant I/O cost
    at 10^12 scale)."""
    pdf = fixtures.make_fixture(n_entities=8)
    path = str(tmp_path / "image_caption")
    fixtures.to_spark(spark, pdf).write.mode("overwrite").parquet(path)
    snap = spark.read.parquet(path)
    q = snap.select("image_id", "ts", F.length("caption").alias("cl"))
    plan = _plan(q)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    assert "bytes" not in read[0]
    assert "caption" in read[0]


def test_broadcast_join_is_broadcast(spark):
    q = ENTRY.queries()["j2_broadcast_join"]
    plan = _plan(q(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_has_partial_agg(spark):
    """A9: hash aggregate must split partial (map-side) + final."""
    q = ENTRY.queries()["a9_pricing_summary"]
    plan = _plan(q(spark, SF))
    assert "partial_sum" in plan or "partial_count" in plan


def test_scalar_features_shuffle_free(spark):
    """A8 is a pure scan->project pipeline: no Exchange, no Python."""
    q = ENTRY.queries()["a8_scalar_features"]
    plan = _plan(q(spark, SF))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "EvalPython" not in plan


def test_asof_window_strategy_is_pure_jvm(spark):
    """J3 window strategy: Exchange+Sort+Window only — no Python nodes."""
    ev = load_table(spark, SF, "events").select("user_id", "ts", "event_id", "value")
    right = (ev.groupBy("user_id", "ts").agg(F.max("value").alias("v")))
    out = asof.asof_join(ev, right, entity="user_id", ts="ts", strategy="window")
    plan = _plan(out)
    assert "Window" in plan
    for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, node


def test_dedup_exchange_never_carries_text(spark):
    """D1: the dedup shuffle key is the md5 fingerprint; the full text
    column must be projected away before every Exchange."""
    q = ENTRY.queries()["d1_exact_dedup"]
    plan = _plan(q(spark, SF))
    lines = plan.splitlines()
    # formatted explain lists per-node Output columns; no Exchange input
    # may include `text`
    for i, ln in enumerate(lines):
        if "Exchange" in ln and "Input" in "".join(lines[i:i + 3]):
            window = "".join(lines[i:i + 3])
            assert "text#" not in window, window


def test_whole_stage_codegen_covers_descriptor_sql(spark):
    """A4 translate-form CTD runs fully inside WholeStageCodegen."""
    q = ENTRY.queries()["a4_ctd_composition"]
    plan = _plan(q(spark, SF))
    # formatted explain marks whole-stage-codegen nodes with a leading `*`
    assert "* Project" in plan and "* Filter" in plan


def test_hash_split_and_sample_are_shuffle_free(spark):
    """P1/P2: pure scan->project/filter pipelines — no Exchange, no
    Python nodes; the keep-predicate/label is a codegen'd md5 projection."""
    from profet_spark.operators import corpus
    docs = load_table(spark, SF, "documents")
    for df in (corpus.hash_split(docs, {"a": 0.5, "b": 0.5}),
               corpus.stratified_sample(docs, 0.25)):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan and "EvalPython" not in plan


def test_tfidf_scan_prunes_to_id_and_text(spark):
    """P4 reads exactly (doc_id, text) from the parquet scan; tf->df is
    a partial-agg pipeline on narrow keys."""
    from profet_spark.operators import corpus
    docs = load_table(spark, SF, "documents")
    plan = _plan(corpus.tfidf(docs, n_docs=500))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan and all("n_chars" not in ln and "lang" not in ln
                        and "source" not in ln for ln in scan)
    assert "partial_count" in plan or "partial" in plan.lower()


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(node):
    """Pre-order walk of a JVM physical plan, through the AQE wrapper."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node
    for child in _seq(node.children()):
        yield from _plan_nodes(child)


def test_snapshot_chain_ships_only_kernel_inputs(spark, tmp_path):
    """The snapshot chain (caption vector -> image stats -> phash lag ->
    broadcast as-of) runs its three Python kernels as scalar Arrow UDFs:
    no map-operator node, each UDF evaluated once (the struct outputs are
    not re-run per extracted field), and no UDF reads the features array
    or the image bytes except the image kernel reading bytes."""
    from profet_spark.functions import image_descriptors as imgd
    from profet_spark.functions import text_descriptors as td

    pdf = fixtures.make_fixture(n_entities=8)
    snap_path, upd_path = str(tmp_path / "snap"), str(tmp_path / "upd")
    fixtures.to_spark(spark, pdf).write.parquet(snap_path)
    (spark.createDataFrame(fixtures.updates_fixture(n_entities=8))
     .write.parquet(upd_path))
    df = td.add_caption_features_packed(spark.read.parquet(snap_path))
    df = imgd.phash_hamming_to_prev(imgd.add_image_features(df))
    df = asof.asof_join(df, spark.read.parquet(upd_path),
                        entity="image_id", ts="ts", strategy="auto")
    plan = df._jdf.queryExecution().executedPlan()

    nodes = list(_plan_nodes(plan))
    names = [n.nodeName() for n in nodes]
    assert not [n for n in names if "MapIn" in n], names
    udfs = [u for n in nodes if n.nodeName() == "ArrowEvalPython"
            for u in _seq(n.udfs())]
    assert sorted(u.name() for u in udfs) == [
        "asof_payload", "image_stats", "profet_features"]
    reads = {u.name(): {a.name() for a in _seq(u.references().toSeq())}
             for u in udfs}
    assert reads == {"profet_features": {"caption"},
                     "image_stats": {"bytes", "fmt"},
                     "asof_payload": {"image_id", "ts"}}, reads
    assert df.count() == len(pdf)
