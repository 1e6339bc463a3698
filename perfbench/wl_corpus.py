"""``corpus_curation``: training-corpus hygiene over seeded documents plus
distributed LSH nearest neighbours over seeded embeddings.

Why: without it the dedup, corpus and similarity operators go unmeasured.
The exchange layer carries wide string rows and self-join blow-up here,
where ``event_pit_matrix`` has narrow sorted windows. One job runs ~40
small Spark jobs, so it is not repeated in runs of its own: its checked
job and its layers ride along in every traced run of
``snapshot_features``. ``--workload corpus_curation`` runs it alone.

The chain is ``minhash_lsh_pairs`` -> drop the higher id of every verified
pair -> ``decontaminate`` -> ``scrub_pii``, plus ``lsh_ann_distributed``.
It does not call ``drop_near_duplicates``: its connected-components loop
fires ~54 small Spark jobs (~20 s) per call whatever the corpus size, too
long to repeat within a run. Planted near-duplicates come in disjoint
pairs, so dropping the higher id of each verified pair keeps exactly one
document per planted cluster, the same survivors the one-call form keeps.

Documents follow the test data's documents schema (``doc_id, text, lang,
source, n_chars``); embeddings its embeddings schema (``vec_id,
embedding, label``). Inputs vary the planted near-duplicate share, the
contaminated share (docs quoting an evaluation document) and the PII
share; every planted property has a known expected outcome.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F

from profet_spark import fixtures
from profet_spark.functions import textstats
from profet_spark.operators import corpus, dedup, similarity

from harness import Tracer, noop_sink, write_parquet
from workload import Workload

N_DOCS = 1_000
N_EVAL = 40
DUP_SHARE = 0.08
CONTAMINATED_SHARE = 0.02
PII_SHARE = 0.05
DECON_N = 8
N_VECS = 1_000
DIM = 64
VEC_DUP_SHARE = 0.05
N_QUERIES = 150
ANN_MIN_RECALL = 0.9
MAX_FALSE_DROP_SHARE = 0.005

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EVAL_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
VEC_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
PII_NAMES = [n for n, _, _ in textstats.PII_PATTERNS]


def _words(rng, vocab, lo, hi):
    return [vocab[i] for i in rng.integers(0, len(vocab), rng.integers(lo, hi))]


class CorpusCuration(Workload):
    # one job runs ~40 small Spark jobs; one measured job fits a run
    min_jobs = warm_up_jobs = 1
    properties = {"docs": N_DOCS, "dup_share": DUP_SHARE,
                  "contaminated_share": CONTAMINATED_SHARE,
                  "pii_share": PII_SHARE, "vectors": N_VECS, "dim": DIM,
                  "vec_dup_share": VEC_DUP_SHARE, "queries": N_QUERIES}

    def generate(self):
        rng = np.random.default_rng(self.seed)
        vocab = fixtures.vocab()
        texts = [_words(rng, vocab, 30, 90) for _ in range(N_DOCS)]
        evals = [_words(rng, vocab, 30, 60) for _ in range(N_EVAL)]
        # disjoint planted roles among docs; a near-duplicate copies a
        # lower-id base and replaces ~3% of its words (3-shingle Jaccard
        # stays ~0.8), so the base is its cluster's canonical survivor
        ids = rng.permutation(N_DOCS)
        n_dup = int(N_DOCS * DUP_SHARE)
        n_con = int(N_DOCS * CONTAMINATED_SHARE)
        n_pii = int(N_DOCS * PII_SHARE)
        pairs = np.sort(ids[:2 * n_dup].reshape(n_dup, 2), axis=1)
        self.bases, self.dups = pairs[:, 0], pairs[:, 1]
        self.contaminated = ids[2 * n_dup:2 * n_dup + n_con]
        pii = ids[2 * n_dup + n_con:2 * n_dup + n_con + n_pii]
        for b, d in pairs:
            copy = list(texts[b])
            for pos in rng.choice(len(copy), max(1, len(copy) // 30),
                                  replace=False):
                copy[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts[d] = copy
        for d in self.contaminated:
            src = evals[int(rng.integers(0, N_EVAL))]
            start = int(rng.integers(0, len(src) - DECON_N))
            at = int(rng.integers(0, len(texts[d])))
            texts[d] = texts[d][:at] + src[start:start + DECON_N] + texts[d][at:]
        self.pii_ids = {kind: [] for kind in PII_NAMES}
        for k, d in enumerate(pii):
            kind = PII_NAMES[k % len(PII_NAMES)]
            token = {"email": f"user{d}@example.com",
                     "ssn": f"{100 + d % 900}-{10 + d % 90}-{1000 + d % 9000}",
                     "ipv4": f"10.{d % 256}.{(d // 7) % 256}.{d % 200 + 1}",
                     "phone": f"+1 415 555 {1000 + d % 9000}"}[kind]
            texts[d] = texts[d][:5] + [token] + texts[d][5:]
            self.pii_ids[kind].append(int(d))
        text = [" ".join(t) for t in texts]
        self.docs = pd.DataFrame({
            "doc_id": np.arange(N_DOCS, dtype=np.int64), "text": text,
            "lang": rng.choice(["en", "de", "es", "fr", "zh"], N_DOCS),
            "source": rng.choice(["web", "books", "code"], N_DOCS),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
        self.eval_docs = pd.DataFrame({
            "doc_id": np.arange(N_EVAL, dtype=np.int64),
            "text": [" ".join(t) for t in evals]})
        vecs = rng.normal(size=(N_VECS, DIM)).astype(np.float32)
        n_vdup = int(N_VECS * VEC_DUP_SHARE)
        vperm = rng.permutation(N_VECS)
        self.vec_pairs = np.sort(vperm[:2 * n_vdup].reshape(n_vdup, 2), axis=1)
        for a, b in self.vec_pairs:
            vecs[b] = vecs[a] + rng.normal(scale=0.01, size=DIM)
        self.queries = np.sort(np.concatenate([
            self.vec_pairs[:, 1],
            vperm[2 * n_vdup:2 * n_vdup + N_QUERIES - n_vdup]]))
        self.vecs = pd.DataFrame({
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32)})

    def stage(self, spark, root):
        self.docs_dir = os.path.join(root, "documents")
        self.eval_dir = os.path.join(root, "eval")
        self.vec_dir = os.path.join(root, "embeddings")
        write_parquet(self.docs, self.docs_dir, DOC_SCHEMA)
        write_parquet(self.eval_docs, self.eval_dir, EVAL_SCHEMA, n_files=1)
        write_parquet(self.vecs, self.vec_dir, VEC_SCHEMA)

    def reference(self):
        """Expected outcomes follow from the planted roles: every planted
        duplicate and contaminated doc is dropped and every base kept;
        every planted PII token left in the output is masked exactly once;
        each planted near-duplicate vector finds its twin as nearest
        neighbour. Decontamination matches hashed n-grams, so a rare hash
        collision may drop an unplanted doc: up to MAX_FALSE_DROP_SHARE of
        the docs may go missing beyond the planted ones."""
        self.n_kept = N_DOCS - len(self.dups) - len(self.contaminated)
        self.twin = {int(b): int(a) for a, b in self.vec_pairs}

    def _chains(self, spark, tracer):
        docs = spark.read.parquet(self.docs_dir)
        evals = spark.read.parquet(self.eval_dir)
        emb = spark.read.parquet(self.vec_dir)
        with tracer.span("dedup.plan"):
            pairs = dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5)
        kept = docs.join(pairs.select(F.col("id_b").alias("doc_id")),
                         "doc_id", "left_anti")
        with tracer.span("corpus.plan"):
            clean = textstats.scrub_pii(corpus.decontaminate(
                kept, evals, n=DECON_N, mode="drop"))
        queries = emb.where(F.col("vec_id").isin(self.queries.tolist()))
        with tracer.span("similarity.plan"):
            ann = similarity.lsh_ann_distributed(emb, queries, k=5)
        return [[("sources", docs), ("dedup", kept), ("corpus", clean)],
                [("sources", emb), ("similarity", ann)]]

    def run_job(self, spark, tracer):
        (_, _, (_, clean)), (_, (_, ann)) = self._chains(spark, tracer)
        in_ids = lambda ids: F.col("doc_id").isin([int(i) for i in ids])  # noqa: E731
        got = noop_sink(
            clean, F.count(F.lit(1)).alias("n"),
            F.sum(in_ids(self.dups).cast("int")).alias("dups"),
            F.sum(in_ids(self.bases).cast("int")).alias("bases"),
            F.sum(in_ids(self.contaminated).cast("int")).alias("contaminated"),
            *[F.sum(f"n_pii_{k}").alias(k) for k in PII_NAMES],
            *[F.sum(in_ids(self.pii_ids[k]).cast("int")).alias(f"{k}_docs")
              for k in PII_NAMES])
        bad = [f"curation {k}: {got[k]} != {v}" for k, v in
               {"dups": 0, "bases": len(self.bases), "contaminated": 0}.items()
               if got[k] != v]
        bad += [f"pii {k}: {got[k]} masks in {got[k + '_docs']} docs"
                for k in PII_NAMES if got[k] != got[k + "_docs"]]
        if not (1 - MAX_FALSE_DROP_SHARE) * self.n_kept <= got["n"] \
                <= self.n_kept:
            bad.append(f"curation kept {got['n']} of {self.n_kept}")
        top = noop_sink(
            ann, F.count(F.lit(1)).alias("n"),
            F.collect_list(F.when(F.col("rank") == 1, F.struct(
                "query_id", "neighbor_id"))).alias("top1"))
        hits = sum(1 for r in top["top1"]
                   if self.twin.get(r["query_id"]) == r["neighbor_id"])
        if hits < ANN_MIN_RECALL * len(self.twin):
            bad.append(f"ann twin recall {hits}/{len(self.twin)}")
        return int(got["n"]) + int(top["n"]), bad

    def prefix_chains(self, spark):
        return self._chains(spark, Tracer(False))

    def trace_extras(self, spark, tracer):
        """Verified pairs over LSH candidate pairs (threshold 0 keeps every
        candidate through the exact-Jaccard verify)."""
        docs = spark.read.parquet(self.docs_dir)
        with tracer.span("dedup.pair_yield"):
            verified = dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5).count()
            spark.catalog.clearCache()
            candidates = dedup.minhash_lsh_pairs(docs, k=3,
                                                 threshold=0.0).count()
            spark.catalog.clearCache()
        return {"dedup.pair_yield": verified / max(1, candidates)}
