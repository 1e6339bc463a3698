"""Dedup operator family (D1-D5) against planted duplicates and a numpy
brute-force oracle. SURVEY.md §2 'NEW' training-data ops."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from profet_spark.operators import dedup

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm stove in the kitchen every single day")
NEAR = BASE.replace("warm stove", "cold stove")  # 1-word edit => high jaccard
FAR = "completely different text about spark shuffles and parquet readers here"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE), (1, BASE.upper()),        # exact dup after normalization
        (2, "  " + BASE + "  "),             # whitespace-only variant
        (3, NEAR),                            # near duplicate
        (4, FAR), (5, "tiny"),               # unrelated / sub-shingle-length
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(docs):
    kept = dedup.exact_dedup(docs).select("doc_id").toPandas()
    # 0,1,2 normalize identically -> keeper 0; others unique
    assert sorted(kept.doc_id) == [0, 3, 4, 5]


def _jaccard(a: str, b: str, k: int = 3) -> float:
    sh = lambda s: {" ".join(s.lower().split()[i:i + k])
                    for i in range(len(s.split()) - k + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_exact_values(docs):
    got = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    got = got.set_index(["id_a", "id_b"]).jaccard.to_dict()
    # normalized-identical docs: jaccard 1.0 on all three pairs
    assert got[(0, 1)] == 1.0 and got[(0, 2)] == 1.0 and got[(1, 2)] == 1.0
    expected = _jaccard(BASE, NEAR)
    assert expected >= 0.5
    for a in (0, 1, 2):
        assert np.isclose(got[(a, 3)], expected)
    assert len(got) == 6  # no pair involving FAR or 'tiny'


def test_minhash_lsh_finds_planted_pairs(docs):
    got = dedup.minhash_lsh_pairs(docs, threshold=0.5).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].values))
    # identical docs always share every band; the 0.9-jaccard near-dup
    # collides with prob 1-(1-j^2)^8 ~= 1 - 5e-8 under random permutations
    assert {(0, 1), (0, 2), (1, 2)} <= pairs
    assert any(b == 3 for _, b in pairs)
    # verification step guarantees zero false positives
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    assert pairs <= set(map(tuple, exact[["id_a", "id_b"]].values))


def _ham64(a, b) -> int:
    """Hamming distance of two signed 64-bit simhashes (two's complement)."""
    return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")


def test_simhash_identical_and_near(docs):
    t = dedup.simhash_table(docs).toPandas().set_index("id").simhash.to_dict()
    assert t[0] == t[1] == t[2]
    ham = _ham64(t[0], t[3])
    assert ham <= 12  # near-dup stays close in 64-bit simhash space
    pairs = dedup.simhash_pairs(docs, max_hamming=3).toPandas()
    got = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert {(0, 1), (0, 2), (1, 2)} <= got
    for _, r in pairs.iterrows():
        assert _ham64(t[r.id_a], t[r.id_b]) == r.hamming <= 3


def test_simhash_pairs_equal_bruteforce(spark):
    """Pigeonhole block join must find EXACTLY the hamming<=3 pairs."""
    rng = np.random.default_rng(7)
    texts = [" ".join(rng.choice(list("abcdefgh"), size=12)) for _ in range(60)]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    t = dedup.simhash_table(df).toPandas().set_index("id").simhash.to_dict()
    brute = {(a, b) for a in t for b in t if a < b and _ham64(t[a], t[b]) <= 3}
    got = dedup.simhash_pairs(df, max_hamming=3).toPandas()
    assert set(map(tuple, got[["id_a", "id_b"]].values)) == brute


def test_simhash64_vs_numpy_reference(docs):
    """Engine simhash equals an independent numpy two's-complement
    reference built from the same md5-derived 64-bit shingle hashes."""
    import hashlib

    t = dedup.simhash_table(docs, k=2).toPandas().set_index("id").simhash.to_dict()
    for doc_id, text in [(0, BASE), (3, NEAR), (4, FAR)]:
        words = text.lower().split()
        shingles = {" ".join(words[i:i + 2]) for i in range(len(words) - 1)}
        hashes = []
        for s in shingles:
            d = hashlib.md5(s.encode()).hexdigest()
            hashes.append((int(d[:8], 16), int(d[8:16], 16)))
        votes = np.zeros(64)
        for lo, hi in set(hashes):  # distinct (h, h2), matching the engine
            for j in range(64):
                bit = (lo >> j) & 1 if j < 32 else (hi >> (j - 32)) & 1
                votes[j] += 1 if bit else -1
        want = sum((1 << j) if votes[j] > 0 else 0 for j in range(64))
        if want >= 1 << 63:
            want -= 1 << 64  # two's complement
        assert int(t[doc_id]) == want, doc_id


def test_simhash_pairs_max_bucket_noop_when_loose(docs):
    base = dedup.simhash_pairs(docs, max_hamming=3).toPandas()
    capped = dedup.simhash_pairs(docs, max_hamming=3, max_bucket=10**6).toPandas()
    cols = ["id_a", "id_b"]
    assert sorted(map(tuple, base[cols].values.tolist())) == \
        sorted(map(tuple, capped[cols].values.tolist()))


def test_embedding_dup_pairs_vs_numpy(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 16)).astype(np.float32)
    vecs[7] = vecs[3] + rng.normal(scale=0.01, size=16).astype(np.float32)  # planted
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    got = dedup.embedding_dup_pairs(df, threshold=0.9).toPandas()
    q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5)
    n = (q * q).sum(axis=1)
    cos = (q @ q.T) / np.sqrt(np.outer(n, n))
    brute = {(a, b) for a in range(40) for b in range(a + 1, 40) if cos[a, b] >= 0.9}
    assert set(map(tuple, got[["id_a", "id_b"]].values)) == brute == {(3, 7)}
    np.testing.assert_allclose(
        got.cosine.to_numpy(), [cos[3, 7]], rtol=1e-12)


def test_embedding_dup_lsh_subset_and_recall(spark):
    """The LSH scale path must return a strict subset of the exact tier's
    pairs (zero false positives) and recover planted high-cosine dups."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 16)).astype(np.float32)
    vecs[7] = vecs[3] + rng.normal(scale=0.01, size=16).astype(np.float32)
    vecs[21] = vecs[5] + rng.normal(scale=0.02, size=16).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    exact = dedup.embedding_dup_pairs(df, threshold=0.9).toPandas()
    lsh = dedup.embedding_dup_pairs_lsh(df, threshold=0.9).toPandas()
    exact_pairs = set(map(tuple, exact[["id_a", "id_b"]].values))
    lsh_pairs = set(map(tuple, lsh[["id_a", "id_b"]].values))
    assert lsh_pairs <= exact_pairs, "LSH tier produced a false positive"
    assert {(3, 7), (5, 21)} <= lsh_pairs, "planted near-dups missed"
    # cosines identical bitwise to the exact tier's arithmetic
    m = lsh.merge(exact, on=["id_a", "id_b"], suffixes=("_l", "_e"))
    assert (m.cosine_l.to_numpy() == m.cosine_e.to_numpy()).all()


def test_dedup_plans_prune_text(docs):
    """Scale invariant: the pair-join exchanges must not carry raw text."""
    plan = dedup.minhash_lsh_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges and all("text" not in ln for ln in exchanges)


def test_approx_distinct_close_to_exact(spark, sf_dir):
    from profet_spark.sources import load_table
    docs = load_table(spark, sf_dir, "documents")
    row = docs.agg(
        F.countDistinct("doc_id").alias("exact"),
        F.approx_count_distinct("doc_id", 0.02).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= 0.1 * row.exact


def test_minhash_lsh_max_bucket_noop_when_loose(spark, sf_dir):
    """A cap far above any real bucket size must not change the output."""
    from profet_spark.sources import load_table
    docs = load_table(spark, sf_dir, "documents")
    base = dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5).toPandas()
    capped = dedup.minhash_lsh_pairs(docs, k=3, threshold=0.5,
                                     max_bucket=10**6).toPandas()
    cols = ["id_a", "id_b"]
    assert sorted(map(tuple, base[cols].values.tolist())) == \
        sorted(map(tuple, capped[cols].values.tolist()))


def test_ngram_jaccard_max_bucket_noop_when_loose(spark, sf_dir):
    from profet_spark.sources import load_table
    docs = load_table(spark, sf_dir, "documents")
    base = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).toPandas()
    capped = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5,
                                       max_bucket=10**6).toPandas()
    cols = ["id_a", "id_b"]
    assert sorted(map(tuple, base[cols].values.tolist())) == \
        sorted(map(tuple, capped[cols].values.tolist()))


def test_pair_ops_persist_knob_identical(spark, docs):
    """persist=False (library callers managing cache lifetime themselves)
    must not change any result (ADVICE r2)."""
    from profet_spark.operators import dedup as D

    def norm(pdf):
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    for fn, kw in [
        (D.ngram_jaccard_pairs, dict(k=3, threshold=0.4)),
        (D.minhash_lsh_pairs, dict(k=3, threshold=0.4)),
        (D.simhash_pairs, dict(k=2)),
    ]:
        a = norm(fn(docs, **kw).toPandas())
        b = norm(fn(docs, persist=False, **kw).toPandas())
        pd.testing.assert_frame_equal(a, b)


def test_minhash_signature_table_s7_composition(spark, docs, tmp_path):
    """The 100 TB shape (VERDICT r2 #4): materialize D3 signatures ONCE via
    the S7 checkpointed sink, read them back, and run the band join from
    the materialized table. Results must equal the direct computation, and
    the pairs plan must contain NO shingle explode — the signature pipeline
    ran exactly once, at write time."""
    from profet_spark.operators import dedup as D
    from profet_spark.sources import checkpoint as ckpt

    out = str(tmp_path / "sig_table")
    sig = D.minhash_signature_table(docs, k=3)
    ckpt.checkpointed_write(sig, out, key_cols=["id"], num_buckets=4,
                            lineage="docs-sig-k3")
    back = ckpt.read_checkpointed(spark, out).select("id", "sig")

    direct = D.minhash_lsh_pairs(docs, k=3, threshold=0.4).toPandas()
    from_mat = D.minhash_lsh_pairs(docs, k=3, threshold=0.4,
                                   signatures=back).toPandas()
    key = ["id_a", "id_b"]
    pd.testing.assert_frame_equal(
        direct.sort_values(key).reset_index(drop=True),
        from_mat.sort_values(key).reset_index(drop=True))
    assert len(direct) > 0

    # candidate generation from the materialized table: the signature
    # pipeline (shingle explode + 16-min aggregate) must NOT appear — only
    # parquet scans of the signature table feed the band join
    from profet_spark.functions import hashing as H

    banded = back.select(
        "id", F.explode(H.band_hashes(F.col("sig"))).alias("bh"))
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan  # the band explode itself
    sig_plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert "sequence" in sig_plan.lower()  # direct pipeline HAS the shingle explode
    assert "sequence" not in plan.lower()  # materialized path has none
    assert "parquet" in plan.lower()       # ...it scans the sink files instead


def test_dup_clusters_chain_and_clique(spark):
    """D6 must label a CHAIN component (diameter > 1 — forces multi-round
    propagation) and a separate clique with their min member ids."""
    from profet_spark.operators import dedup as D

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (9, 12),          # chain 1-5-9-12
         (20, 21), (20, 22), (21, 22),     # clique
         (30, 31)],                        # pair
        "id_a bigint, id_b bigint")
    got = D.dup_clusters(pairs).toPandas().sort_values("id").reset_index(drop=True)
    want = {1: 1, 5: 1, 9: 1, 12: 1, 20: 20, 21: 20, 22: 20, 30: 30, 31: 30}
    assert dict(zip(got.id, got.cluster_id)) == want


def test_simhash_pairs_from_materialized_signatures(spark, docs, tmp_path):
    """D4 twin of the D3 S7 composition: simhash_pairs(signatures=...)
    from a checkpointed-sink readback equals the direct computation, with
    no shingle explode in the pair plan."""
    from profet_spark.operators import dedup as D
    from profet_spark.sources import checkpoint as ckpt

    out = str(tmp_path / "simhash_table")
    ckpt.checkpointed_write(D.simhash_table(docs, k=2), out,
                            key_cols=["id"], num_buckets=4,
                            lineage="docs-simhash-k2")
    back = ckpt.read_checkpointed(spark, out).select("id", "simhash")
    direct = D.simhash_pairs(docs, k=2).toPandas()
    from_mat = D.simhash_pairs(docs, k=2, signatures=back).toPandas()
    key = ["id_a", "id_b"]
    pd.testing.assert_frame_equal(
        direct.sort_values(key).reset_index(drop=True),
        from_mat.sort_values(key).reset_index(drop=True))
    plan = (D.simhash_pairs(docs, k=2, signatures=back)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "sequence" not in plan.lower() and "parquet" in plan.lower()


def test_dup_clusters_matches_union_find_reference(spark):
    """D6 vs an independent python union-find on seeded random graphs
    (including a long path to force many propagation rounds)."""
    import numpy as np

    from profet_spark.operators import dedup as D

    def union_find(edges):
        parent = {}
        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    rng = np.random.default_rng(3)
    for trial in range(3):
        n = 40
        edges = {(int(a), int(b)) for a, b in rng.integers(0, n, (60, 2)) if a != b}
        edges |= {(i, i + 1) for i in range(100, 115)}  # path: diameter 15
        pairs = spark.createDataFrame(
            [(min(a, b), max(a, b)) for a, b in edges], "id_a bigint, id_b bigint")
        got = {int(r.id): int(r.cluster_id)
               for r in D.dup_clusters(pairs).collect()}
        want = union_find(edges)
        assert got == want, f"trial {trial}"


def test_dup_clusters_star_matches_union_find(spark):
    """The large-star/small-star variant (O(log n) rounds) must agree with
    union-find AND with the propagate variant, including on a long path
    whose diameter exceeds propagate's budget economics."""
    import numpy as np

    from profet_spark.operators import dedup as D

    rng = np.random.default_rng(5)
    n = 40
    edges = {(int(a), int(b)) for a, b in rng.integers(0, n, (60, 2)) if a != b}
    edges |= {(i, i + 1) for i in range(100, 140)}  # path: diameter 40
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a bigint, id_b bigint")

    def union_find(edges):
        parent = {}
        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n_: find(n_) for n_ in parent}

    got = {int(r.id): int(r.cluster_id)
           for r in D.dup_clusters(pairs, algorithm="star", max_iter=15).collect()}
    assert got == union_find(edges)
    # the 40-hop path converged within 15 star rounds — beyond what
    # propagate could do in 15 (needs ~40); also cross-check propagate
    # at a budget that CAN converge
    got_prop = {int(r.id): int(r.cluster_id)
                for r in D.dup_clusters(pairs, max_iter=60).collect()}
    assert got_prop == got


def test_dup_clusters_bad_algorithm_raises(spark):
    from profet_spark.operators import dedup as D
    pairs = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    with pytest.raises(ValueError, match="algorithm"):
        D.dup_clusters(pairs, algorithm="bfs")


def test_drop_duplicate_segments_line_mode(spark):
    """D7 real line-level mode (delimiter='\\n'): the C4-style rule —
    a line occurring in >=2 docs is dropped from every doc; docs are
    re-assembled in original line order; a fully-boilerplate doc
    survives with empty text (caller's policy to drop)."""
    a = "alpha beta\nshared boilerplate line\ngamma delta"
    b = "epsilon zeta\nshared boilerplate line"
    c = "shared boilerplate line"
    df = spark.createDataFrame([(0, a), (1, b), (2, c)], ["doc_id", "text"])
    got = (dedup.drop_duplicate_segments(df, delimiter="\n")
           .toPandas().set_index("doc_id").sort_index())
    assert got.loc[0, "new_text"] == "alpha beta\ngamma delta"
    assert got.loc[0, "n_segments"] == 3 and got.loc[0, "n_kept"] == 2
    assert got.loc[1, "new_text"] == "epsilon zeta"
    assert got.loc[2, "new_text"] == "" and got.loc[2, "n_kept"] == 0
    assert got.loc[2, "n_segments"] == 1


def test_drop_duplicate_segments_fixed_width(spark):
    """Fixed-width word segmenter: aligned duplicate window dropped
    everywhere, tails kept, empty doc -> 0 segments."""
    rows = [(0, "a b c d e f g h"),   # segs: 'a b c d', 'e f g h'
            (1, "a b c d x y z w"),   # segs: 'a b c d', 'x y z w'
            (2, "p q"),               # one short segment
            (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = (dedup.drop_duplicate_segments(df, width=4)
           .toPandas().set_index("doc_id").sort_index())
    assert got.loc[0, "new_text"] == "e f g h"
    assert got.loc[0, "n_segments"] == 2 and got.loc[0, "n_kept"] == 1
    assert got.loc[1, "new_text"] == "x y z w"
    assert got.loc[2, "new_text"] == "p q" and got.loc[2, "n_kept"] == 1
    assert got.loc[3, "n_segments"] == 0 and got.loc[3, "new_text"] == ""


def test_drop_duplicate_segments_min_count(spark):
    """min_count=3 tolerates a segment appearing twice."""
    df = spark.createDataFrame(
        [(0, "dup line\nuniq a"), (1, "dup line\nuniq b")],
        ["doc_id", "text"])
    got = (dedup.drop_duplicate_segments(df, delimiter="\n", min_count=3)
           .toPandas().set_index("doc_id").sort_index())
    assert got.loc[0, "new_text"] == "dup line\nuniq a"
    assert got.loc[1, "n_kept"] == 2


def test_hamming_pairs_pigeonhole_exactness(spark):
    """D8 hand-check: <=3-bit pairs found exactly (pigeonhole recall);
    4-bit pairs excluded whether or not they share a block; bit-63
    (negative bigint) signatures handled."""
    rows = [
        (0, 0),
        (1, 0b111),                              # hamming 3 vs id 0
        (2, 0b1111),                             # hamming 4 vs id 0 (one block)
        (3, (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)),  # 4 bits, 4 blocks
        (4, -(2 ** 63)),                         # bit 63 only -> hamming 1 vs 0
    ]
    df = spark.createDataFrame(rows, "id long, bits long")
    got = dedup.hamming_pairs(df).toPandas()
    pairs = {(r.id_a, r.id_b): r.hamming for r in got.itertuples()}
    assert pairs[(0, 1)] == 3
    assert pairs[(0, 4)] == 1
    assert (0, 2) not in pairs and (0, 3) not in pairs
    # ids 1 vs 2: 0b111 ^ 0b1111 = 0b1000 -> hamming 1
    assert pairs[(1, 2)] == 1


def test_phash_dup_pairs_vs_numpy_bruteforce(spark):
    """D8 image adapter == quadratic numpy oracle on the native fixture
    (one phash per entity); planted hot cluster produces the expected
    O(m^2) pair mass, and max_bucket caps exactly that cluster."""
    from profet_spark import fixtures
    pdf = fixtures.make_fixture(n_entities=60)
    latest = (pdf.sort_values("ts").groupby("image_id")["phash"]
              .last().reset_index())
    ids = latest["image_id"].to_numpy()
    ph = latest["phash"].to_numpy().astype(np.uint64)
    want = set()
    for i in range(len(ids)):
        d = np.bitwise_xor(ph, ph[i])
        for j in np.nonzero([bin(int(x)).count("1") <= 3 for x in d])[0]:
            if ids[i] < ids[j]:
                want.add((ids[i], ids[j]))
    df = fixtures.to_spark(spark, pdf).select("image_id", "ts", "phash")
    sl = df.groupBy("image_id").agg(F.max_by("phash", "ts").alias("phash"))
    got = dedup.phash_dup_pairs(sl).toPandas()
    assert set(zip(got.id_a, got.id_b)) == want
    assert len(want) > 0  # the planted cluster guarantees pairs
    # capping shrinks (or holds) the pair count, never errors
    capped = dedup.phash_dup_pairs(sl, max_bucket=3).toPandas()
    assert len(capped) <= len(got)


def test_band_digests_are_position_tagged(spark):
    """Equal value-slices in different band positions must yield different
    digests: the empty-shingle sentinel signature (all 16 mins = P) used
    to produce 8 identical digests per doc, octupling its bucket counts
    against max_bucket and the candidate-join work."""
    from profet_spark.functions import hashing as H

    one = spark.createDataFrame(
        [(1,)], "id int").select(
        "id", H.band_hashes(F.array(
            *[F.lit(H.MINHASH_P).cast("bigint") for _ in range(16)])).alias("bh"))
    digests = one.select(F.explode("bh").alias("d")).toPandas().d
    assert digests.nunique() == 8


def test_drop_near_duplicates_one_survivor_per_cluster(spark):
    """drop_near_duplicates keeps exactly the min-id canonical of each
    near-dup cluster and every unique doc — and agrees with the explicit
    pairs -> dup_clusters -> anti-join composition it packages."""
    rows = [
        (1, BASE), (2, NEAR), (3, BASE.replace("lazy dog", "lazy cat")),
        (10, FAR + " " + FAR), (11, FAR + " " + FAR.replace("here", "now")),
        (20, "an entirely standalone document about window functions and "
             "watermarks that shares no shingles with the other groups"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.drop_near_duplicates(docs, threshold=0.5)
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    # composition oracle
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    clusters = dedup.dup_clusters(pairs).toPandas()
    drops = set(clusters[clusters.id != clusters.cluster_id].id)
    assert kept == sorted(set(r[0] for r in rows) - drops)
    # the mutual near-dup groups collapse to their min id; unique survives
    assert 1 in kept and 10 in kept and 20 in kept
    assert 2 not in kept and 3 not in kept and 11 not in kept
    # schema is the input schema (anti-join, no extra columns)
    assert out.columns == docs.columns


# --- D9 SemDeDup: within-cluster semantic near-dup pairs + keep-one ---


@pytest.fixture(scope="module")
def sem_vecs(spark):
    """Four well-separated direction groups with planted near-dups inside
    two of them — every semantic dup lands in its group's k-means cell."""
    rng = np.random.default_rng(23)
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = np.empty((48, 16))
    for i in range(48):
        vecs[i] = centers[i % 4] + rng.normal(scale=0.15, size=16)
    vecs[13] = vecs[1] + rng.normal(scale=0.005, size=16)   # group-1 dup
    vecs[26] = vecs[2] + rng.normal(scale=0.005, size=16)   # group-2 dup
    vecs[38] = vecs[2] + rng.normal(scale=0.008, size=16)   # 3-member comp
    vecs = vecs.astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(48), "embedding": list(map(list, vecs))})
    return spark.createDataFrame(pdf), vecs


def _sem_numpy_pairs(vecs, cids, threshold):
    """Exact-arithmetic reference: quantized cosine within equal cells."""
    q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5)
    n = (q * q).sum(axis=1)
    cos = (q @ q.T) / np.sqrt(np.outer(n, n))
    return {(a, b) for a in range(len(vecs)) for b in range(a + 1, len(vecs))
            if cids[a] == cids[b] and cos[a, b] >= threshold}


def test_semantic_dup_pairs_nc1_equals_brute(sem_vecs):
    """With one cell the within-cluster search IS the brute-force tier —
    identical pair set AND bitwise-identical cosines."""
    df, _ = sem_vecs
    sem = dedup.semantic_dup_pairs(
        df, n_centroids=1, threshold=0.9, centroids="lowest_id").toPandas()
    brute = dedup.embedding_dup_pairs(df, threshold=0.9).toPandas()
    key = ["id_a", "id_b"]
    assert sorted(map(tuple, sem[key].values.tolist())) == \
        sorted(map(tuple, brute[key].values.tolist()))
    m = sem.merge(brute, on=key, suffixes=("_s", "_b"))
    assert (m.cosine_s.to_numpy() == m.cosine_b.to_numpy()).all()
    assert (sem.cid == 0).all()


def test_semantic_dup_pairs_vs_numpy_assignment(sem_vecs):
    """lowest_id strategy: reproduce the centroid assignment in numpy and
    check the pair set is exactly the within-cell threshold pairs."""
    df, vecs = sem_vecs
    got = dedup.semantic_dup_pairs(
        df, n_centroids=6, threshold=0.9, centroids="lowest_id").toPandas()
    q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5)
    n = (q * q).sum(axis=1)
    C, cn = q[:6], n[:6]                      # 6 lowest ids, id order
    cos_c = (q @ C.T) / np.sqrt(n[:, None] * cn[None, :])
    cids = np.argmax(cos_c, axis=1)
    want = _sem_numpy_pairs(vecs, cids, 0.9)
    assert set(map(tuple, got[["id_a", "id_b"]].values)) == want
    got_cid = dict(zip(map(tuple, got[["id_a", "id_b"]].values), got.cid))
    for (a, b), cid in got_cid.items():
        assert cid == cids[a] == cids[b]


def test_semantic_dup_pairs_kmeans_recall(sem_vecs):
    """Production default (sampled spherical k-means): the planted
    same-group near-dups must land in one cell and be found."""
    df, _ = sem_vecs
    got = dedup.semantic_dup_pairs(df, n_centroids=4, threshold=0.95)
    pairs = set(map(tuple, got.toPandas()[["id_a", "id_b"]].values))
    assert {(1, 13), (2, 26), (2, 38), (26, 38)} <= pairs


def test_semantic_dup_pairs_chunk_invariance(sem_vecs):
    """pair_chunk is a memory knob, not a semantics knob."""
    df, _ = sem_vecs
    a = dedup.semantic_dup_pairs(df, n_centroids=4, threshold=0.9,
                                 centroids="lowest_id", pair_chunk=3).toPandas()
    b = dedup.semantic_dup_pairs(df, n_centroids=4, threshold=0.9,
                                 centroids="lowest_id", pair_chunk=1024).toPandas()
    key = ["id_a", "id_b", "cid", "cosine"]
    assert sorted(map(tuple, a[key].values.tolist())) == \
        sorted(map(tuple, b[key].values.tolist()))


def test_semantic_dup_pairs_max_cluster_drops_hot_cell(sem_vecs):
    """The skew guard excludes oversized cells from the quadratic search
    (rows kept, not deduped) — the D2-D4 stop-shingle convention."""
    df, _ = sem_vecs
    base = dedup.semantic_dup_pairs(
        df, n_centroids=4, threshold=0.0, centroids="lowest_id").toPandas()
    sizes = base.cid.value_counts()  # threshold 0 => every in-cell pair
    capped = dedup.semantic_dup_pairs(
        df, n_centroids=4, threshold=0.0, centroids="lowest_id",
        max_cluster=11).toPandas()
    import math
    for cid, n_pairs in base.cid.value_counts().items():
        m = (1 + math.isqrt(1 + 8 * n_pairs)) // 2  # m*(m-1)/2 = n_pairs
        in_capped = (capped.cid == cid).sum()
        assert in_capped == (0 if m > 11 else n_pairs)
    assert len(capped) < len(base)


def test_semdedup_keeps_min_id_survivors(sem_vecs):
    """semdedup drops exactly the non-canonical members of each semantic
    component; survivors = complement; schema preserved."""
    df, _ = sem_vecs
    out = dedup.semdedup(df, n_centroids=4, threshold=0.95,
                         centroids="lowest_id")
    kept = sorted(r.vec_id for r in out.select("vec_id").collect())
    pairs = dedup.semantic_dup_pairs(df, n_centroids=4, threshold=0.95,
                                     centroids="lowest_id")
    cl = dedup.dup_clusters(pairs).toPandas()
    drops = set(cl[cl.id != cl.cluster_id].id)
    assert kept == sorted(set(range(48)) - drops)
    assert 13 not in kept and 1 in kept          # planted pair: min id kept
    assert out.columns == df.columns


def test_semantic_dup_pairs_plan_one_exchange(sem_vecs):
    """Scale contract: ONE hash Exchange (on cid) feeds the grouped pair
    kernel; the raw embedding column never crosses an exchange."""
    df, _ = sem_vecs
    plan = dedup.semantic_dup_pairs(
        df, n_centroids=4, threshold=0.9, centroids="lowest_id",
        persist=False)._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "cid" in exchanges[0]
    assert all("embedding" not in ln for ln in exchanges)


def test_semantic_dup_pairs_validation(sem_vecs):
    df, _ = sem_vecs
    with pytest.raises(ValueError, match="n_centroids"):
        dedup.semantic_dup_pairs(df, n_centroids=0)
    with pytest.raises(ValueError, match="pair_chunk"):
        dedup.semantic_dup_pairs(df, pair_chunk=0)


def test_semantic_dup_pairs_empty_input(spark):
    df = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = dedup.semantic_dup_pairs(df, n_centroids=4)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id_a", "id_b", "cid", "cosine"]


# ------------------------------------------------------------- D10 spans

class TestRepeatedSpans:
    def _docs(self, spark):
        from pyspark.sql import Row
        boiler = "LICENSE: " + "x" * 51  # 60-char shared prefix
        rows = [  # tails differ at their FIRST char so the duplicated
            # region is exactly the 60-char boilerplate
            Row(doc_id=1, text=boiler + "Aunique tail one " + "a" * 30),
            Row(doc_id=2, text=boiler + "Bentirely different " + "b" * 30),
            Row(doc_id=3, text="no duplication here at all " + "c" * 40),
        ]
        return spark.createDataFrame(rows)

    def test_planted_boilerplate_found_and_merged(self, spark):
        from profet_spark.operators import dedup as D

        spans = D.repeated_spans(self._docs(spark), span=50,
                                 hash_strategy="portable")
        got = {(r.doc_id, r.span_start, r.span_end, r.n_hits)
               for r in spans.collect()}
        # positions 1..11 of the 60-char prefix duplicate -> one merged
        # interval [1, 61) per sharing doc; doc 3 clean
        assert got == {(1, 1, 61, 11), (2, 1, 61, 11)}

    def test_strategies_agree_on_planted(self, spark):
        from profet_spark.operators import dedup as D

        docs = self._docs(spark)
        a = {tuple(r) for r in D.repeated_spans(
            docs, span=50, hash_strategy="portable").collect()}
        b = {tuple(r) for r in D.repeated_spans(
            docs, span=50, hash_strategy="xxhash64").collect()}
        assert a == b

    def test_stride_catches_aligned_prefix(self, spark):
        from profet_spark.operators import dedup as D

        spans = D.repeated_spans(self._docs(spark), span=50, stride=5,
                                 hash_strategy="portable")
        assert sorted(r.doc_id for r in spans.collect()) == [1, 2]

    def test_short_docs_yield_nothing(self, spark):
        from pyspark.sql import Row

        from profet_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [Row(doc_id=1, text="tiny"), Row(doc_id=2, text="tiny")])
        # shorter than span -> no positions at all (sequence guard: Spark
        # would otherwise count DOWN from 1)
        assert D.repeated_spans(docs, span=50).count() == 0

    def test_validation(self, spark):
        import pytest as _pt

        from profet_spark.operators import dedup as D

        docs = self._docs(spark)
        with _pt.raises(ValueError, match="hash_strategy"):
            D.repeated_spans(docs, hash_strategy="nope")
        with _pt.raises(ValueError, match="span >= 2"):
            D.repeated_spans(docs, span=1)

    def test_cut_spans_excises_and_passes_through(self, spark):
        from profet_spark.operators import dedup as D

        docs = self._docs(spark)
        spans = D.repeated_spans(docs, span=50, hash_strategy="portable")
        cut = {r.doc_id: r.text
               for r in D.cut_spans(docs, spans).collect()}
        orig = {r.doc_id: r.text for r in docs.collect()}
        assert cut[1] == orig[1][60:]   # [1, 61) removed, 1-based
        assert cut[2] == orig[2][60:]
        assert cut[3] == orig[3]        # untouched doc passes through
        # idempotent on already-clean text when re-run with same report
        again = {r.doc_id: r.text
                 for r in D.cut_spans(
                     D.cut_spans(docs, spans), spans).collect()}
        assert again[3] == orig[3]

    def test_cut_spans_overlap_and_full_range(self, spark):
        from pyspark.sql import Row

        from profet_spark.operators import dedup as D

        docs = spark.createDataFrame([Row(doc_id=1, text="abcdefghij")])
        spans = spark.createDataFrame(
            [Row(doc_id=1, span_start=2, span_end=5),
             Row(doc_id=1, span_start=4, span_end=8)])  # overlapping
        out = D.cut_spans(docs, spans).collect()[0].text
        assert out == "ahij"
        full = spark.createDataFrame(
            [Row(doc_id=1, span_start=1, span_end=11)])
        assert D.cut_spans(docs, full).collect()[0].text == ""

    def test_keep_first_retains_one_copy(self, spark):
        from pyspark.sql import Row

        from profet_spark.operators import dedup as D

        # APERIODIC boilerplate: the x-run fixture self-repeats within a
        # doc (every 50-window of an x-run is the same string), which
        # keep='first' correctly reports — use distinct chars instead so
        # each span value occurs once per doc
        boiler = "".join(chr(33 + (i * 7) % 90) for i in range(60))
        docs = spark.createDataFrame([
            Row(doc_id=1, text=boiler + "Aunique tail one " + "a" * 30),
            Row(doc_id=2, text=boiler + "Bentirely different " + "b" * 30),
            Row(doc_id=3, text="no duplication here at all " + "c" * 40),
        ])
        spans = D.repeated_spans(docs, span=50, keep="first",
                                 hash_strategy="portable")
        got = {(r.doc_id, r.span_start, r.span_end)
               for r in spans.collect()}
        # doc 1 holds the corpus-wide first occurrence of every prefix
        # span -> only doc 2's copy is reported
        assert got == {(2, 1, 61)}
        cut = {r.doc_id: r.text
               for r in D.cut_spans(docs, spans).collect()}
        orig = {r.doc_id: r.text for r in docs.collect()}
        assert cut[1] == orig[1]          # the kept copy
        assert cut[2] == orig[2][60:]     # the excised copy
        with __import__("pytest").raises(ValueError, match="keep="):
            D.repeated_spans(docs, keep="both")

    def test_span_plan_prunes_text_from_exchanges(self, spark):
        """Scale invariant: the one hash shuffle carries (id, pos, h1,
        h2) — the text column must never enter an Exchange (at 100 TB
        the explode multiplies rows by ~chars/doc; shipping text through
        it would multiply bytes too)."""
        from profet_spark.operators import dedup as D

        spans = D.repeated_spans(self._docs(spark), span=50)
        plan = spans._jdf.queryExecution().executedPlan().toString()
        exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
        assert exchanges and all("text" not in ln for ln in exchanges)


def test_drop_near_duplicate_images_pixel_mode(spark):
    """Pixel mode: a brightness-dimmed copy clusters with its original
    via the DCT pHash and only the minimum id survives; unrelated
    images and undecodable payloads are untouched/dropped cleanly."""
    import numpy as np
    import pandas as pd

    from profet_spark import imaging

    rng = np.random.default_rng(60)
    base = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    dim = np.clip(base.astype(np.float64) * 0.6, 0, 255).astype(np.uint8)
    other = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    pdf = pd.DataFrame({
        "image_id": ["a", "a_dim", "z", "bad"],
        "bytes": [imaging.encode_png(base), imaging.encode_png(dim),
                  imaging.encode_png(other), b"\x00garbage"],
        "fmt": ["png"] * 4,
    })
    df = spark.createDataFrame(pdf)
    kept = {r.image_id for r in
            dedup.drop_near_duplicate_images(df).collect()}
    # 'a' < 'a_dim' so 'a' is canonical; 'bad' never decodes so it can
    # never be anyone's duplicate and passes through
    assert kept == {"a", "z", "bad"}


def test_drop_near_duplicate_images_stored_hash_mode(spark):
    """hash_col mode: dedup over the stored phash column — bytes are
    never required (no bytes column at all here)."""
    from pyspark.sql import Row

    df = spark.createDataFrame([
        Row(image_id=1, phash=0b1111000011110000),
        Row(image_id=2, phash=0b1111000011110001),   # 1 bit from id 1
        Row(image_id=3, phash=-42),                  # far away
    ])
    kept = {r.image_id for r in dedup.drop_near_duplicate_images(
        df, hash_col="phash").collect()}
    assert kept == {1, 3}


def test_incremental_near_dup_equals_full_run_filtered(spark, sf_dir):
    """D11 == full D3 over store ∪ batch, filtered to batch-touching
    pairs — the incremental path must not invent or miss a single pair
    (band union == union banding; exact verify identical)."""
    from profet_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    store = docs.where(F.col("doc_id") % 10 != 0)
    ssig = dedup.minhash_signature_table(store)
    got = dedup.incremental_near_dup_pairs(batch, ssig, store).toPandas()
    full = dedup.minhash_lsh_pairs(docs).toPandas()
    bids = {r.doc_id for r in batch.select("doc_id").collect()}
    want = full[[a in bids or b in bids
                 for a, b in zip(full.id_a, full.id_b)]]
    key = ["id_a", "id_b"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s)
    for c in ["id_a", "id_b", "inter", "na", "nb"]:
        assert got_s[c].tolist() == want_s[c].tolist(), c
    assert (got_s["jaccard"] - want_s["jaccard"]).abs().max() <= 0


def test_incremental_near_dup_never_reshingles_store(spark, sf_dir):
    """The store contributes ONLY its signature rows: count the
    Generate (explode) nodes in the optimized plan — batch signature
    shingles, band hashes, candidate-verify shingles, and the pair-id
    explode — and pin that NO additional store-text shingle explode
    appears."""
    from profet_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    store = docs.where(F.col("doc_id") % 10 != 0)
    # control FIRST (before any cache exists — Spark's CacheManager
    # matches by canonical plan, so a later-built "lazy" twin would be
    # silently served from the cache): the uncached signature build
    # plans store-text shingle explodes
    lazy_plan = (dedup.incremental_near_dup_pairs(
        batch, dedup.minhash_signature_table(store), store,
        persist=False)._jdf.queryExecution().optimizedPlan().toString())
    ssig = dedup.minhash_signature_table(store).cache()
    ssig.count()  # materialized, as the S7-read production shape
    out = dedup.incremental_near_dup_pairs(batch, ssig, store,
                                           persist=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the cached signature table serves the store side. NOTE the
    # printed plan REPEATS the cached subtree inside every
    # InMemoryRelation block (Generates included), so a whole-string
    # Generate count ties with the control — count only the LIVE
    # prefix before the first InMemoryRelation marker: those are the
    # explodes Spark will actually execute outside the cache (batch
    # shingles / band hashes / verify / pair-id), and they must be
    # STRICTLY fewer than the control's total, because the store
    # re-shingle is served from the cache
    assert plan.count("InMemoryRelation") >= 1
    live = plan.split("InMemoryRelation", 1)[0]
    assert live.count("Generate") < lazy_plan.count("Generate")
    ssig.unpersist()


def test_incremental_near_dup_reingested_id_batch_wins(spark, sf_dir):
    """ADVICE r4: an id present in BOTH batch and store is a
    REPLACEMENT — the stale store signature/text rows must be
    anti-joined out, or the duplicate id contributes signature rows
    twice and the verify tier merges shingles across the two text
    versions. Pin: D11 with an overlapping id equals D11 over the
    store with that id already removed (batch wins)."""
    from profet_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    store = docs.where(F.col("doc_id") % 10 != 0)
    # poison the store with a STALE copy of a batch id: same id, a
    # different (duplicated-elsewhere) text — pre-fix this merged
    # shingle sets and invented pairs for the stale content
    victim = batch.limit(1)
    stale = victim.withColumn(
        "text", F.concat(F.lit("STALE VERSION "), F.col("text")))
    dirty_store = store.unionByName(stale)
    clean = dedup.incremental_near_dup_pairs(
        batch, dedup.minhash_signature_table(store), store,
        persist=False).toPandas()
    got = dedup.incremental_near_dup_pairs(
        batch, dedup.minhash_signature_table(dirty_store), dirty_store,
        persist=False).toPandas()
    key = ["id_a", "id_b"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = clean.sort_values(key).reset_index(drop=True)
    assert got_s[key + ["inter", "na", "nb"]].equals(
        want_s[key + ["inter", "na", "nb"]])


def test_persist_scope_releases_dedup_intermediates(spark, sf_dir):
    """VERDICT r4 #4: the pair operators — and the ANN operators, which
    persist their quantized corpus and query sides — persist
    multiply-referenced intermediates; inside a PersistScope they are all
    unpersisted on exit — no cached RDD blocks left behind once the
    output is materialized."""
    from profet_spark.operators import similarity
    from profet_spark.sources import load_table

    sc = spark.sparkContext
    spark.catalog.clearCache()
    base = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    docs = load_table(spark, sf_dir, "documents").limit(400)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    with dedup.PersistScope() as scope:
        pairs = dedup.minhash_lsh_pairs(docs)
        n_pairs = pairs.count()          # materialize inside the scope
        clusters = dedup.dup_clusters(pairs)
        n_clusters = clusters.count()
        assert len(scope.frames) >= 3    # sig/banded/cand (+ lbl)
        anns = [similarity.lsh_ann(emb, queries, k=3),
                similarity.ivf_ann(emb, queries, k=3, n_centroids=4)]
        n_anns = [a.count() for a in anns]
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    assert after <= base, "PersistScope left cached RDDs behind"
    # and the released frames still recompute correctly from source
    assert pairs.count() == n_pairs
    assert clusters.count() == n_clusters
    assert [a.count() for a in anns] == n_anns


def test_persist_scope_nests_and_is_opt_in(spark, sf_dir):
    """Without a scope the historical behavior stands (frames stay
    cached); nested scopes release only their own frames."""
    from profet_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    with dedup.PersistScope() as outer:
        dedup.minhash_lsh_pairs(docs).count()
        n_outer = len(outer.frames)
        with dedup.PersistScope() as inner:
            dedup.simhash_pairs(docs).count()
            assert len(inner.frames) >= 1
        assert len(outer.frames) == n_outer  # inner released its own


def test_persist_scope_is_per_thread(spark):
    """A scope open on another thread (Structured Streaming's
    foreachBatch runs on its own driver thread) neither receives this
    thread's frames nor hands its own to this thread's scope."""
    import threading

    mine, theirs = spark.range(1), spark.range(2)
    opened, registered = threading.Event(), threading.Event()
    seen = {}

    def other():
        seen["outer"] = dedup.PersistScope._active.scope
        with dedup.PersistScope() as scope:
            dedup._register(theirs)
            opened.set()
            registered.wait(30)
            seen["frames"] = list(scope.frames)

    with dedup.PersistScope() as scope:
        t = threading.Thread(target=other)
        t.start()
        assert opened.wait(30)
        dedup._register(mine)
        registered.set()
        t.join(30)
        assert not t.is_alive()
        assert len(scope.frames) == 1 and scope.frames[0] is mine
    assert seen["outer"] is None
    assert len(seen["frames"]) == 1 and seen["frames"][0] is theirs


def test_signature_store_ingest_two_day_replay(spark, sf_dir, tmp_path):
    """VERDICT r4 ask #7: two daily ingests through the signature store
    must surface exactly the pairs of the one-shot full run that touch
    either batch — and the store must accumulate every signature so no
    document is ever re-shingled."""
    from profet_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 300)
    day1 = docs.where(F.col("doc_id") % 3 == 0)
    day2 = docs.where(F.col("doc_id") % 3 == 1)
    rest = docs.where(F.col("doc_id") % 3 == 2)  # never ingested
    store = str(tmp_path / "sigstore")
    p1 = dedup.signature_store_ingest(
        spark, day1, store, ingest_ts="2025-01-01 00:00:00",
        persist=False).toPandas()
    p2 = dedup.signature_store_ingest(
        spark, day2, store, ingest_ts="2025-01-02 00:00:00",
        persist=False).toPandas()
    # oracle: full D3 over day1 ∪ day2, split by "touches day2"
    both = day1.unionByName(day2)
    full = dedup.minhash_lsh_pairs(both, persist=False).toPandas()
    d2_ids = {r.doc_id for r in day2.select("doc_id").collect()}
    want2 = full[[a in d2_ids or b in d2_ids
                  for a, b in zip(full.id_a, full.id_b)]]
    want1 = full[[a not in d2_ids and b not in d2_ids
                  for a, b in zip(full.id_a, full.id_b)]]
    key = ["id_a", "id_b"]
    for got, want in [(p1, want1), (p2, want2)]:
        g = got.sort_values(key).reset_index(drop=True)
        w = want.sort_values(key).reset_index(drop=True)
        assert g[key + ["inter", "na", "nb"]].reset_index(drop=True).equals(
            w[key + ["inter", "na", "nb"]].reset_index(drop=True))
    # the store holds exactly the ingested ids' signatures, bitwise
    # equal to a fresh computation
    from profet_spark.sources import partitioned as P

    ssig = P.scan_pruned(spark, store + "/signatures", ts_col="ingest_ts",
                         entity_col="id")
    fresh = dedup.minhash_signature_table(both).toPandas()
    got_sig = ssig.select("id", "sig").toPandas()
    assert len(got_sig) == len(fresh) == both.count()
    m = got_sig.merge(fresh, on="id", suffixes=("_s", "_f"))
    assert len(m) == len(fresh)
    assert all(list(a) == list(b) for a, b in zip(m.sig_s, m.sig_f))
    assert rest.count() > 0  # the split really left an uningested tier


def test_signature_store_ingest_reingest_replaces(spark, sf_dir, tmp_path):
    """A re-ingested id is a replacement: the store keeps ONE signature
    row (the new day's), and the pair search reflects the new text."""
    from profet_spark.sources import load_table, partitioned as P

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 120)
    store = str(tmp_path / "sigstore")
    dedup.signature_store_ingest(
        spark, docs, store, ingest_ts="2025-01-01 00:00:00",
        persist=False)
    # re-ingest one id with different text on day 2
    victim = docs.limit(1).withColumn(
        "text", F.concat(F.lit("REWRITTEN "), F.col("text")))
    dedup.signature_store_ingest(
        spark, victim, store, ingest_ts="2025-01-02 00:00:00",
        persist=False)
    ssig = P.scan_pruned(spark, store + "/signatures",
                         ts_col="ingest_ts", entity_col="id")
    vid = victim.select("doc_id").collect()[0][0]
    rows = ssig.where(F.col("id") == vid).collect()
    assert len(rows) == 1  # old-day row replaced, not duplicated
    want = dedup.minhash_signature_table(victim).collect()[0]["sig"]
    assert list(rows[0]["sig"]) == list(want)


def test_signature_store_ingest_duplicate_batch_ids_raise(spark, sf_dir,
                                                          tmp_path):
    """Round-5 review finding: a batch carrying the same id twice would
    min-merge both texts' shingles into one bogus signature and break
    the S8 key-unique contract — raise loudly instead."""
    from profet_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 50)
    dup = docs.unionByName(docs.limit(1))
    with pytest.raises(ValueError, match="more than once"):
        dedup.signature_store_ingest(
            spark, dup, str(tmp_path / "s"),
            ingest_ts="2025-01-01 00:00:00", persist=False)
    # opting out skips the probe (feed guarantees uniqueness upstream)
    clean = dedup.signature_store_ingest(
        spark, docs, str(tmp_path / "s2"),
        ingest_ts="2025-01-01 00:00:00", persist=False,
        validate_unique=False)
    assert clean.count() >= 0


def test_signature_store_ingest_random_splits_property(spark, sf_dir,
                                                       tmp_path_factory):
    """Hypothesis property (round 5): for RANDOM two-day partitions of
    the corpus — including an empty day and an everything-day — the
    two ingests' pair union must equal the one-shot full D3 run, and
    the store must hold exactly one signature row per ingested id."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hst

    from profet_spark.sources import load_table, partitioned as P

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 150).select("doc_id", "text")
    all_ids = [r.doc_id for r in docs.select("doc_id").collect()]
    full = dedup.minhash_lsh_pairs(docs, persist=False).toPandas()
    key = ["id_a", "id_b", "inter", "na", "nb"]

    @settings(max_examples=4, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(day1_frac=hst.sampled_from([0.0, 0.3, 0.7, 1.0]),
           salt=hst.integers(0, 10**6))
    def run(day1_frac, salt):
        cut = int(len(all_ids) * day1_frac)
        import random
        rng = random.Random(salt)
        ids = list(all_ids)
        rng.shuffle(ids)
        d1_ids = set(ids[:cut])
        day1 = docs.where(F.col("doc_id").isin(list(d1_ids) or [-1]))
        day2 = docs.where(~F.col("doc_id").isin(list(d1_ids) or [-1]))
        store = str(tmp_path_factory.mktemp("rnd_store")) + "/s"
        p1 = dedup.signature_store_ingest(
            spark, day1, store, ingest_ts="2025-01-01 00:00:00",
            persist=False).toPandas()
        p2 = dedup.signature_store_ingest(
            spark, day2, store, ingest_ts="2025-01-02 00:00:00",
            persist=False).toPandas()
        both = (pd.concat([p1, p2]).sort_values(key[:2])
                .reset_index(drop=True))
        want = full.sort_values(key[:2]).reset_index(drop=True)
        assert both[key].equals(want[key]), (day1_frac, salt)
        ssig = P.scan_pruned(spark, store + "/signatures",
                             ts_col="ingest_ts", entity_col="id")
        assert ssig.count() == len(all_ids)
        assert ssig.select("id").distinct().count() == len(all_ids)

    run()


def test_signature_store_reingest_random_overlap_property(
        spark, sf_dir, tmp_path_factory):
    """Hypothesis property (round 5): with a RANDOM subset of day-1 ids
    re-ingested on day 2 carrying mutated text, the day-2 pairs must
    equal the full D3 over the FINAL corpus (day-1 survivors ∪ day-2
    versions — batch wins) restricted to day-2-touching pairs, and the
    store must end holding exactly the final corpus's signatures."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as hst

    from profet_spark.sources import load_table, partitioned as P

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 120).select("doc_id", "text")
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    half = len(ids) // 2
    d1_ids, d2_new_ids = set(ids[:half]), set(ids[half:])

    @settings(max_examples=3, deadline=None,
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.function_scoped_fixture])
    @given(n_reingest=hst.integers(0, 10), salt=hst.integers(0, 10**6))
    def run(n_reingest, salt):
        import random
        rng = random.Random(salt)
        re_ids = set(rng.sample(sorted(d1_ids), min(n_reingest, half)))
        day1 = docs.where(F.col("doc_id").isin(list(d1_ids)))
        day2 = (docs.where(F.col("doc_id").isin(
                    list(d2_new_ids | re_ids) or [-1]))
                .withColumn("text", F.when(
                    F.col("doc_id").isin(list(re_ids) or [-1]),
                    F.concat(F.lit("v2 rewrite "), F.col("text")))
                    .otherwise(F.col("text"))))
        store = str(tmp_path_factory.mktemp("ri_store")) + "/s"
        dedup.signature_store_ingest(
            spark, day1, store, ingest_ts="2025-01-01 00:00:00",
            persist=False)
        p2 = dedup.signature_store_ingest(
            spark, day2, store, ingest_ts="2025-01-02 00:00:00",
            persist=False).toPandas()
        # oracle: full D3 over the final corpus, day-2-touching pairs
        final = (docs.where(F.col("doc_id").isin(
                     list(d1_ids - re_ids) or [-1]))
                 .unionByName(day2))
        full = dedup.minhash_lsh_pairs(final, persist=False).toPandas()
        d2 = d2_new_ids | re_ids
        want = full[[a in d2 or b in d2
                     for a, b in zip(full.id_a, full.id_b)]]
        key = ["id_a", "id_b", "inter", "na", "nb"]
        g = p2.sort_values(key[:2]).reset_index(drop=True)
        w = want.sort_values(key[:2]).reset_index(drop=True)
        assert g[key].equals(w[key].reset_index(drop=True)), (n_reingest,
                                                              salt)
        # store end-state == signatures of the final corpus, one per id
        ssig = (P.scan_pruned(spark, store + "/signatures",
                              ts_col="ingest_ts", entity_col="id")
                .select("id", "sig").toPandas())
        fresh = dedup.minhash_signature_table(final).toPandas()
        assert len(ssig) == len(fresh) == len(ids)
        m = (ssig.sort_values("id").reset_index(drop=True)
             .merge(fresh, on="id", suffixes=("_s", "_f")))
        assert all(list(a) == list(b) for a, b in zip(m.sig_s, m.sig_f))

    run()


def test_signature_store_short_docs_never_stored(spark, tmp_path):
    """Store invariant: text-ids == signature-ids. Docs too short to
    shingle (no signature rows) must not leave text rows either —
    otherwise a later long re-ingest of that id would duplicate its
    text (the signature-keyed re-ingest probe cannot see text-only
    ids) and the verify tier would merge shingles across versions."""
    from profet_spark.sources import partitioned as P

    long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    long2 = "one two three four five six seven eight nine ten eleven"
    batch1 = spark.createDataFrame(
        [(1, long1), (2, "tiny"), (3, long2)], ["doc_id", "text"])
    store = str(tmp_path / "s")
    dedup.signature_store_ingest(
        spark, batch1, store, ingest_ts="2025-01-01 00:00:00",
        persist=False)
    tids = {r.id for r in P.scan_pruned(
        spark, store + "/text", ts_col="ingest_ts",
        entity_col="id").select("id").collect()}
    sids = {r.id for r in P.scan_pruned(
        spark, store + "/signatures", ts_col="ingest_ts",
        entity_col="id").select("id").collect()}
    assert tids == sids == {1, 3}  # the short doc stored NOTHING
    # re-ingest id 2 as a LONG doc: fresh ingest, exactly one row each
    batch2 = spark.createDataFrame(
        [(2, long1 + " extended with more words here")],
        ["doc_id", "text"])
    dedup.signature_store_ingest(
        spark, batch2, store, ingest_ts="2025-01-02 00:00:00",
        persist=False)
    trows = (P.scan_pruned(spark, store + "/text", ts_col="ingest_ts",
                           entity_col="id")
             .where(F.col("id") == 2).collect())
    assert len(trows) == 1
