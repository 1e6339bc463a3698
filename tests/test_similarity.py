"""Similarity search: exact brute-force top-k vs numpy; LSH-ANN recall."""

import numpy as np
import pandas as pd
import pytest

from profet_spark.operators import similarity

DIM = 16
N = 120


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(42)
    # clustered corpus so ANN buckets are meaningful
    centers = rng.normal(size=(6, DIM))
    vecs = (centers[rng.integers(0, 6, N)] + rng.normal(scale=0.3, size=(N, DIM)))
    vecs = vecs.astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(N), "embedding": list(map(list, vecs))})
    return spark.createDataFrame(pdf), vecs


def _numpy_topk(vecs, qids, k):
    q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5)
    n = (q * q).sum(axis=1)
    cos = (q @ q.T) / np.sqrt(np.outer(n, n))
    out = {}
    for qi in qids:
        order = sorted((-cos[qi, j], j) for j in range(len(vecs)) if j != qi)
        out[qi] = [j for _, j in order[:k]]
    return out, cos


def test_cosine_topk_matches_numpy(emb):
    df, vecs = emb
    qids = list(range(10))
    got = similarity.cosine_topk(df, df.where(df.vec_id < 10), k=5).toPandas()
    want, cos = _numpy_topk(vecs, qids, 5)
    for qi in qids:
        g = got[got.query_id == qi].sort_values("rank")
        assert g.neighbor_id.tolist() == want[qi]
        np.testing.assert_allclose(
            g.cosine.to_numpy(), [cos[qi, j] for j in want[qi]], rtol=1e-12)


def test_lsh_ann_recall(emb):
    """Bucketed ANN must recover most true neighbors on clustered data —
    the scale-path contract (recall, not exactness)."""
    df, vecs = emb
    qids = list(range(20))
    ann = similarity.lsh_ann(df, df.where(df.vec_id < 20), k=5, dim=DIM).toPandas()
    want, _ = _numpy_topk(vecs, qids, 5)
    hits = total = 0
    for qi in qids:
        got = set(ann[ann.query_id == qi].neighbor_id)
        hits += len(got & set(want[qi]))
        total += 5
    assert hits / total >= 0.6, f"ANN recall {hits/total:.2f} too low"


def test_lsh_ann_subset_of_exact_ordering(emb):
    """Within returned candidates the ranking must agree with exact cosine."""
    df, vecs = emb
    ann = similarity.lsh_ann(df, df.where(df.vec_id < 5), k=5, dim=DIM).toPandas()
    for qi, grp in ann.groupby("query_id"):
        ranked = grp.sort_values("rank").cosine.to_numpy()
        assert (np.diff(ranked) <= 1e-15).all()


def test_cosine_topk_strategies_bit_identical(emb):
    """The arrow matmul path and the JVM HOF-fold path are the same
    operator: identical rows, bitwise-identical cosines."""
    df, _ = emb
    q = df.where(df.vec_id < 10)
    a = (similarity.cosine_topk(df, q, k=5, strategy="arrow")
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    b = (similarity.cosine_topk(df, q, k=5, strategy="jvm")
         .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    assert a.query_id.tolist() == b.query_id.tolist()
    assert a.neighbor_id.tolist() == b.neighbor_id.tolist()
    assert (a.cosine.to_numpy() == b.cosine.to_numpy()).all()  # bitwise


def test_lsh_signature_jvm_arrow_parity(spark, emb):
    """The Arrow matmul signature kernel and the JVM HOF fold reference
    form compute the SAME 64-bit signature, bit for bit (incl. bit 63 /
    two's complement)."""
    from pyspark.sql import functions as F
    df, vecs = emb
    qd = similarity._quantized(df.limit(30), "vec_id", "embedding")
    jvm = (qd.select("id", similarity._signature_bits(F.col("q"), DIM).alias("sig"))
           .toPandas().set_index("id").sig)
    q = np.floor(vecs[:30].astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    arrow = similarity._pack_signatures((q @ similarity._planes_matrix(DIM).T) > 0)
    for i in jvm.index:
        assert int(jvm[i]) == int(arrow[i]), f"sig mismatch at {i}"


def test_lsh_candidate_fraction_small():
    """Scale contract: on unclustered data the 8x8-bit banding must touch
    ~8/256 of the corpus per query, NOT the ~1/4 the old 4-bit digests
    gave. 10k random vectors, candidate fraction asserted << corpus/4."""
    rng = np.random.default_rng(3)
    n = 10_000
    vecs = rng.normal(size=(n, DIM))
    q = np.floor(vecs * 1e6 + 0.5).astype(np.int64)
    sig = similarity._pack_signatures(
        (q @ similarity._planes_matrix(DIM).T) > 0).view(np.uint64)
    bb = similarity.ANN_BAND_BITS
    mask = np.uint64((1 << bb) - 1)
    digests = np.stack([(sig >> np.uint64(bb * b)) & mask
                        for b in range(similarity.ANN_BANDS)], axis=1)
    fractions = []
    for qi in range(20):
        cand = np.zeros(n, dtype=bool)
        for b in range(similarity.ANN_BANDS):
            cand |= digests[:, b] == digests[qi, b]
        cand[qi] = False
        fractions.append(cand.sum() / n)
    mean_frac = float(np.mean(fractions))
    # random data: ~8/256 = 3.1% expected; the old 4-bit scheme gave ~25%
    assert mean_frac < 0.25 / 4, f"candidate fraction {mean_frac:.3f} too high"


def test_lsh_ann_max_bucket_noop_when_loose(emb):
    df, _ = emb
    q = df.where(df.vec_id < 10)
    base = similarity.lsh_ann(df, q, k=5, dim=DIM).toPandas()
    capped = similarity.lsh_ann(df, q, k=5, dim=DIM, max_bucket=10**6).toPandas()
    cols = ["query_id", "neighbor_id"]
    assert sorted(map(tuple, base[cols].values.tolist())) == \
        sorted(map(tuple, capped[cols].values.tolist()))


def test_ivf_kmeans_centroids_deterministic(emb):
    """Two independent trainings on the same corpus must produce identical
    centroid matrices (seed-free determinism contract)."""
    import numpy as np
    df, _ = emb
    qdf = similarity._quantized(df, "vec_id", "embedding")
    a, _ = similarity._train_centroids_kmeans(qdf, 8, sample_size=64)
    b, _ = similarity._train_centroids_kmeans(qdf, 8, sample_size=64)
    assert np.array_equal(a, b)


def _plan_nodes(node):
    """Pre-order walk of a JVM physical plan, through the AQE wrapper."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def test_lsh_ann_exchanges_never_carry_vectors(emb):
    """Scale invariant: candidate pairs are deduped while still narrow.
    No exchange under the (qid, cid) distinct — the band join and the
    distinct itself — may carry a vector column (q, nrm, embedding);
    vectors are attached only to the deduped pairs."""
    df, _ = emb
    plan = (similarity.lsh_ann(df, df.where(df.vec_id < 5), k=5, dim=DIM)
            ._jdf.queryExecution().executedPlan())

    def names(node):
        out = node.output()
        return [out.apply(i).name() for i in range(out.size())]

    distinct = next(n for n in _plan_nodes(plan)
                    if n.nodeName() == "HashAggregate"
                    and names(n) == ["qid", "cid"])
    exchanges = [n for n in _plan_nodes(distinct)
                 if "Exchange" in n.nodeName()]
    assert exchanges
    for n in exchanges:
        assert not {"q", "nrm", "embedding"} & set(names(n)), n.toString()


def test_ivf_assignment_partition_pruning(spark, emb, tmp_path):
    """The warehouse-scale IVF story, executed: write the centroid-assigned
    corpus PARTITIONED BY cid, then scan only the probed buckets — the
    probe must appear in the scan's PartitionFilters (directory pruning)
    and return exactly the rows assigned to those centroids."""
    import numpy as np
    from pyspark.sql import functions as F
    df, _ = emb
    qdf = similarity._quantized(df, "vec_id", "embedding")
    Cm, cnrm = similarity._train_centroids_kmeans(qdf, 8, sample_size=64)

    def assign(batches):
        import pandas as pd
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.asarray([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            nrm = pdf["nrm"].to_numpy(dtype=np.float64)
            cos = (Q @ Cm.T).astype(np.float64) / np.sqrt(nrm[:, None] * cnrm[None, :])
            out = pdf[["id"]].copy()
            out["cid"] = np.argmax(cos, axis=1).astype("int32")
            yield out

    assigned = qdf.mapInPandas(assign, "id bigint, cid int")
    out = str(tmp_path / "ivf_index")
    assigned.write.mode("overwrite").partitionBy("cid").parquet(out)

    probe = [0, 3]
    scan = spark.read.parquet(out).where(F.col("cid").isin(probe))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "cid" in plan.split("PartitionFilters", 1)[1].split("]")[0], (
        "probe must prune at the directory level")
    want = set(r.id for r in assigned.where(F.col("cid").isin(probe)).collect())
    got = set(r.id for r in scan.collect())
    assert got == want and got


def test_lsh_ann_dim_mismatch_fails_loudly(emb):
    """A wrong dim must raise, not silently bucket-collapse (ADVICE)."""
    df, _ = emb
    with pytest.raises(ValueError, match="dim"):
        similarity.lsh_ann(df, df.where(df.vec_id < 3), k=3, dim=DIM + 7)


def _ivf_recall(df, vecs, want, centroids):
    ann = similarity.ivf_ann(df, df.where(df.vec_id < 20), k=5,
                             n_centroids=12, n_probe=3,
                             centroids=centroids).toPandas()
    hits = sum(len(set(ann[ann.query_id == qi].neighbor_id) & set(want[qi]))
               for qi in range(20))
    return hits / (20 * 5), ann


def test_ivf_ann_recall(emb):
    """IVF bucket probing must recover most true neighbors on clustered
    data; trained (k-means) centroids must beat the lowest-id stub; within
    returned candidates, ranking matches exact cosine."""
    df, vecs = emb
    qids = list(range(20))
    want, cos = _numpy_topk(vecs, qids, 5)
    km_recall, ann = _ivf_recall(df, vecs, want, "kmeans")
    stub_recall, _ = _ivf_recall(df, vecs, want, "lowest_id")
    assert km_recall >= 0.9, f"IVF kmeans recall {km_recall:.2f} too low"
    assert km_recall >= stub_recall, (
        f"kmeans recall {km_recall:.2f} < lowest-id stub {stub_recall:.2f}")
    for qi, grp in ann.groupby("query_id"):
        ranked = grp.sort_values("rank").cosine.to_numpy()
        assert (np.diff(ranked) <= 1e-15).all()
    # candidate cosines are the exact scheme: spot-check against numpy
    for _, r in ann.head(10).iterrows():
        np.testing.assert_allclose(r.cosine, cos[int(r.query_id), int(r.neighbor_id)],
                                   rtol=1e-12)


def test_ivf_ann_auto_centroids_recall(emb):
    """n_centroids='auto' (~sqrt(corpus) cells) must keep recall in the
    same band as the explicit setting — the default can't under-partition
    (VERDICT r2 #7)."""
    df, vecs = emb
    qids = list(range(20))
    want, _ = _numpy_topk(vecs, qids, 5)
    ann = similarity.ivf_ann(df, df.where(df.vec_id < 20), k=5,
                             n_centroids="auto", n_probe=3).toPandas()
    hits = sum(len(set(ann[ann.query_id == qi].neighbor_id) & set(want[qi]))
               for qi in qids)
    assert hits / (20 * 5) >= 0.6, f"auto-IVF recall {hits/100:.2f} too low"


def test_ivf_ann_bad_n_centroids_raises(emb):
    df, _ = emb
    with pytest.raises(ValueError, match="n_centroids"):
        similarity.ivf_ann(df, df.where(df.vec_id < 3), n_centroids="sqrt")


def test_ann_query_side_collect_is_bounded(emb):
    """An oversized query set must fail with a clear error, not a driver
    OOM: the guard reads at most max_queries+1 rows (ADVICE r2)."""
    df, _ = emb
    with pytest.raises(ValueError, match="query side exceeds"):
        similarity.cosine_topk(df, df, k=3, max_queries=10)


def test_lsh_ann_distributed_max_bucket_and_empty_query(emb):
    """max_bucket drops oversized corpus bands (results stay a valid
    subset: every surviving (query, neighbor) cosine matches the exact
    numpy value); an empty query side yields an empty, correctly-typed
    frame from both LSH and IVF."""
    df, vecs = emb
    q = df.where(df.vec_id < 8)
    got = similarity.lsh_ann(df, q, k=5, dim=DIM, max_bucket=10).toPandas()
    _, cos = _numpy_topk(vecs, range(8), 5)
    for row in got.itertuples():
        assert row.cosine == pytest.approx(
            cos[int(row.query_id), int(row.neighbor_id)], abs=1e-12)
    assert (got.groupby("query_id")["rank"].apply(
        lambda s: list(s) == list(range(1, len(s) + 1)))).all()

    no_queries = df.where(df.vec_id < 0)
    for empty in (
        similarity.lsh_ann(df, no_queries, k=5, dim=DIM).toPandas(),
        similarity.ivf_ann(df, no_queries, k=3, n_centroids=4).toPandas(),
    ):
        assert empty.empty
        assert list(empty.columns) == ["query_id", "neighbor_id", "cosine", "rank"]


def test_zero_norm_vectors_excluded_everywhere(spark):
    """A vector that quantizes to all zeros (every |coord| < 0.5e-6) has
    no direction: its cosine is 0/0 = NaN, which Spark's descending sort
    ranks FIRST while numpy's lexsort ranks last. Contract: zero-norm
    rows join no similarity result, as query or neighbor, in every
    strategy (mirrored by the oracles' HAVING nrm > 0)."""
    from profet_spark.operators import dedup

    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(20, DIM)).astype(np.float32)
    vecs[7] = 1e-9  # quantizes to exact zeros
    pdf = pd.DataFrame({"vec_id": range(20), "embedding": list(map(list, vecs))})
    df = spark.createDataFrame(pdf)
    q = df.where(df.vec_id < 10)

    arrow = (similarity.cosine_topk(df, q, k=25, strategy="arrow")
             .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    jvm = (similarity.cosine_topk(df, q, k=25, strategy="jvm")
           .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(arrow, jvm)
    assert not arrow.cosine.isna().any()
    assert 7 not in set(arrow.query_id) and 7 not in set(arrow.neighbor_id)

    for res in (
        similarity.lsh_ann(df, q, k=25).toPandas(),
        similarity.ivf_ann(df, q, k=25, n_centroids=2, n_probe=2).toPandas(),
    ):
        assert not res.cosine.isna().any()
        assert 7 not in set(res.query_id) and 7 not in set(res.neighbor_id)

    pairs = dedup.embedding_dup_pairs(df, threshold=-2.0).toPandas()
    assert not pairs.cosine.isna().any()
    assert 7 not in set(pairs.id_a) and 7 not in set(pairs.id_b)
    lsh_pairs = dedup.embedding_dup_pairs_lsh(df, threshold=-2.0).toPandas()
    assert not lsh_pairs.cosine.isna().any()
    assert 7 not in set(lsh_pairs.id_a) and 7 not in set(lsh_pairs.id_b)


def test_ivf_n_centroids_zero_raises(emb):
    df, _ = emb
    q = df.where(df.vec_id < 3)
    with pytest.raises(ValueError, match="n_centroids must be > 0"):
        similarity.ivf_ann(df, q, n_centroids=0)
    with pytest.raises(ValueError, match="n_centroids"):
        similarity.ivf_ann(df, q, n_centroids=True)


# --- N4 product quantization: compressed store + ADC top-k ---


def _pq_numpy(vecs, m, n_codes):
    """Reference: lowest_id codebooks, encode argmin, per-query LUTs."""
    q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    d_sub = q.shape[1] // m
    S = q.reshape(len(q), m, d_sub)
    CB = S[:n_codes].transpose(1, 0, 2)          # (m, c, d_sub), id order
    codes = np.empty((len(q), m), dtype=np.int64)
    for s in range(m):
        d2 = ((S[:, s, None, :] - CB[s][None, :, :]) ** 2).sum(-1)
        codes[:, s] = d2.argmin(axis=1)          # first-min: lowest code
    return q, S, CB, codes


def test_pq_encode_matches_numpy(emb):
    df, vecs = emb
    got = similarity.pq_encode(df, m=8, codebooks="lowest_id").toPandas()
    _, _, _, codes = _pq_numpy(vecs, 8, 256)
    got = got.sort_values("id").reset_index(drop=True)
    assert (np.stack(got.codes.to_numpy()) == codes[got.id]).all()


def test_pq_topk_adc_matches_numpy(emb):
    """Pure-ADC tier: (neighbor set, exact integer distance, rank) all
    equal the numpy reference — the approximation is deterministic."""
    df, vecs = emb
    got = similarity.pq_topk(df, df.where(df.vec_id < 10), k=5,
                             codebooks="lowest_id").toPandas()
    _, S, CB, codes = _pq_numpy(vecs, 8, 256)
    for qi in range(10):
        lut = np.stack([((S[qi, s][None, :] - CB[s]) ** 2).sum(-1)
                        for s in range(8)])       # (m, c)
        adc = lut[np.arange(8)[None, :], codes].sum(axis=1)
        ids = np.arange(len(vecs))
        mask = ids != qi
        order = np.lexsort((ids[mask], adc[mask]))[:5]
        want = list(zip(ids[mask][order], adc[mask][order], range(1, 6)))
        g = got[got.query_id == qi].sort_values("rank")
        assert list(zip(g.neighbor_id, g.dist, g["rank"])) == \
            [(int(a), int(b), r) for a, b, r in want]


def test_pq_rerank_is_exact_l2_and_recovers_recall(emb):
    """rerank tier: distances equal the exact full-dim int64 L2, and
    recall@k vs exact L2 brute force is >= the pure-ADC tier's (and high
    in absolute terms on the clustered fixture)."""
    df, vecs = emb
    q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5).astype(np.int64)

    def exact_topk(qi, k=5):
        d2 = ((q - q[qi]) ** 2).sum(axis=1)
        ids = np.arange(len(q))
        mask = ids != qi
        order = np.lexsort((ids[mask], d2[mask]))[:k]
        return ids[mask][order], d2[mask][order]

    adc = similarity.pq_topk(df, df.where(df.vec_id < 10), k=5).toPandas()
    rr = similarity.pq_topk(df, df.where(df.vec_id < 10), k=5,
                            rerank=50).toPandas()
    hits_adc = hits_rr = 0
    for qi in range(10):
        want_ids, want_d2 = exact_topk(qi)
        hits_adc += len(set(want_ids)
                        & set(adc[adc.query_id == qi].neighbor_id))
        g = rr[rr.query_id == qi]
        hits_rr += len(set(want_ids) & set(g.neighbor_id))
        # every rerank distance IS the exact L2 of that pair
        for _, r in g.iterrows():
            d2 = int(((q[int(r.neighbor_id)] - q[qi]) ** 2).sum())
            assert int(r.dist) == d2
    assert hits_rr >= hits_adc
    assert hits_rr >= 45  # >=90% recall@5 with rerank on clustered data


def test_pq_validation_and_plan(emb):
    df, vecs = emb
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_encode(df, m=7)
    with pytest.raises(ValueError, match="rerank"):
        similarity.pq_topk(df, df.where(df.vec_id < 5), k=5, rerank=3)
    with pytest.raises(ValueError, match="codebooks"):
        similarity.pq_encode(df, codebooks="nope")
    # the compressed store is built with ZERO shuffles (scan -> kernel)
    plan = (similarity.pq_encode(df, codebooks="lowest_id")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_ivf_pq_full_probe_equals_pq(emb):
    """n_probe == n_centroids disables pruning: IVF-PQ must equal the
    plain PQ ADC result bitwise (same codebooks, same arithmetic)."""
    df, _ = emb
    a = similarity.ivf_pq_topk(df, df.where(df.vec_id < 10), k=5,
                               n_centroids=4, n_probe=4,
                               coarse="lowest_id",
                               codebooks="lowest_id").toPandas()
    b = similarity.pq_topk(df, df.where(df.vec_id < 10), k=5,
                           codebooks="lowest_id").toPandas()
    key = ["query_id", "neighbor_id", "dist", "rank"]
    assert sorted(map(tuple, a[key].values.tolist())) == \
        sorted(map(tuple, b[key].values.tolist()))


def test_ivf_pq_recall_and_rerank(emb):
    """Production defaults (kmeans coarse + codebooks) on the clustered
    fixture: pruned-probe recall vs exact L2 is meaningful, and the
    rerank tier's distances are the exact full-dim int64 L2."""
    df, vecs = emb
    q = np.floor(vecs.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    rr = similarity.ivf_pq_topk(df, df.where(df.vec_id < 10), k=5,
                                n_centroids=6, n_probe=3,
                                rerank=30).toPandas()
    hits = 0
    for qi in range(10):
        d2 = ((q - q[qi]) ** 2).sum(axis=1)
        ids = np.arange(len(q))
        mask = ids != qi
        order = np.lexsort((ids[mask], d2[mask]))[:5]
        want = set(ids[mask][order])
        g = rr[rr.query_id == qi]
        hits += len(want & set(g.neighbor_id))
        for _, r in g.iterrows():
            assert int(r.dist) == int(((q[int(r.neighbor_id)] - q[qi]) ** 2).sum())
    # 3-of-6 clustered cells probed: the true cluster is found
    assert hits >= 40  # >=80% recall@5


def test_ivf_pq_validation(emb):
    df, _ = emb
    with pytest.raises(ValueError, match="rerank"):
        similarity.ivf_pq_topk(df, df.where(df.vec_id < 5), k=5, rerank=2)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.ivf_pq_topk(df, df.where(df.vec_id < 5), m=7)


def test_ivf_pq_encode_matches_numpy_and_plan(emb):
    """Index build: (cid, codes) equal the numpy reference under
    lowest_id coarse+codebooks, and the whole build is zero-shuffle."""
    df, vecs = emb
    idx = similarity.ivf_pq_encode(df, n_centroids=4, coarse="lowest_id",
                                   codebooks="lowest_id")
    plan = idx._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = idx.toPandas().sort_values("id").reset_index(drop=True)
    q, S, CB, codes = _pq_numpy(vecs, 8, 256)
    CC = q[:4]
    cd2 = ((q[:, None, :] - CC[None, :, :]) ** 2).sum(-1)
    assert (got.cid.to_numpy() == cd2.argmin(axis=1)[got.id]).all()
    assert (np.stack(got.codes.to_numpy()) == codes[got.id]).all()


def test_ivf_pq_index_partition_pruning(spark, emb, tmp_path):
    """The persisted index story, executed: write partitionBy('cid'),
    probe two cells — the filter must reach PartitionFilters (directory
    pruning) and return exactly those cells' rows."""
    from pyspark.sql import functions as F
    df, _ = emb
    idx = similarity.ivf_pq_encode(df, n_centroids=4, coarse="lowest_id",
                                   codebooks="lowest_id")
    root = str(tmp_path / "pq_index")
    idx.write.partitionBy("cid").parquet(root)
    back = spark.read.parquet(root).where(F.col("cid").isin(0, 2))
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
    want = idx.where(F.col("cid").isin(0, 2)).count()
    assert back.count() == want > 0


def test_ivf_pq_persisted_probe_equals_inmemory(spark, emb, tmp_path):
    """The serving path: write_ivf_pq_index + ivf_pq_probe over the
    persisted artifact equals ivf_pq_topk bitwise; the probed scan's
    PartitionFilters prove only the probed cells' directories are read;
    the rerank tier works from the store + corpus vectors."""
    from pyspark.sql import functions as F
    df, vecs = emb
    root = str(tmp_path / "ivfpq_store")
    stats = similarity.write_ivf_pq_index(
        df, root, n_centroids=4, coarse="lowest_id", codebooks="lowest_id")
    assert stats == {"rows": N, "cells": 4}
    q = df.where(df.vec_id < 10)
    probe = similarity.ivf_pq_probe(spark, root, q, k=5, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
    mem = similarity.ivf_pq_topk(df, q, k=5, n_centroids=4, n_probe=2,
                                 coarse="lowest_id", codebooks="lowest_id")
    key = ["query_id", "neighbor_id", "dist", "rank"]
    assert sorted(map(tuple, probe.toPandas()[key].values.tolist())) == \
        sorted(map(tuple, mem.toPandas()[key].values.tolist()))
    # rerank from the store: exact full-dim L2 distances
    qn = np.floor(vecs.astype(np.float64) * 1e6 + 0.5).astype(np.int64)
    rr = similarity.ivf_pq_probe(spark, root, q, k=5, n_probe=2,
                                 rerank=20, corpus=df).toPandas()
    for _, r in rr.iterrows():
        want = int(((qn[int(r.neighbor_id)] - qn[int(r.query_id)]) ** 2).sum())
        assert int(r.dist) == want
    with pytest.raises(ValueError, match="requires the corpus"):
        similarity.ivf_pq_probe(spark, root, q, k=5, rerank=20)
