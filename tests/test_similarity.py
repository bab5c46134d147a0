"""Similarity search over the driver's embeddings table: broadcast
top-k vs numpy oracle, expression top-k parity, IVF recall."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark.functions import similarity as sim

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def _numpy_topk(pdf, qvec, k):
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    sims = (mat @ qvec) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qvec))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -sims))
    return pdf["vec_id"].to_numpy()[order[:k]], np.sort(sims)[::-1][:k]


def test_topk_expr_matches_numpy(emb):
    pdf = emb.toPandas()
    q = np.asarray(pdf["embedding"][7], dtype=np.float64)
    got = sim.cosine_topk_expr(emb, list(q), k=5).collect()
    want_ids, want_sims = _numpy_topk(pdf, q, 5)
    assert [r["vec_id"] for r in got] == list(want_ids)
    np.testing.assert_allclose([r["cosine"] for r in got], want_sims, rtol=1e-7)
    assert got[0]["vec_id"] == 7 and got[0]["cosine"] == pytest.approx(1.0)


def test_topk_broadcast_matches_expr(spark, emb):
    queries = emb.select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).filter("query_id % 100 = 3")
    got = sim.cosine_topk_broadcast(emb, queries, k=5)
    gpdf = got.toPandas()
    pdf = emb.toPandas()
    for qid in gpdf["query_id"].unique():
        q = np.asarray(pdf.loc[pdf.vec_id == qid, "embedding"].iloc[0], dtype=np.float64)
        want_ids, _ = _numpy_topk(pdf, q, 5)
        rows = gpdf[gpdf.query_id == qid].sort_values("rank")
        assert list(rows["vec_id"]) == list(want_ids)


def test_topk_broadcast_parallelism_invariant(spark, emb):
    """Same ids and ranks at any partitioning.  Cosine VALUES are
    compared to ulp tolerance, not bit-equality: the per-batch matmul
    goes through BLAS, whose blocking (and thus float accumulation
    order) depends on the batch's row count, so different partition
    boundaries legitimately move the last ulp."""
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding").limit(3)
    a = sim.cosine_topk_broadcast(emb.repartition(1), queries, k=4).collect()
    b = sim.cosine_topk_broadcast(emb.repartition(7), queries, k=4).collect()
    key = lambda r: (r["query_id"], r["rank"])
    a, b = sorted(a, key=key), sorted(b, key=key)
    assert [(r["query_id"], r["rank"], r["vec_id"]) for r in a] == \
        [(r["query_id"], r["rank"], r["vec_id"]) for r in b]
    np.testing.assert_allclose([r["cosine"] for r in a],
                               [r["cosine"] for r in b], rtol=1e-12)


def test_ivf_recall(spark, emb):
    queries = emb.select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).filter("query_id % 100 = 3")
    exact = sim.cosine_topk_broadcast(emb, queries, k=5).toPandas()
    # full probe = exact
    full = sim.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8).toPandas()
    key = ["query_id", "rank"]
    assert (
        full.sort_values(key)["vec_id"].tolist()
        == exact.sort_values(key)["vec_id"].tolist()
    )
    # partial probe: top-1 recall should be decent, result well-formed
    part = sim.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=3).toPandas()
    top1 = part[part["rank"] == 1].set_index("query_id")["vec_id"]
    etop1 = exact[exact["rank"] == 1].set_index("query_id")["vec_id"]
    recall = (top1.reindex(etop1.index) == etop1).mean()
    assert recall >= 0.5


def test_ivf_kmeans_recall_on_clustered_data(spark):
    """Clustered embeddings (the real-world shape): k-means centroids
    must track the clusters, giving high top-k recall at modest
    n_probe where hash-picked centroids degrade."""
    import numpy as np
    from pyspark.sql import functions as F
    from xarray_spatial_spark.functions.similarity import (
        cosine_topk_broadcast, ivf_topk,
    )

    rng = np.random.default_rng(17)
    dim, n_clusters = 16, 8
    centers = rng.normal(size=(n_clusters, dim)) * 5
    rows = []
    for i in range(800):
        c = centers[i % n_clusters]
        v = c + rng.normal(scale=0.4, size=dim)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(j, rows[j * 37][1]) for j in range(8)],
        schema="query_id long, embedding array<float>",
    )
    exact = cosine_topk_broadcast(corpus, queries, k=10)
    approx = ivf_topk(corpus, queries, k=10, n_centroids=8, n_probe=2,
                      centroid_method="kmeans")
    ex = {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["vec_id"])
    ap = {}
    for r in approx.collect():
        ap.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ivf_centroids_deterministic(spark):
    import numpy as np
    from xarray_spatial_spark.functions.similarity import _centroids

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(300)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    a = _centroids(df, 4, "embedding", "vec_id")
    b = _centroids(df.repartition(7), 4, "embedding", "vec_id")
    np.testing.assert_allclose(a, b)


def test_semantic_dedup_planted_clusters(spark):
    """Two tight clusters + one singleton: within-cluster near-dups
    collapse to the lowest id; distinct vectors all survive.
    n_clusters=2 so each near-identical group provably shares one
    bucket (more centroids than natural clusters can SPLIT a group —
    the operator's documented cross-cluster recall miss)."""
    import numpy as np

    from xarray_spatial_spark.functions.similarity import semantic_dedup

    rng = np.random.default_rng(3)
    base = rng.normal(size=(3, 16))
    rows = []
    vid = 0
    for ci in range(2):          # clusters of 5 near-identical vectors
        for _ in range(5):
            v = base[ci] + rng.normal(scale=1e-3, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    rows.append((vid, [float(x) for x in base[2]]))  # singleton
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.99, n_clusters=2).collect()
    )
    assert kept == [0, 5, 10]    # lowest id per cluster + the singleton


def test_semantic_dedup_no_dups_keeps_all(spark):
    import numpy as np

    from xarray_spatial_spark.functions.similarity import semantic_dedup

    rng = np.random.default_rng(4)
    rows = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert semantic_dedup(df, threshold=0.999, n_clusters=4).count() == 30


def test_semantic_dedup_skewed_bucket_split(spark):
    """One region holds ~60% of rows (10 tight near-dup groups of 30)
    plus 200 spread singletons: with max_bucket=64 the hot cluster
    MUST be recursively split, and the planted groups still collapse
    to their lowest id while singletons all survive."""
    import numpy as np

    from xarray_spatial_spark.functions.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    hot = rng.normal(size=16)
    hot /= np.linalg.norm(hot)
    rows = []
    vid = 0
    group_leads = []
    for g in range(10):          # tight groups inside the hot region
        base = hot + rng.normal(scale=0.05, size=16)
        group_leads.append(vid)
        for _ in range(30):
            v = base + rng.normal(scale=1e-4, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    singles = []
    for _ in range(200):         # spread, far from hot and each other
        v = rng.normal(size=16) * 3.0
        singles.append(vid)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, threshold=0.999, n_clusters=4,
                                max_bucket=64).collect()
    )
    # contract: every group lead and every singleton survives; a few
    # EXTRA group members may survive when a nested split slices a
    # group across buckets (the documented recall trade) — they must
    # be group members, and most of each group must still collapse
    must = set(group_leads) | set(singles)
    assert must <= set(kept)
    extra = [k for k in kept if k not in must]
    assert all(e < 300 for e in extra)       # only group members
    assert len(extra) <= 5                   # 295 of 300 dups removed


def test_bounded_buckets_enforces_cap(spark):
    """The split helper gets every bucket at or under max_bucket on a
    deliberately degenerate assignment (ALL rows in one bucket)."""
    import numpy as np

    from pyspark.sql import functions as F

    from xarray_spatial_spark.functions.similarity import _bounded_buckets

    rng = np.random.default_rng(12)
    rows = [(i, 0, [float(x) for x in rng.normal(size=8)])
            for i in range(1000)]
    schema_a = "vec_id long, _bkt long, _v array<double>"
    assigned = spark.createDataFrame(rows, schema_a).persist()
    out = _bounded_buckets(assigned, n_clusters=4, max_bucket=100,
                           max_split_rounds=8, id_col="vec_id",
                           schema_a=schema_a)
    sizes = [r["n"] for r in
             out.groupBy("_bkt").agg(F.count(F.lit(1)).alias("n")).collect()]
    assert sum(sizes) == 1000
    assert max(sizes) <= 100


def test_semantic_dedup_chunked_matches_unchunked(spark):
    """chunk smaller than the bucket gives identical results to one
    full-matrix pass (slab scan covers exactly the i<j pairs)."""
    import numpy as np

    from xarray_spatial_spark.functions.similarity import semantic_dedup

    rng = np.random.default_rng(13)
    base = rng.normal(size=(5, 12))
    rows = []
    vid = 0
    for ci in range(5):
        for _ in range(8):
            v = base[ci] + rng.normal(scale=1e-3, size=12)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(r["vec_id"] for r in
               semantic_dedup(df, threshold=0.99, n_clusters=3,
                              chunk=4).collect())
    b = sorted(r["vec_id"] for r in
               semantic_dedup(df, threshold=0.99, n_clusters=3,
                              chunk=10**6).collect())
    assert a == b and len(a) <= 5 * 3  # collapsed per (cluster, bucket)


def test_pq_encode_matches_numpy_replica(spark, emb):
    """Distributed PQ encoding must equal a numpy replay of the same
    argmin assignment against the same codebooks, at any partitioning;
    codes are exactly m bytes."""
    cb = sim.pq_train(emb, m=8, n_codes=16, sample=500)
    assert cb.shape == (8, 16, 8)
    enc = {r["vec_id"]: bytes(r["pq_code"]) for r in
           sim.pq_encode(emb.repartition(7), cb).collect()}
    pdf = emb.toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    for i, vid in enumerate(pdf["vec_id"]):
        code = enc[vid]
        assert len(code) == 8
        for j in range(8):
            sub = vecs[i, j * 8: (j + 1) * 8]
            want = int(np.argmin(((cb[j] - sub) ** 2).sum(axis=1)))
            assert code[j] == want, (vid, j)


def test_pq_train_deterministic(spark, emb):
    a = sim.pq_train(emb, m=4, n_codes=8, sample=300)
    b = sim.pq_train(emb.repartition(5), m=4, n_codes=8, sample=300)
    np.testing.assert_array_equal(a, b)
    with pytest.raises(ValueError, match="not divisible"):
        sim.pq_train(emb, m=7)


def test_pq_topk_recall_planted_and_rerank(spark, emb):
    """ADC recall@10 vs brute force is high on the clustered table; a
    query that IS a corpus vector comes back rank 1; the rerank stage
    returns EXACT cosines (matching cosine_topk_broadcast bit-for-bit
    on the shared survivors) and recall at least as good as raw ADC."""
    cb = sim.pq_train(emb, m=16, n_codes=32, sample=500)
    codes = sim.pq_encode(emb, cb).cache()
    queries = emb.select(F.col("vec_id").alias("query_id"),
                         "embedding").filter("query_id % 50 = 3")

    exact = sim.cosine_topk_broadcast(emb, queries, k=10)
    want = {}
    for r in exact.collect():
        want.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]

    adc = sim.pq_topk(codes, queries, cb, k=10).collect()
    got_adc = {}
    for r in adc:
        got_adc.setdefault(r["query_id"], set()).add(r["vec_id"])
        if r["rank"] == 1:
            # self-query: the planted identical vector wins ADC too
            assert r["vec_id"] == r["query_id"]
    hits = sum(len(got_adc[q] & set(w)) for q, w in want.items())
    total = sum(len(w) for w in want.values())
    assert hits / total >= 0.6, f"ADC recall {hits}/{total}"

    rr = sim.pq_topk(codes, queries, cb, k=10, rerank=40,
                     corpus=emb).collect()
    got_rr = {}
    for r in rr:
        got_rr.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]
    hits_rr = sum(len(set(got_rr[q]) & set(w)) for q, w in want.items())
    assert hits_rr >= hits
    for q, w in want.items():  # exact re-scores match the exact path
        for vid in set(got_rr[q]) & set(w):
            assert got_rr[q][vid] == pytest.approx(w[vid], rel=1e-9)


def test_ivfpq_encode_replay_and_train_shapes(spark, emb):
    """ivfpq_encode must equal a numpy replay (normalize -> coarse
    argmax -> residual -> per-subspace argmin) at any partitioning;
    train returns the documented artifact shapes deterministically."""
    cents, cb = sim.ivfpq_train(emb, n_centroids=6, m=8, n_codes=16,
                                sample=400)
    assert cents.shape[0] == 6 and cb.shape == (8, 16, 8)
    cents2, cb2 = sim.ivfpq_train(emb.repartition(5), n_centroids=6, m=8,
                                  n_codes=16, sample=400)
    np.testing.assert_array_equal(cents, cents2)
    np.testing.assert_array_equal(cb, cb2)

    enc = {r["vec_id"]: (r["bucket"], bytes(r["pq_code"])) for r in
           sim.ivfpq_encode(emb.repartition(7), cents, cb).collect()}
    pdf = emb.toPandas()
    vecs = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    for i, vid in enumerate(pdf["vec_id"]):
        b, code = enc[vid]
        want_b = int(np.argmax(unit[i] @ cents.T))
        assert b == want_b
        resid = unit[i] - cents[want_b]
        for j in range(8):
            sub = resid[j * 8: (j + 1) * 8]
            assert code[j] == int(np.argmin(((cb[j] - sub) ** 2).sum(axis=1)))


def test_ivfpq_topk_recall_and_exact_rerank(spark, emb):
    """Composed index recall vs brute force; self-queries return
    themselves at rank 1; full-probe + rerank reproduces the exact
    path's scores bit-for-bit on shared survivors; results are
    invariant to corpus partitioning."""
    cents, cb = sim.ivfpq_train(emb, n_centroids=8, m=16, n_codes=32,
                                sample=500)
    codes = sim.ivfpq_encode(emb, cents, cb).cache()
    queries = emb.select(F.col("vec_id").alias("query_id"),
                         "embedding").filter("query_id % 50 = 3")

    exact = sim.cosine_topk_broadcast(emb, queries, k=10)
    want = {}
    for r in exact.collect():
        want.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]

    adc = sim.ivfpq_topk(codes, queries, cents, cb, k=10, n_probe=4).collect()
    got = {}
    for r in adc:
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]
    hits = sum(len(got[q] & set(w)) for q, w in want.items())
    total = sum(len(w) for w in want.values())
    assert hits / total >= 0.5, f"IVFPQ recall {hits}/{total}"

    rr = sim.ivfpq_topk(codes, queries, cents, cb, k=10, n_probe=8,
                        rerank=60, corpus=emb).collect()
    got_rr = {}
    for r in rr:
        got_rr.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]
    hits_rr = sum(len(set(got_rr[q]) & set(w)) for q, w in want.items())
    assert hits_rr >= hits
    for q, w in want.items():
        for vid in set(got_rr[q]) & set(w):
            assert got_rr[q][vid] == pytest.approx(w[vid], rel=1e-9)

    again = sim.ivfpq_topk(codes.repartition(13), queries, cents, cb,
                           k=10, n_probe=4).collect()
    assert {(r["query_id"], r["vec_id"], r["rank"]) for r in again} == {
        (r["query_id"], r["vec_id"], r["rank"]) for r in adc}


def test_pca_train_matches_numpy(spark, emb):
    """Distributed sufficient statistics must reproduce numpy PCA on
    the collected table: same mean, same covariance eigenvalues, same
    components up to the shared sign convention; parallelism-invariant
    to float tolerance."""
    mean, comps, ev = sim.pca_train(emb, n_components=8)
    pdf = emb.toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    np.testing.assert_allclose(mean, x.mean(axis=0), atol=1e-9)
    cov = np.cov(x, rowvar=False)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:8]
    np.testing.assert_allclose(ev, evals[order], rtol=1e-8)
    want = evecs[:, order].T
    flip = np.sign(want[np.arange(8), np.argmax(np.abs(want), axis=1)])
    np.testing.assert_allclose(comps, want * flip[:, None], atol=1e-7)

    m2, c2, e2 = sim.pca_train(emb.repartition(11), n_components=8)
    np.testing.assert_allclose(c2, comps, atol=1e-7)

    # components are orthonormal; variance is non-increasing
    np.testing.assert_allclose(comps @ comps.T, np.eye(8), atol=1e-9)
    assert (np.diff(ev) <= 1e-12).all()


def test_pca_project_reconstruction_and_ann(spark, emb):
    """Full-rank projection reconstructs the input; reduced vectors
    still rank a planted self-query first through the existing ANN
    path; projection replay matches numpy."""
    d = len(emb.select("embedding").first()[0])
    mean, comps, _ = sim.pca_train(emb, n_components=d)
    proj = sim.pca_project(emb.repartition(7), mean, comps,
                           out_col="pca").toPandas()
    pdf = emb.toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    got = {r["vec_id"]: np.asarray(r["pca"]) for _, r in proj.iterrows()}
    want = (x - x.mean(axis=0)) @ comps.T
    for i, vid in enumerate(pdf["vec_id"]):
        np.testing.assert_allclose(got[vid], want[i], atol=1e-7)
        np.testing.assert_allclose(got[vid] @ comps + mean, x[i], atol=1e-7)

    mean16, comps16, _ = sim.pca_train(emb, n_components=16)
    red = sim.pca_project(emb, mean16, comps16, out_col="embedding")
    q = red.select(F.col("vec_id").alias("query_id"), "embedding").filter(
        "query_id % 100 = 7")
    top = sim.cosine_topk_broadcast(red, q, k=3).filter("rank = 1").collect()
    assert top and all(r["vec_id"] == r["query_id"] for r in top)


def test_pca_train_rejects_bad_args(spark, emb):
    with pytest.raises(ValueError):
        sim.pca_train(emb, n_components=0)
    with pytest.raises(ValueError):
        sim.pca_train(emb, n_components=10_000)


def test_opq_rotation_orthogonal_and_deterministic(spark, emb):
    rot, cb = sim.opq_train(emb, m=8, n_codes=16, sample=400, opq_iters=4)
    d = rot.shape[0]
    np.testing.assert_allclose(rot @ rot.T, np.eye(d), atol=1e-9)
    assert cb.shape == (8, 16, d // 8)
    rot2, cb2 = sim.opq_train(emb.repartition(9), m=8, n_codes=16,
                              sample=400, opq_iters=4)
    np.testing.assert_array_equal(rot, rot2)
    np.testing.assert_array_equal(cb, cb2)


def test_opq_beats_plain_pq_on_correlated_dims(spark):
    """The rotation's whole point: on dimension-correlated data, OPQ's
    sample quantization error must not exceed plain PQ's."""
    rng = np.random.RandomState(0)
    latent = rng.randn(600, 8)
    mix = rng.randn(8, 32)
    x = latent @ mix + 0.05 * rng.randn(600, 32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>")

    cb_pq = sim.pq_train(df, m=8, n_codes=16, sample=600)
    rot, cb_opq = sim.opq_train(df, m=8, n_codes=16, sample=600)

    def err(y, cb):
        tot = 0.0
        for j in range(8):
            sub = y[:, j * 4: (j + 1) * 4]
            d2 = ((cb[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ cb[j].T)
                  + (sub ** 2).sum(axis=1)[:, None])
            tot += d2.min(axis=1).sum()
        return tot

    assert err(x @ rot, cb_opq) <= err(x, cb_pq) * 1.0001


def test_opq_encode_and_topk_roundtrip(spark, emb):
    """Rotated encode equals the numpy replay; the rotated ADC path
    returns the self-query at rank 1 and rerank yields exact cosines
    against the RAW vectors."""
    rot, cb = sim.opq_train(emb, m=16, n_codes=32, sample=500, opq_iters=3)
    codes = sim.pq_encode(emb.repartition(5), cb, rotation=rot)
    enc = {r["vec_id"]: bytes(r["pq_code"]) for r in codes.collect()}
    pdf = emb.toPandas()
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) @ rot
    for i, vid in list(enumerate(pdf["vec_id"]))[:50]:
        for j in range(16):
            sub = x[i, j * 4: (j + 1) * 4]
            want = int(np.argmin(((cb[j] - sub) ** 2).sum(axis=1)))
            assert enc[vid][j] == want

    queries = emb.select(F.col("vec_id").alias("query_id"),
                         "embedding").filter("query_id % 100 = 3")
    out = sim.pq_topk(codes, queries, cb, k=5, rerank=20, corpus=emb,
                      rotation=rot).collect()
    exact = sim.cosine_topk_broadcast(emb, queries, k=5)
    want = {}
    for r in exact.collect():
        want.setdefault(r["query_id"], {})[r["vec_id"]] = r["cosine"]
    for r in out:
        if r["rank"] == 1:
            assert r["vec_id"] == r["query_id"]
        if r["vec_id"] in want.get(r["query_id"], {}):
            assert r["cosine"] == pytest.approx(
                want[r["query_id"]][r["vec_id"]], rel=1e-9)


def test_semantic_dedup_builds_without_eval_type_warning(spark):
    """The per-bucket pandas kernel annotates its key, so PySpark infers
    the grouped-map eval type without a UserWarning."""
    import warnings

    from xarray_spatial_spark.functions.similarity import semantic_dedup

    rows = [(i, [float(i % 3), 1.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        semantic_dedup(df, threshold=0.99, n_clusters=2)
