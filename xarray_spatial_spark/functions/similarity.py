"""Similarity search over embedding columns (array<float>).

Two paths, mirroring the broadcast-vs-shuffle duality of the
proximity family:

- ``cosine_topk_broadcast``: queries collected + broadcast; one
  vectorized matmul pass over the corpus (mapInPandas), per-batch
  running top-k merge on the way out.  Zero shuffles; the baseline
  exact path.
- ``ivf_topk``: IVF-style scale path — deterministic centroid sample,
  corpus bucketed by nearest centroid (one pass), queries probe the
  ``n_probe`` nearest buckets only; exact cosine within buckets via an
  equi-join on the centroid id.  Recall -> 1 as n_probe grows; exact
  when n_probe = n_centroids.

Also ``cosine_topk_expr``: a pure-expression brute force (explode-free
zip_with dot product vs a literal query vector) used for
oracle-checkable single-query top-k.

Plus the compression leg: ``pq_train`` / ``pq_encode`` / ``pq_topk``
(product quantization, Jegou et al. 2011) — m-byte codes instead of
KB-scale float vectors, ADC table-lookup scoring, optional exact
rerank of the short list.  At 100 TB of raw embeddings the code table
is ~1 TB; the ADC scan touches ONLY it.

``ivfpq_train`` / ``ivfpq_encode`` / ``ivfpq_topk`` compose the two:
coarse inverted lists prune WHICH codes are scanned (n_probe/B of the
corpus) while residual-trained PQ codes compress WHAT is scanned —
the production FAISS recipe, here with the pruning done by bucket
membership inside a zero-shuffle broadcast scan.

``opq_train`` learns an orthogonal rotation ahead of PQ (Ge et al.
2014) — pass it as ``rotation=`` to pq_encode/pq_topk.  ``pca_train``
/ ``pca_project`` reduce dimensionality exactly (one-pass sufficient
statistics) before any of the index paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cosine_expr(vec_col: str, query: list[float]) -> Column:
    """Cosine similarity of an array column against a literal vector —
    JVM-side zip_with/aggregate, no UDF."""
    q = F.array(*[F.lit(float(v)) for v in query])
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    nv = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, v: a + v.cast("double") * v
        )
    )
    nq = float(np.linalg.norm(query))
    return dot / (nv * F.lit(nq))


def cosine_topk_expr(
    df: DataFrame, query: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k for ONE query vector, fully Catalyst (sortable,
    oracle-checkable).  Ties break by id."""
    return (
        df.select(F.col(id_col), cosine_expr(vec_col, query).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_broadcast(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k per query: broadcast all queries, matmul per Arrow
    batch, merge per-partition top-k with a final narrow window."""
    sc = corpus.sparkSession.sparkContext
    qpdf = queries.select(query_id, vec_col).toPandas()
    qids = qpdf[query_id].to_numpy()
    qmat = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    bc = sc.broadcast((qids, qmat, qnorm))

    schema = f"{query_id} long, {id_col} long, cosine double"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, qm, qn = bc.value
        best: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            sims = (vecs @ qm.T) / (norms[:, None] * qn[None, :])
            cids = pdf[id_col].to_numpy()
            # per-query partial top-k within this batch
            kk = min(k, sims.shape[0])
            top_idx = np.argpartition(-sims, kk - 1, axis=0)[:kk]
            for j in range(sims.shape[1]):
                rows = top_idx[:, j]
                prev = best.get(j)
                cand = np.stack([sims[rows, j], cids[rows]], axis=1)
                best[j] = cand if prev is None else np.vstack([prev, cand])
                if len(best[j]) > 4 * k:
                    keep = np.argpartition(-best[j][:, 0], k - 1)[:k]
                    best[j] = best[j][keep]
        out_q, out_id, out_c = [], [], []
        for j, arr in best.items():
            keep = arr[np.argsort(-arr[:, 0])][:k]
            out_q.extend([ids_q[j]] * len(keep))
            out_id.extend(keep[:, 1].astype(np.int64))
            out_c.extend(keep[:, 0])
        yield pd.DataFrame({query_id: out_q, id_col: out_id, "cosine": out_c})

    partial = corpus.select(id_col, vec_col).mapInPandas(_op, schema=schema)
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def _spherical_kmeans(x: np.ndarray, k: int, iters: int = 12) -> np.ndarray:
    """Deterministic spherical Lloyd's over pre-normalized rows:
    assign to max-cosine centroid, recentre, renormalize; empty
    clusters respawn on the worst-served points.  Init is the first k
    rows (callers pass hash-ordered samples, so no RNG anywhere)."""
    c = x[: min(k, len(x))].copy()
    k = len(c)
    for _ in range(iters):
        sims = x @ c.T
        assign = np.argmax(sims, axis=1)
        newc = np.zeros_like(c)
        np.add.at(newc, assign, x)
        counts = np.bincount(assign, minlength=k)
        empty = counts == 0
        if empty.any():
            worst = np.argsort(sims[np.arange(len(x)), assign])
            newc[empty] = x[worst[: int(empty.sum())]]
            counts[empty] = 1
        newc /= np.linalg.norm(newc, axis=1, keepdims=True).clip(1e-12)
        if np.allclose(newc, c, atol=1e-9):
            return newc
        c = newc
    return c


def _centroids(
    corpus: DataFrame,
    n_centroids: int,
    vec_col: str,
    id_col: str,
    method: str = "kmeans",
    sample: int | None = None,
    iters: int = 12,
):
    """Deterministic IVF centroids.

    ``kmeans`` (default): spherical Lloyd's on a hash-ordered sample
    (deterministic — no RNG, no parallelism dependence).  The sample
    SCALES with the centroid count (>= 256 points per centroid, floor
    16384) instead of a fixed 16k, so large-k fits aren't starved.
    ``hash``: the n lowest xxhash64(id) vectors (cheap, uniform-data
    only)."""
    if sample is None:
        sample = max(16384, 256 * n_centroids)
    n_pick = n_centroids if method == "hash" else max(sample, n_centroids)
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 61)))
        .limit(n_pick)
        .collect()
    )
    vecs = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    if method == "hash" or len(vecs) <= n_centroids:
        return vecs[:n_centroids]
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    return _spherical_kmeans(vecs / norms[:, None], n_centroids, iters)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    centroid_method: str = "kmeans",
) -> DataFrame:
    """IVF-bucketed approximate top-k: corpus partitioned once by
    nearest centroid; each query probes its n_probe nearest buckets.
    Centroids come from deterministic spherical k-means by default
    (``centroid_method='hash'`` for the cheap uniform-data pick)."""
    cents = _centroids(corpus, n_centroids, vec_col, id_col,
                       method=centroid_method)
    cnorm = np.linalg.norm(cents, axis=1)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((cents, cnorm))

    def _assign(probe: int, out_name: str, vec_out: str, vec_type: str):
        # the vector rides THROUGH the Arrow pass (same element type as
        # the source) instead of being re-fetched with a shuffle join
        # back onto the source table — bucket assignment stays a
        # zero-shuffle map stage per side
        schema_a = f"_tmp_id long, {out_name} array<int>, {vec_out} {vec_type}"

        def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            c, cn = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                vecs = np.stack(pdf.iloc[:, 1].to_numpy()).astype(np.float64)
                norms = np.linalg.norm(vecs, axis=1)
                norms[norms == 0] = 1.0
                sims = (vecs @ c.T) / (norms[:, None] * cn[None, :])
                order = np.argsort(-sims, axis=1)[:, :probe].astype(np.int32)
                yield pd.DataFrame(
                    {"_tmp_id": pdf.iloc[:, 0].to_numpy(),
                     out_name: list(order),
                     vec_out: pdf.iloc[:, 1]}
                )

        return _op, schema_a

    ctype = corpus.schema[vec_col].dataType.simpleString()
    qtype = queries.schema[vec_col].dataType.simpleString()
    op_c, sch_c = _assign(1, "bucket", "_cvec", ctype)
    corpus_b = (
        corpus.select(F.col(id_col).alias("_tmp_id"), vec_col)
        .mapInPandas(op_c, schema=sch_c)
        .select(F.col("_tmp_id").alias(id_col),
                F.element_at("bucket", 1).alias("bucket"),
                F.col("_cvec").alias(vec_col))
    )
    op_q, sch_q = _assign(n_probe, "buckets", "_qvec", qtype)
    queries_b = (
        queries.select(F.col(query_id).alias("_tmp_id"), vec_col)
        .mapInPandas(op_q, schema=sch_q)
        .select(F.col("_tmp_id").alias(query_id),
                F.explode("buckets").alias("bucket"), "_qvec")
    )
    # score per bucket with ONE cogrouped Arrow pass: the bucket's
    # corpus block and its probing queries meet as numpy matrices and
    # the dot products run through BLAS instead of a per-pair Catalyst
    # fold over the joined rows (the old join materialized
    # |bucket| x |probes| rows each paying an O(dim) interpreted
    # lambda — the suite's slowest slot).  Per-bucket top-k is safe:
    # (cosine desc, id asc) is a total order, so every global top-k
    # row is inside its bucket's top-k.  The matmul is chunked over
    # corpus rows so peak memory is O(chunk x queries), not
    # O(bucket x queries).
    def _score(cpdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf) or not len(qpdf):
            return pd.DataFrame({query_id: [], id_col: [], "cosine": []}).astype(
                {query_id: np.int64, id_col: np.int64, "cosine": np.float64}
            )
        qv = np.stack(qpdf["_qvec"].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(qv, axis=1)
        qn[qn == 0] = 1.0
        qids = qpdf[query_id].to_numpy()
        cids_all = cpdf[id_col].to_numpy()
        out_q, out_i, out_c = [], [], []
        for lo in range(0, len(cpdf), 32768):
            blk = cpdf.iloc[lo: lo + 32768]
            cv = np.stack(blk[vec_col].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(cv, axis=1)
            cn[cn == 0] = 1.0
            sims = (cv @ qv.T) / (cn[:, None] * qn[None, :])
            cids = cids_all[lo: lo + 32768]
            kk = min(k, len(blk))
            for j in range(sims.shape[1]):
                order = np.lexsort((cids, -sims[:, j]))[:kk]
                out_q.append(np.full(kk, qids[j]))
                out_i.append(cids[order])
                out_c.append(sims[order, j])
        return pd.DataFrame({
            query_id: np.concatenate(out_q),
            id_col: np.concatenate(out_i),
            "cosine": np.concatenate(out_c),
        })

    scored = (
        corpus_b.groupBy("bucket")
        .cogroup(queries_b.groupBy("bucket"))
        .applyInPandas(_score, schema=f"{query_id} long, {id_col} long, cosine double")
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


def _bounded_buckets(
    assigned: DataFrame,
    n_clusters: int,
    max_bucket: int,
    max_split_rounds: int,
    id_col: str,
    schema_a: str,
) -> DataFrame:
    """Recursively split buckets over ``max_bucket`` rows with a
    nested deterministic spherical k-means (hierarchical SemDeDup).

    Each round: one size-count job finds oversized buckets; a
    deterministic hash sample of each (threshold sized from the EXACT
    count just collected, 3x oversampled, driver-cut in hash order —
    never a per-key window sort that would put the hot bucket in one
    task) fits sub-centroids; one zero-shuffle Arrow map reassigns
    only the oversized buckets' rows.  Child key = parent*(k+1)+1+sub,
    untouched key = parent*(k+1): keys stay unique across rounds.

    Input must be persisted; each generation is persisted and the
    prior one released."""
    sc = assigned.sparkSession.sparkContext
    base = n_clusters + 1
    hash_mod = 1 << 20
    target = max(256, 8 * n_clusters)  # sample per oversized bucket
    prev_sizes: list[int] | None = None
    for _ in range(max_split_rounds):
        sizes = (assigned.groupBy("_bkt")
                 .agg(F.count(F.lit(1)).alias("n"))
                 .filter(F.col("n") > max_bucket).collect())
        if not sizes:
            break
        over = {int(r["_bkt"]): int(r["n"]) for r in sizes}
        # no-progress guard: if the oversized-size multiset is
        # unchanged since last round (un-splittable near-identical
        # vectors), every further round would pay a full-dataset map +
        # persist + count for the same result — give up now
        cur_sizes = sorted(over.values())
        if cur_sizes == prev_sizes:
            break
        prev_sizes = cur_sizes
        thr = {b: min(hash_mod, -(-hash_mod * 3 * target // n))
               for b, n in over.items()}
        thr_expr = F.lit(0)
        for b, t in thr.items():
            thr_expr = F.when(F.col("_bkt") == b, F.lit(t)).otherwise(thr_expr)
        hs = F.pmod(F.xxhash64(F.col(id_col)), F.lit(hash_mod))
        samp = (assigned.filter(F.col("_bkt").isin(list(over)) &
                                (hs < thr_expr))
                .select("_bkt", F.col(id_col).alias("_id"),
                        hs.alias("_hs"), "_v")
                .collect())
        by_bkt: dict[int, list] = {b: [] for b in over}
        for r in samp:
            by_bkt[int(r["_bkt"])].append((int(r["_hs"]), int(r["_id"]), r["_v"]))
        subs = {}
        for b, rows in by_bkt.items():
            if not rows:
                continue  # hash sample missed entirely (tiny target)
            rows.sort(key=lambda t: (t[0], t[1]))
            vecs = np.stack([np.asarray(v, np.float64)
                             for _, _, v in rows[:target]])
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            subs[b] = _spherical_kmeans(vecs / norms[:, None], n_clusters)
        if not subs:
            break  # every oversized bucket's sample came back empty
        bc_subs = sc.broadcast(subs)

        def _resplit(batches: Iterator[pd.DataFrame],
                     _bc=bc_subs) -> Iterator[pd.DataFrame]:
            sm = _bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                bkt = pdf["_bkt"].to_numpy(np.int64)
                newb = bkt * base
                for b in np.unique(bkt):
                    c = sm.get(int(b))
                    if c is None:
                        continue
                    m = bkt == b
                    vecs = np.stack(pdf["_v"].to_numpy()[m]).astype(np.float64)
                    norms = np.linalg.norm(vecs, axis=1)
                    norms[norms == 0] = 1.0
                    sims = (vecs / norms[:, None]) @ c.T
                    newb[m] += 1 + np.argmax(sims, axis=1)
                yield pd.DataFrame({id_col: pdf[id_col].to_numpy(),
                                    "_bkt": newb,
                                    "_v": pdf["_v"]})

        nxt = assigned.mapInPandas(_resplit, schema=schema_a).persist()
        nxt.count()
        assigned.unpersist()
        assigned = nxt
    return assigned


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket: int = 16384,
    max_split_rounds: int = 8,
    chunk: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pruning: cluster the
    corpus with the deterministic spherical k-means centroids, compare
    pairs WITHIN a cluster only, and drop every row whose cosine to a
    LOWER-id cluster-mate exceeds ``threshold``.  Returns the kept
    rows (a strict subset of the corpus, dedup semantics like
    ``exact_duplicates``: lowest id survives).

    Scale shape: centroid assignment is a zero-shuffle Arrow map
    stage; comparison is ONE bucket-keyed shuffle followed by a
    per-bucket vectorized matmul (never all-pairs, never per-pair
    expression evaluation).  Per-task memory is BOUNDED two ways:

    - ``max_bucket`` caps bucket cardinality: buckets over the cap are
      recursively split with a NESTED spherical k-means (SemDeDup's
      hierarchical variant) — each round is one size-count job plus
      one zero-shuffle reassignment over the oversized buckets only,
      fitted on a deterministic hash sample whose size the driver
      bounds using the exact counts it just collected (no per-key
      window sort on a hot bucket).  A 100-TB corpus where one
      cluster holds half the rows therefore never materializes that
      cluster in one task.  Near-duplicate pairs straddling a nested
      split are missed, like pairs straddling top-level clusters —
      the paper's recall/cost trade, deepened one level.
    - ``chunk`` bounds the similarity matrix: the within-bucket
      compare runs in chunk x b slabs, never the full b x b.

    If ``max_split_rounds`` of splitting can't get a bucket under the
    cap (pathological: > max_bucket near-identical vectors defeating
    k-means), the chunked compare still bounds the sim matrix; only
    the bucket's raw vectors remain per-task."""
    cents = _centroids(corpus, n_clusters, vec_col, id_col, method="kmeans")
    cnorm = np.linalg.norm(cents, axis=1)
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((cents, cnorm))
    ctype = corpus.schema[vec_col].dataType.simpleString()
    schema_a = f"{id_col} long, _bkt long, _v {ctype}"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c, cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf.iloc[:, 1].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            sims = (vecs @ c.T) / (norms[:, None] * cn[None, :])
            yield pd.DataFrame({
                id_col: pdf.iloc[:, 0].to_numpy(),
                "_bkt": np.argmax(sims, axis=1).astype(np.int64),
                "_v": pdf.iloc[:, 1],
            })

    # persisted: the size-check jobs and the final compare both read it
    assigned = (corpus.select(id_col, vec_col)
                .mapInPandas(_op, schema=schema_a).persist())
    assigned = _bounded_buckets(
        assigned, n_clusters, max_bucket, max_split_rounds, id_col, schema_a)

    # within-bucket comparison as vectorized matmul slabs per bucket
    # (applyInPandas), not a pair-explosion self-join: O(b^2) cells
    # either way, but numpy-speed vs a Catalyst HOF per pair (~50x
    # slower measured at sf0.1).  chunk x b slabs keep peak memory at
    # chunk * max_bucket * 8 bytes instead of b^2 * 8.
    def _bucket_dupes(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        vecs = np.stack(pdf["_v"].to_numpy())[order].astype(np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        x = vecs / norms[:, None]
        b = len(ids)
        dup = np.zeros(b, dtype=bool)
        for s in range(0, b, chunk):
            e = min(s + chunk, b)
            sims = x[s:e] @ x[s:].T  # columns j >= s only (need i < j)
            hit = sims > threshold
            # require global row i = s+ri strictly below global col
            # j = s+cj: ri < cj masks the diagonal block's lower half
            tri = np.arange(e - s)[:, None] < np.arange(b - s)[None, :]
            dup[s:] |= (hit & tri).any(axis=0)
        return pd.DataFrame({id_col: ids[dup]})

    dupes = assigned.groupBy("_bkt").applyInPandas(
        _bucket_dupes, schema=f"{id_col} long"
    )
    return corpus.join(dupes, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's compression leg)
# ---------------------------------------------------------------------------

def _pq_kmeans(x: np.ndarray, k: int, iters: int = 12) -> np.ndarray:
    """Deterministic EUCLIDEAN Lloyd's (PQ codebooks quantize raw
    subvectors, so unlike :func:`_spherical_kmeans` there is no
    normalization step).  Init = first k rows of the caller's
    hash-ordered sample; empty cells respawn on the worst-served
    points.  No RNG anywhere."""
    c = x[: min(k, len(x))].copy()
    k = len(c)
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        assign = np.argmin(d2, axis=1)
        newc = np.zeros_like(c)
        np.add.at(newc, assign, x)
        counts = np.bincount(assign, minlength=k)
        empty = counts == 0
        if empty.any():
            worst = np.argsort(-d2[np.arange(len(x)), assign])
            newc[empty] = x[worst[: int(empty.sum())]]
            counts[empty] = 1
        newc /= counts[:, None]
        if np.allclose(newc, c, atol=1e-9):
            return newc
        c = newc
    return c


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int | None = None,
    iters: int = 12,
) -> np.ndarray:
    """Train product-quantization codebooks (Jegou et al. 2011): the
    vector splits into ``m`` contiguous subvectors, each quantized by
    its own ``n_codes``-entry Euclidean k-means codebook.  Returns
    ``(m, n_codes, dim//m)`` float64 — a driver-side artifact a few
    hundred KB large that BROADCASTS; training reads only a
    hash-ordered sample (deterministic, parallelism-independent), one
    bounded collect like :func:`_centroids`."""
    if sample is None:
        sample = max(16384, 64 * n_codes)
    rows = (
        corpus.select(vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 61)))
        .limit(sample)
        .collect()
    )
    vecs = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    dim = vecs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n_codes > 256:
        raise ValueError("n_codes > 256 needs >1 byte per code")
    dsub = dim // m
    return np.stack([
        _pq_kmeans(vecs[:, j * dsub: (j + 1) * dsub], n_codes, iters)
        for j in range(m)
    ])


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_code",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """(id, m-byte binary code) — each subvector's nearest codebook
    entry, one byte per subspace.  THE scale artifact: a 256-dim
    float32 corpus stores 1 KB/vector; its m=8 code table stores 8 B
    (128x), small enough to keep hot or even broadcast at sizes where
    the raw vectors can't be scanned interactively.  Zero shuffle:
    codebooks broadcast, assignment is a map-only Arrow pass
    (||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 via one matmul per
    subspace).  ``rotation`` applies an :func:`opq_train` orthogonal
    matrix inside the same pass (OPQ: quantize x R, not x)."""
    m, _, dsub = codebooks.shape
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((codebooks, rotation))
    schema = f"{id_col} long, {out_col} binary"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb, rot = bc.value
        cnorm2 = [(cb[j] ** 2).sum(axis=1) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if rot is not None:
                vecs = vecs @ rot
            codes = np.empty((len(vecs), m), dtype=np.uint8)
            for j in range(m):
                sub = vecs[:, j * dsub: (j + 1) * dsub]
                d2 = cnorm2[j][None, :] - 2.0 * (sub @ cb[j].T)
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                out_col: [c.tobytes() for c in codes],
            })

    return corpus.select(id_col, vec_col).mapInPandas(_op, schema=schema)


def opq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int | None = None,
    iters: int = 12,
    opq_iters: int = 8,
) -> tuple[np.ndarray, np.ndarray]:
    """Optimized Product Quantization (Ge et al. 2014, non-parametric
    alternation): learn an orthogonal rotation R so that PQ quantizes
    x R instead of x — correlated / unevenly-scaled dimensions get
    redistributed across subspaces, cutting quantization error at the
    same bit budget (plain PQ is the R=I special case).

    Each round fits codebooks on the rotated sample, reconstructs,
    and solves the orthogonal Procrustes problem R = UV^T from
    svd(X^T X_hat).  All driver-side on the one hash-ordered sample
    (same bounded collect as :func:`pq_train`); deterministic — no
    RNG anywhere.  Returns ``(rotation (d, d), codebooks)`` to pass
    as ``rotation=`` to :func:`pq_encode` / :func:`pq_topk`."""
    if sample is None:
        sample = max(16384, 64 * n_codes)
    rows = (
        corpus.select(vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 61)))
        .limit(sample)
        .collect()
    )
    x = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n_codes > 256:
        raise ValueError("n_codes > 256 needs >1 byte per code")
    dsub = dim // m
    rot = np.eye(dim)

    def _fit(y: np.ndarray, it: int) -> np.ndarray:
        return np.stack([
            _pq_kmeans(y[:, j * dsub: (j + 1) * dsub], n_codes, it)
            for j in range(m)
        ])

    def _reconstruct(y: np.ndarray, cb: np.ndarray) -> np.ndarray:
        out = np.empty_like(y)
        for j in range(m):
            sub = y[:, j * dsub: (j + 1) * dsub]
            d2 = ((cb[j] ** 2).sum(axis=1)[None, :] - 2.0 * (sub @ cb[j].T))
            out[:, j * dsub: (j + 1) * dsub] = cb[j][np.argmin(d2, axis=1)]
        return out

    for _ in range(opq_iters):
        y = x @ rot
        cb = _fit(y, max(2, iters // 3))
        u, _, vt = np.linalg.svd(x.T @ _reconstruct(y, cb))
        rot = u @ vt
    cb = _fit(x @ rot, iters)
    return rot, cb


def pq_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    code_col: str = "pq_code",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, an
    inner-product lookup table ``dt[m, n_codes]`` (query subvector x
    codebook) computes each stored vector's approximate score as m
    TABLE LOOKUPS + a sum — no float vector is ever read.  Broadcast
    queries + codebooks; per-partition partial top-k; one k-row-per-
    query final window (the :func:`cosine_topk_broadcast` shape over
    a 100x smaller scan).

    ``rerank=r`` re-scores each query's top-r ADC candidates EXACTLY
    by joining those ids (a k-scale, not corpus-scale, join) back to
    ``corpus`` and ranking on true cosine — the standard two-stage
    recall fix.  Scores are cosine against the RECONSTRUCTED vector
    when unreranked (queries normalized driver-side; reconstruction
    norms from the lookup tables are approximate by design)."""
    if rerank is not None and corpus is None:
        raise ValueError("rerank needs the raw-vector corpus frame")
    m, n_codes, dsub = codebooks.shape
    sc = codes.sparkSession.sparkContext
    qpdf = queries.select(query_id, vec_col).toPandas()
    qids = qpdf[query_id].to_numpy()
    qmat = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(qmat, axis=1)
    qn[qn == 0] = 1.0
    qmat = qmat / qn[:, None]
    if rotation is not None:
        # OPQ: codes live in the rotated space; rotating the (unit)
        # queries preserves cosine, so scores stay comparable and the
        # exact rerank below still uses the RAW vectors
        qmat = qmat @ rotation
    bc = sc.broadcast((qids, qmat, codebooks))
    n_out = max(k, rerank or 0)
    schema = f"{query_id} long, {id_col} long, score double"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, qm, cb = bc.value
        # dt[q, j, c] = q_sub_j . codebook[j][c]; recon norm^2 rides a
        # second table so the score is cosine vs the reconstruction
        qsubs = qm.reshape(len(qm), m, dsub)
        dt = np.einsum("qjd,jcd->qjc", qsubs, cb)
        rn2 = np.stack([(cb[j] ** 2).sum(axis=1) for j in range(m)])
        best: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack([
                np.frombuffer(b, dtype=np.uint8) for b in pdf[code_col]
            ]).astype(np.int64)
            cids = pdf[id_col].to_numpy()
            jj = np.arange(m)[None, :]
            norms = np.sqrt(rn2[jj, cmat].sum(axis=1)).clip(1e-12)
            kk = min(n_out, len(cids))
            for q in range(len(ids_q)):
                s = dt[q][jj, cmat].sum(axis=1) / norms
                rows = np.argpartition(-s, kk - 1)[:kk]
                cand = np.stack([s[rows], cids[rows]], axis=1)
                prev = best.get(q)
                best[q] = cand if prev is None else np.vstack([prev, cand])
                if len(best[q]) > 4 * n_out:
                    keep = np.argpartition(-best[q][:, 0], n_out - 1)[:n_out]
                    best[q] = best[q][keep]
        out_q, out_id, out_s = [], [], []
        for q, arr in best.items():
            keep = arr[np.argsort(-arr[:, 0])][:n_out]
            out_q.extend([ids_q[q]] * len(keep))
            out_id.extend(keep[:, 1].astype(np.int64))
            out_s.extend(keep[:, 0])
        yield pd.DataFrame({query_id: out_q, id_col: out_id, "score": out_s})

    partial = codes.select(id_col, code_col).mapInPandas(_op, schema=schema)
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    approx = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_out)
    )
    if rerank is None:
        return (approx.filter(F.col("rank") <= k)
                .select(query_id, id_col, F.col("score").alias("cosine"),
                        "rank"))
    return _exact_rerank(approx, corpus, queries, k, vec_col, id_col, query_id)


def _exact_rerank(
    approx: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    query_id: str,
) -> DataFrame:
    """Second-stage exact scorer shared by :func:`pq_topk` and
    :func:`ivfpq_topk`: join each query's approximate candidates (a
    k-scale, not corpus-scale, set) back to the raw vectors and rank
    on true cosine — scores match :func:`cosine_topk_broadcast`
    bit-for-bit on shared survivors."""
    cand = approx.select(query_id, id_col).join(
        corpus.select(id_col, vec_col), id_col)
    qv = queries.select(F.col(query_id).alias(query_id),
                        F.col(vec_col).alias("_qvec"))
    joined = cand.join(F.broadcast(qv), query_id)
    dot = F.aggregate(
        F.zip_with(vec_col, "_qvec",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, v: a + v)
    nv = F.sqrt(F.aggregate(
        F.col(vec_col), F.lit(0.0),
        lambda a, v: a + v.cast("double") * v.cast("double")))
    nq = F.sqrt(F.aggregate(
        F.col("_qvec"), F.lit(0.0),
        lambda a, v: a + v.cast("double") * v.cast("double")))
    scored = joined.withColumn("cosine", dot / (nv * nq))
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, id_col, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed 100-TB ANN recipe (coarse inverted lists prune
# the scan; PQ codes compress what remains; optional exact rerank)
# ---------------------------------------------------------------------------


def ivfpq_train(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int | None = None,
    iters: int = 12,
) -> tuple[np.ndarray, np.ndarray]:
    """Train the two-level quantizer (Jegou et al. 2011, the FAISS
    IVFPQ layout): spherical k-means coarse centroids over a
    hash-ordered sample, then per-subspace Euclidean codebooks over
    the sample's RESIDUALS (x/||x|| - nearest centroid) — residual
    energy is what PQ actually has to encode once the coarse cell is
    known, so codebooks trained on residuals quantize far tighter
    than raw-vector codebooks at the same bit budget.  One bounded
    collect; returns ``(centroids (B, dim), codebooks
    (m, n_codes, dim/m))``, a driver artifact that broadcasts."""
    if sample is None:
        sample = max(16384, max(256 * n_centroids, 64 * n_codes))
    rows = (
        corpus.select(vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col)), F.lit(1 << 61)))
        .limit(sample)
        .collect()
    )
    vecs = np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    dim = vecs.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if n_codes > 256:
        raise ValueError("n_codes > 256 needs >1 byte per code")
    norms = np.linalg.norm(vecs, axis=1)
    norms[norms == 0] = 1.0
    unit = vecs / norms[:, None]
    cents = _spherical_kmeans(unit, n_centroids, iters)
    resid = unit - cents[np.argmax(unit @ cents.T, axis=1)]
    dsub = dim // m
    codebooks = np.stack([
        _pq_kmeans(resid[:, j * dsub: (j + 1) * dsub], n_codes, iters)
        for j in range(m)
    ])
    return cents, codebooks


def ivfpq_encode(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, bucket, m-byte code): nearest coarse centroid plus the
    PQ code of the residual.  Zero shuffle — both artifacts
    broadcast, assignment and encoding are one map-only Arrow pass.
    The output is THE index: bucket prunes, code scores, and at
    8 B + 4 B per vector it stays hot at corpus sizes where the raw
    float vectors can't."""
    m, _, dsub = codebooks.shape
    sc = corpus.sparkSession.sparkContext
    bc = sc.broadcast((centroids, codebooks))
    schema = f"{id_col} long, bucket int, pq_code binary"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents, cb = bc.value
        cnorm2 = [(cb[j] ** 2).sum(axis=1) for j in range(m)]
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            norms = np.linalg.norm(vecs, axis=1)
            norms[norms == 0] = 1.0
            unit = vecs / norms[:, None]
            bucket = np.argmax(unit @ cents.T, axis=1)
            resid = unit - cents[bucket]
            codes = np.empty((len(vecs), m), dtype=np.uint8)
            for j in range(m):
                sub = resid[:, j * dsub: (j + 1) * dsub]
                d2 = cnorm2[j][None, :] - 2.0 * (sub @ cb[j].T)
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "bucket": bucket.astype(np.int32),
                "pq_code": [c.tobytes() for c in codes],
            })

    return corpus.select(id_col, vec_col).mapInPandas(_op, schema=schema)


def ivfpq_topk(
    codes: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    n_probe: int = 4,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
) -> DataFrame:
    """Approximate top-k over an :func:`ivfpq_encode` index.

    Each query probes its ``n_probe`` nearest coarse cells; rows in
    probed cells score by pure TABLE LOOKUPS against the broadcast
    artifacts (no float vector is read):
    ``cos ~= (q.c_b + sum_j dt[q,j,code_j]) / ||c_b + r_hat||`` where
    the reconstruction norm also folds from per-(bucket, code) tables
    (``||c+r||^2 = 1 + 2 c.r + ||r||^2``).  Were PQ lossless this IS
    exact cosine, so the only error is quantization.  Zero shuffle on
    the corpus side: queries broadcast, each partition scans only its
    probed-cell rows and emits a bounded partial top-k; one k-row
    window finishes.  ``rerank=r`` re-scores each query's top-r
    candidates exactly via :func:`_exact_rerank`."""
    if rerank is not None and corpus is None:
        raise ValueError("rerank needs the raw-vector corpus frame")
    m, n_codes, dsub = codebooks.shape
    n_buckets = len(centroids)
    n_probe = min(n_probe, n_buckets)
    sc = codes.sparkSession.sparkContext
    qpdf = queries.select(query_id, vec_col).toPandas()
    qids = qpdf[query_id].to_numpy()
    qmat = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(qmat, axis=1)
    qn[qn == 0] = 1.0
    qmat = qmat / qn[:, None]
    bc = sc.broadcast((qids, qmat, centroids, codebooks))
    n_out = max(k, rerank or 0)
    schema = f"{query_id} long, {id_col} long, score double"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, qm, cents, cb = bc.value
        qc = qm @ cents.T                               # (Q, B) q.c_b
        probes = np.argsort(-qc, axis=1)[:, :n_probe]   # (Q, n_probe)
        qsubs = qm.reshape(len(qm), m, dsub)
        dt = np.einsum("qjd,jcd->qjc", qsubs, cb)       # (Q, m, codes)
        csubs = cents.reshape(n_buckets, m, dsub)
        cross = np.einsum("bjd,jcd->bjc", csubs, cb)    # (B, m, codes)
        rn2 = np.stack([(cb[j] ** 2).sum(axis=1) for j in range(m)])
        jj = np.arange(m)[None, :]
        best: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            cmat = np.stack([
                np.frombuffer(b, dtype=np.uint8) for b in pdf["pq_code"]
            ]).astype(np.int64)
            buckets = pdf["bucket"].to_numpy()
            cids = pdf[id_col].to_numpy()
            # per-row reconstruction pieces are query-independent
            c_dot_r = cross[buckets[:, None], jj, cmat].sum(axis=1)
            r2 = rn2[jj, cmat].sum(axis=1)
            norms = np.sqrt((1.0 + 2.0 * c_dot_r + r2).clip(1e-24))
            for q in range(len(ids_q)):
                mask = np.isin(buckets, probes[q])
                if not mask.any():
                    continue
                s = (qc[q, buckets[mask]]
                     + dt[q][jj, cmat[mask]].sum(axis=1)) / norms[mask]
                ids_m = cids[mask]
                kk = min(n_out, len(ids_m))
                rows = np.argpartition(-s, kk - 1)[:kk]
                cand = np.stack([s[rows], ids_m[rows]], axis=1)
                prev = best.get(q)
                best[q] = cand if prev is None else np.vstack([prev, cand])
                if len(best[q]) > 4 * n_out:
                    keep = np.argpartition(-best[q][:, 0], n_out - 1)[:n_out]
                    best[q] = best[q][keep]
        out_q, out_id, out_s = [], [], []
        for q, arr in best.items():
            keep = arr[np.argsort(-arr[:, 0])][:n_out]
            out_q.extend([ids_q[q]] * len(keep))
            out_id.extend(keep[:, 1].astype(np.int64))
            out_s.extend(keep[:, 0])
        yield pd.DataFrame({query_id: out_q, id_col: out_id, "score": out_s})

    partial = codes.select(id_col, "bucket", "pq_code").mapInPandas(
        _op, schema=schema)
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    approx = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_out)
    )
    if rerank is None:
        return (approx.filter(F.col("rank") <= k)
                .select(query_id, id_col, F.col("score").alias("cosine"),
                        "rank"))
    return _exact_rerank(approx, corpus, queries, k, vec_col, id_col, query_id)


# ---------------------------------------------------------------------------
# Distributed PCA: the dimension-reduction stage in front of ANN /
# clustering (project 768-dim embeddings to 64 before indexing)
# ---------------------------------------------------------------------------


def pca_train(
    corpus: DataFrame,
    n_components: int,
    vec_col: str = "embedding",
    dim: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact PCA over an embedding column in ONE distributed pass.

    The sufficient statistics (n, sum x, upper triangle of sum x x^T)
    are accumulated dense per Arrow batch and emitted as sparse
    (cell, value) partials — the exchange and the driver collect are
    bounded by d(d+3)/2 + 1 cells (d=1024 -> ~526k rows), independent
    of corpus size; the hash aggregate map-side-combines per task.
    The driver assembles the covariance (C = (Sxx - n mu mu^T)/(n-1)),
    runs eigh, and fixes each component's sign so its largest-|.|
    coordinate is positive (deterministic up to summation order).

    Returns ``(mean (d,), components (p, d) row-major by decreasing
    variance, explained_variance (p,))``.  Unlike the sampled k-means
    trainers this is EXACT over all rows: PCA's statistics are
    mergeable, so nothing is gained by subsampling.

    Pass ``dim`` to skip the one-row probe job (parquet callers can
    read it from the footer via ``sources.parquet_first_array_len``).
    """
    if dim is None:
        first = corpus.select(vec_col).first()
        if first is None:
            raise ValueError("pca_train on an empty corpus")
        dim = len(first[0])
    d = dim
    if not (0 < n_components <= d):
        raise ValueError(f"n_components={n_components} not in 1..{d}")
    iu = np.triu_indices(d)
    n_cells = 1 + d + len(iu[0])

    def _partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros(n_cells, np.float64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            x = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
            acc[0] += len(x)
            acc[1: 1 + d] += x.sum(axis=0)
            acc[1 + d:] += (x.T @ x)[iu]
        if any_rows:
            yield pd.DataFrame({"cell": np.arange(n_cells), "val": acc})

    rows = (
        corpus.select(vec_col).mapInPandas(_partial, schema="cell long, val double")
        .groupBy("cell").agg(F.sum("val").alias("val"))
        .collect()
    )
    acc = np.zeros(n_cells, np.float64)
    for r in rows:
        acc[r["cell"]] = r["val"]
    n = acc[0]
    if n < 2:
        raise ValueError("pca_train needs at least 2 rows")
    mean = acc[1: 1 + d] / n
    sxx = np.zeros((d, d), np.float64)
    sxx[iu] = acc[1 + d:]
    sxx = sxx + np.triu(sxx, 1).T
    cov = (sxx - n * np.outer(mean, mean)) / (n - 1.0)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, order].T
    flip = np.sign(comps[np.arange(len(comps)),
                         np.argmax(np.abs(comps), axis=1)])
    comps = comps * flip[:, None]
    return mean, comps, evals[order].clip(0.0)


def pca_project(
    corpus: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pca",
) -> DataFrame:
    """(id, projected vector): center on the broadcast mean and apply
    the component matrix — one map-only Arrow pass, same zero-shuffle
    shape as :func:`pq_encode`.  The output array feeds every
    downstream consumer unchanged (cosine_topk_*, ivf/pq/ivfpq,
    semantic_dedup) at p/d of the byte volume."""
    bc = corpus.sparkSession.sparkContext.broadcast(
        (np.asarray(mean, np.float64), np.asarray(components, np.float64)))
    schema = f"{id_col} long, {out_col} array<double>"

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mu, w = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            proj = (x - mu) @ w.T
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                out_col: list(proj),
            })

    return corpus.select(id_col, vec_col).mapInPandas(_op, schema=schema)
