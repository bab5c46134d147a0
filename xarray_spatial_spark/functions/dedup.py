"""Deduplication for web-scale corpora — exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design (100 TB, 10^12 docs):

- exact: hash-groupBy on xxhash64(text) — the shuffle carries 8-byte
  keys, never the text; partial counts combine map-side.
- n-gram Jaccard: shingle inverted index self-join; the join key is an
  8-byte shingle hash; candidate pruning by requiring >= 1 shared
  shingle before the exact Jaccard is computed from intersection
  counts (no per-pair re-scan of text).
- MinHash+LSH: one explode pass computes all m signature slots from a
  single xxhash64 per shingle via m affine permutations ((a_i * h +
  b_i) mod p) — m aggregates in one groupBy; banding turns candidate
  generation into an equi-join on (band, band_hash), the classic
  sub-quadratic path.
- SimHash: 64-bit sign-sum of token hashes in a vectorized pandas UDF;
  near-dups = equal simhash (or banded Hamming buckets).
- embedding cosine: random-hyperplane LSH buckets (deterministic
  seeded planes), exact cosine verify inside buckets.

All randomness is fixed-seed constants — identical output at any
parallelism, the determinism rule of the whole engine.
"""

from __future__ import annotations

import math
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^31-1 (prime). Keeping the permutation domain at 31 bits makes
# a*h+b < 2^62, inside int64 under ANSI overflow checking (Spark 4
# default) — no try_multiply, no silent wraparound.
MERSENNE31 = (1 << 31) - 1


def _perm_constants(m: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE31 - 1, m, dtype=np.int64)
    b = rng.integers(0, MERSENNE31 - 1, m, dtype=np.int64)
    return a, b


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical documents: (text_hash, n_dups, doc_ids
    sorted).  Only hashes shuffle."""
    return (
        df.select(F.xxhash64(text_col).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def distinct_by_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (smallest id) per distinct text —
    the dedup *apply* step."""
    w = Window.partitionBy(F.xxhash64(text_col)).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def snapshot_dedup(
    df: DataFrame,
    key_cols: list[str] | str = "url",
    ts_col: str = "warc_ts",
    tie_cols: list[str] | None = None,
) -> DataFrame:
    """Keep the LATEST capture per key — the Common-Crawl recrawl rule
    (a url appears once per crawl snapshot; training pipelines keep the
    newest page).

    Scale design: ``max_by`` over a struct, NOT a row_number window —
    the aggregate (SortAggregate; struct ordering isn't hash-aggregable)
    still combines partials map-side, so only one candidate row per
    (key, map task) ever shuffles, where a window would shuffle every
    capture of every url.  Hot keys (a url recrawled millions of times)
    stay bounded for free.

    Ordering is (ts, *tie_cols) lexicographic, largest wins.  Pass
    ``tie_cols`` that make the order total per key (e.g. a digest) or
    equal-ts winners are documented-arbitrary.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    ties = list(tie_cols or [])
    payload = [c for c in df.columns if c not in keys]
    ordk = F.struct(F.col(ts_col), *[F.col(t) for t in ties])
    agg = df.groupBy(*keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload]), ordk).alias("_r")
    )
    return agg.select(*keys, *[F.col(f"_r.{c}").alias(c) for c in payload])


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | str = "url",
    digest_col: str = "digest",
) -> DataFrame:
    """Crawl-over-crawl change set: per key, ``status`` is 'added'
    (key only in the new snapshot), 'gone' (only in the old),
    'changed' (both sides, digests differ) or 'same' — the incremental
    ingest primitive (re-extract only added+changed, retire gone).

    Scale shape: both sides pre-project to (keys, digest) BEFORE the
    full-outer join, so the one shuffle carries ~40 B/page, never
    payloads; at 10^12 pages that is TBs -> tens of GBs.  Join back
    to the new snapshot on the filtered keys to fetch payloads for
    just the changed slice.  Assumes one row per key per side (run
    :func:`snapshot_dedup` first on raw captures)."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    # presence markers, not digest nullity: a present key with a NULL
    # digest must not masquerade as added/gone
    o = old.select(*keys, F.col(digest_col).alias("_od"),
                   F.lit(1).alias("_oin"))
    n = new.select(*keys, F.col(digest_col).alias("_nd"),
                   F.lit(1).alias("_nin"))
    j = o.join(n, keys, "full_outer")
    return j.select(
        *keys,
        F.when(F.col("_oin").isNull(), F.lit("added"))
        .when(F.col("_nin").isNull(), F.lit("gone"))
        .when(F.col("_od").eqNullSafe(F.col("_nd")), F.lit("same"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def near_dup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Near-duplicate PAIRS (from minhash/simhash/jaccard/embedding)
    -> transitive duplicate GROUPS: (doc_id, group_id) where group_id
    is the smallest doc id in the connected cluster — the keep-one
    apply step keeps ``doc_id == group_id``.  Pair generation is
    sub-quadratic LSH; the transitive closure is
    :func:`regions.connected_components` (pointer-jumped min-label), so
    chains of pairwise-similar docs collapse into one group even when
    the endpoints were never a candidate pair themselves."""
    from xarray_spatial_spark.operators.regions import connected_components

    return connected_components(pairs, src=id_a, dst=id_b).select(
        F.col("node").alias("doc_id"), F.col("label").alias("group_id")
    )


# ---------------------------------------------------------------------------
# shingles + n-gram Jaccard
# ---------------------------------------------------------------------------


def shingles(df: DataFrame, k: int = 5, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Distinct character k-shingles per doc: (id, shingle)."""
    n = F.length(text_col) - (k - 1)
    idx = F.sequence(F.lit(1), F.greatest(n, F.lit(0)))
    return (
        df.select(F.col(id_col), F.explode(idx).alias("_i"),
                  F.col(text_col).alias("_t"))
        .select(id_col, F.substring(F.col("_t"), F.col("_i"), k).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """All pairs with character-k-gram Jaccard >= threshold.

    inverted-index self-join: |intersection| from a groupBy on the
    shingle join, |union| = |A| + |B| - |intersection|.  Join keys are
    hashed shingles (8 bytes).

    ``max_shingle_df`` caps the document frequency of shingles used
    for CANDIDATE GENERATION: a stop-shingle ("the t") appearing in
    ~every doc makes the self-join quadratic at corpus scale.  With a
    cap, candidates come from rare shingles only, and the exact
    Jaccard of each candidate pair is then recomputed over ALL
    shingles (a second join keyed by doc id, skew-free), so reported
    jaccard values are unchanged — only pairs whose every common
    shingle is a stop-shingle are missed, which at threshold >= 0.5
    requires a pathological all-stop-shingle document."""
    # the shingle subtree feeds sizes, the df-cap filter, both
    # candidate sides, and the exact-intersection re-joins — persist
    # the 16-byte (id, hash) rows once
    sh = shingles(df, k, text_col, id_col).select(
        F.col(id_col).alias("_id"), F.xxhash64("shingle").alias("_sh")
    ).persist()
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("_sh")
        )
        cand_sh = sh.join(rare, "_sh")
        a = cand_sh.select(F.col("_id").alias("id_a"), "_sh")
        b = cand_sh.select(F.col("_id").alias("id_b"), "_sh")
        cands = (
            a.join(b, "_sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # exact intersection over ALL shingles, restricted to candidates
        inter = (
            cands.join(sh.select(F.col("_id").alias("id_a"), "_sh"), "id_a")
            .join(sh.select(F.col("_id").alias("id_b"), "_sh"), ["id_b", "_sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_common"))
        )
    else:
        a = sh.select(F.col("_id").alias("id_a"), "_sh")
        b = sh.select(F.col("_id").alias("id_b"), "_sh")
        inter = (
            a.join(b, "_sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_common"))
        )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("_sz").alias("_szb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("_common") / (F.col("_sza") + F.col("_szb") - F.col("_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — min over shingles of m
    affine permutations of one xxhash64."""
    a, b = _perm_constants(num_hashes, seed)
    sh = shingles(df, k, text_col, id_col).select(
        id_col, F.pmod(F.xxhash64("shingle"), F.lit(MERSENNE31)).alias("_h")
    )
    mins = [
        F.min(F.pmod(F.col("_h") * F.lit(int(a[i])) + F.lit(int(b[i])),
                     F.lit(MERSENNE31))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig")
    )


def minhash_signatures_fast(
    df: DataFrame,
    num_hashes: int = 64,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Signature computation without the shingle explode: one
    mapInPandas pass computes per-doc shingle hashes with a vectorized
    polynomial rolling hash (codepoints via utf-32 view, sliding-window
    dot, uint64 wraparound) and takes all m permutation minima in one
    numpy broadcast.  No shuffle at all — the explode+distinct+groupBy
    of the expression path becomes a map-only stage (~10x at sf0.1).

    Same LSH semantics, different shingle hash function than
    ``minhash_signatures`` (polynomial vs xxhash64) — signatures are
    not interchangeable between the two paths."""
    a, b = _perm_constants(num_hashes, seed)
    B = np.uint64(1099511628211)  # FNV prime as the polynomial base
    powers = B ** np.arange(k, dtype=np.uint64)
    m31 = np.uint64(MERSENNE31)
    a_u = a.astype(np.uint64)
    b_u = b.astype(np.uint64)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            sigs = []
            for t in pdf[text_col].fillna(""):
                if len(t) < k:
                    sigs.append(np.full(num_hashes, MERSENNE31, dtype=np.int64))
                    continue
                codes = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32)
                win = sliding_window_view(codes, k).astype(np.uint64)
                h = (win * powers).sum(axis=1) % m31  # uint64 wraparound ok
                h = np.unique(h)
                # (m, n_shingles) permutations -> min per row
                sig = ((a_u[:, None] * h[None, :] + b_u[:, None]) % m31).min(axis=1)
                sigs.append(sig.astype(np.int64))
            yield pd.DataFrame({id_col: ids, "sig": sigs})

    from xarray_spatial_spark.functions.spread import spread

    return spread(df.select(id_col, text_col)).mapInPandas(
        _op, schema=f"{id_col} long, sig array<long>"
    )


def minhash_band_plan(threshold: float, num_hashes: int = 64) -> int:
    """Band count whose LSH S-curve knee sits nearest ``threshold``.

    With b bands of r = num_hashes/b rows, a pair at Jaccard s becomes
    a candidate with prob 1-(1-s^r)^b, whose knee is ~(1/b)^(1/r)
    (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets §3.4.3).
    Choosing b this way minimizes wasted verify work below the
    threshold and missed candidates above it; a fixed band count is
    only right for one threshold."""
    best_b, best_gap = None, float("inf")
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        knee = (1.0 / b) ** (b / num_hashes)  # (1/b)^(1/r)
        gap = abs(knee - threshold)
        if gap < best_gap:
            best_b, best_gap = b, gap
    return best_b


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 16,
    id_col: str = "doc_id",
    num_hashes: int | None = None,
) -> DataFrame:
    """Banding: equal band-slice -> candidate pair.  Returns distinct
    (id_a, id_b) with the number of agreeing bands.  Pass
    ``num_hashes`` to skip the signature-width probe job."""
    if num_hashes is None:
        num_hashes = sigs.select(F.size("sig")).limit(1).collect()[0][0]
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(F.slice("sig", i * r + 1, r).cast("string")).alias(
                            "bh"
                        ),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(id_col, "_b.band", "_b.bh")
    x = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
    y = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
    return (
        x.join(y, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int | None = 16,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    fast: bool = True,
) -> DataFrame:
    """LSH candidates verified by signature-estimated Jaccard
    (fraction of agreeing minhash slots).  ``fast`` uses the map-only
    signature path (minhash_signatures_fast).  ``bands=None`` lets
    :func:`minhash_band_plan` fit the banding to ``threshold``."""
    if bands is None:
        bands = minhash_band_plan(threshold, num_hashes)
    sig_fn = minhash_signatures_fast if fast else minhash_signatures
    # the signature subtree feeds THREE consumers (banding + both
    # verify joins) — persist it once instead of recomputing the
    # shingle/permutation pass per consumer (sigs are 8*num_hashes
    # bytes/doc, far smaller than the texts they summarize)
    sigs = sig_fn(df, num_hashes, k, text_col, id_col).persist()
    cands = minhash_lsh_candidates(sigs, bands, id_col, num_hashes=num_hashes)
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("_siga"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("_sigb"))
    est = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(F.filter(F.zip_with("_siga", "_sigb", lambda x, y: x == y),
                            lambda v: v))
            / F.lit(float(num_hashes)),
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard", "n_bands"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens — one map-only pass.

    Fully vectorized: all tokens of an Arrow batch are hashed together
    (FNV-1a advanced one BYTE POSITION at a time across every token at
    once — max-token-length vectorized rounds instead of a Python loop
    per byte), and per-document bit-plane sums come from one
    ``np.add.reduceat`` over the flat token matrix.  Bit-identical to
    the scalar FNV-1a definition."""
    schema = f"{id_col} long, simhash long"
    FNV_OFF = np.uint64(0xCBF29CE484222325)
    FNV_PRIME = np.uint64(0x100000001B3)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            out_ids = pdf[id_col].to_numpy()
            token_lists = [t.split() for t in pdf[text_col].fillna("")]
            n_tokens = np.array([len(t) for t in token_lists], dtype=np.int64)
            hashes = np.zeros(len(pdf), dtype=np.int64)
            flat = [w.encode("utf-8") for toks in token_lists for w in toks]
            if flat:
                lens = np.fromiter(map(len, flat), dtype=np.int64, count=len(flat))
                buf = np.frombuffer(b"".join(flat), dtype=np.uint8)
                offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
                hv = np.full(len(flat), FNV_OFF, dtype=np.uint64)
                # FNV-1a: one vectorized round per byte position
                for j in range(int(lens.max())):
                    sel = np.flatnonzero(lens > j)
                    hv[sel] = (hv[sel] ^ buf[offs[sel] + j].astype(np.uint64)) \
                        * FNV_PRIME
                planes = ((hv[:, None] >> bits[None, :]) & np.uint64(1)).astype(
                    np.int64
                )
                signed = 2 * planes - 1
                doc_starts = np.concatenate(([0], np.cumsum(n_tokens)[:-1]))
                nonempty = n_tokens > 0
                acc = np.add.reduceat(signed, doc_starts[nonempty], axis=0)
                hbits = (acc > 0).astype(np.uint64)
                vals = (hbits << bits[None, :]).sum(axis=1, dtype=np.uint64)
                hashes[nonempty] = vals.astype(np.int64)
            yield pd.DataFrame({id_col: out_ids, "simhash": hashes})

    from xarray_spatial_spark.functions.spread import spread

    return spread(df.select(id_col, text_col)).mapInPandas(_op, schema=schema)


def _fnv1a64(s: str) -> np.uint64:
    """Scalar FNV-1a (tests / reference twin of the vectorized path)."""
    h = np.uint64(0xCBF29CE484222325)
    for byte in s.encode("utf-8"):
        h = np.uint64((int(h) ^ byte) * 0x100000001B3 & 0xFFFFFFFFFFFFFFFF)
    return h


def simhash_band_plan(
    n_docs: int, max_hamming: int, max_tables: int = 35
) -> tuple[int, int]:
    """Choose the (n_blocks, combo_size) banding for
    :func:`simhash_near_duplicates` — the Manku et al. (WWW'07,
    near-duplicate detection for web crawling) table layout, picked by
    expected cost instead of fixed.

    Split 64 bits into ``n_blocks``; any pair within Hamming distance
    d agrees on at least ``n_blocks - d`` whole blocks (pigeonhole),
    so keying every combination of ``combo = n_blocks - d`` blocks
    guarantees recall.  More blocks = more tables (C(nb, c) keys per
    doc) but LONGER keys (c * 64/nb bits) = exponentially fewer random
    collisions.  Cost model: explode rows ``tables * n`` plus expected
    colliding pairs ``tables * n^2 / 2^key_bits``; minimal nb wins for
    small corpora, multi-block layouts win past ~10^6 docs.
    """
    d = max_hamming
    if not 0 <= d <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {d}")

    def cost(nb: int) -> float:
        c = nb - d
        tables = math.comb(nb, c)
        key_bits = c * (64 // nb)  # conservative (smallest blocks)
        return tables * float(n_docs) ** 2 / (2.0 ** key_bits) \
            + float(n_docs) * tables

    # the minimal pigeonhole layout (d+1 single-block bands) is always
    # admissible — it is what the pre-planner code hard-wired — even
    # when d+1 exceeds max_tables; alternatives must fit the cap
    best = (cost(d + 1), d + 1, 1)
    for nb in range(d + 2, min(4 * (d + 1), 64) + 1):
        if math.comb(nb, nb - d) > max_tables:
            continue
        exp = cost(nb)
        if exp < best[0]:
            best = (exp, nb, nb - d)
    return best[1], best[2]


def _approx_rows(df: DataFrame, bytes_per_row: int = 200) -> int:
    """Order-of-magnitude row-count ESTIMATE from optimizer stats —
    runs NO job.  Prefers the plan's exact ``rowCount`` statistic when
    present; otherwise divides plan ``sizeInBytes`` by the SMALLER of
    ``bytes_per_row`` and the schema's estimated row width, so a
    narrow projection (e.g. id + simhash, ~16 B/row) doesn't shrink
    the estimate 10x below real rows.  Can still undershoot on
    well-compressed scans (file-size-based stats); callers holding an
    exact count should pass it through (``n_docs``).

    Only feeds banding cost models, which need decade accuracy;
    layout choice affects COST only, never results (pigeonhole recall
    holds for any layout), and an unknown-size plan (Long.MaxValue
    bytes) degrades to the longest-key admissible layout."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return max(1, int(rc.get().toString()))
    raw = stats.sizeInBytes()
    size = raw if isinstance(raw, int) else int(raw.toString())
    # Spark-defaultSize-style per-row width of the visible schema
    _w = {"long": 8, "bigint": 8, "double": 8, "int": 4, "integer": 4,
          "float": 4, "short": 2, "byte": 1, "boolean": 1,
          "timestamp": 8, "date": 4, "string": 20}
    width = sum(_w.get(f.dataType.simpleString(), 20) for f in df.schema)
    return max(1, size // max(1, min(bytes_per_row, width)))


def simhash_near_duplicates(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Pairs whose simhashes differ in <= ``max_hamming`` bits.

    Banded Hamming LSH, generalized: 64 bits split into ``n_blocks``;
    candidates are an equi-join on an 8-byte hash of each
    ``n_blocks - max_hamming``-block combination (pigeonhole gives
    guaranteed recall for ANY valid layout), then bit_count(xor)
    verifies exactly — so the banding choice affects cost only, never
    results.  By default the layout comes from
    :func:`simhash_band_plan` using ``n_docs``; when neither
    ``n_docs`` nor ``n_blocks`` is given, the row count is estimated
    from optimizer statistics (:func:`_approx_rows`, NO job — the
    cost model needs decade accuracy only, and the estimate errs
    toward longer keys).  Pass the exact ``n_docs`` when you already
    hold it.  Exact-collide duplicates are the max_hamming=0 case."""
    # both self-join sides consume the simhash subtree: persist the
    # 8-byte-per-doc signatures instead of re-running the token pass
    sig = simhash(df, text_col, id_col).persist()
    return hamming_near_duplicates(
        sig, hash_col="simhash", id_col=id_col,
        max_hamming=max_hamming, n_blocks=n_blocks, n_docs=n_docs,
    )


def hamming_near_duplicates(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_blocks: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Pairs whose 64-bit ``hash_col`` values differ in <=
    ``max_hamming`` bits — the banded-Hamming core shared by simhash
    text near-dup and phash image near-dup (any int64 fingerprint
    works).  Semantics and cost model as in
    :func:`simhash_near_duplicates`: pigeonhole block-combination
    equi-join guarantees recall for ANY valid layout; bit_count(xor)
    verifies exactly, so banding affects cost only.  The input should
    be the (id, hash) frame itself or a persisted subtree — BOTH join
    sides consume it."""
    d = max_hamming
    if n_blocks is None:
        if n_docs is None:
            n_docs = _approx_rows(df)
        n_blocks, combo = simhash_band_plan(n_docs, d)
    else:
        combo = n_blocks - d
    if combo < 1:
        raise ValueError(
            f"n_blocks ({n_blocks}) must exceed max_hamming ({d})"
        )
    n_tables = math.comb(n_blocks, combo)
    if n_tables > 256:
        raise ValueError(
            f"hamming banding with n_blocks={n_blocks}, max_hamming={d} "
            f"needs C({n_blocks},{combo}) = {n_tables} keys per doc; "
            f"use simhash_band_plan (or n_blocks <= {d + 2}) instead"
        )
    # block widths: distribute 64 bits as evenly as possible
    widths = [64 // n_blocks + (1 if i < 64 % n_blocks else 0)
              for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    block_cols = [
        F.shiftrightunsigned(F.col(hash_col), offsets[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_blocks)
    ]
    from itertools import combinations

    keys = [
        F.struct(
            F.lit(ci).alias("band"),
            F.xxhash64(F.lit(ci), *[block_cols[b] for b in S]).alias("bh"),
        )
        for ci, S in enumerate(combinations(range(n_blocks), combo))
    ]
    banded = df.select(
        id_col, hash_col, F.explode(F.array(*keys)).alias("_b")
    ).select(id_col, hash_col, "_b.band", "_b.bh")
    x = banded.select(F.col(id_col).alias("id_a"),
                      F.col(hash_col).alias("_ha"), "band", "bh")
    y = banded.select(F.col(id_col).alias("id_b"),
                      F.col(hash_col).alias("_hb"), "band", "bh")
    return (
        x.join(y, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_ha", "_hb")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Docs whose 64-bit simhash collides exactly (near-identical token
    multisets)."""
    s = simhash(df, text_col, id_col)
    return (
        s.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_dups"),
             F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (random hyperplane LSH + exact verify)
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """Pairs with cosine >= threshold.  Random-hyperplane signature
    buckets candidates (equal signature); exact cosine verifies.
    For near-dup thresholds (cos ~ 1) equal-signature bucketing has
    high recall; the plane set is deterministic."""
    if dim is None:
        dim = len(df.select(vec_col).limit(1).collect()[0][0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_planes, dim))
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(planes)

    schema = f"{id_col} long, sig long, norm double, vec array<float>"

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = bc.value
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].to_numpy())
            proj = vecs @ p.T > 0
            sig = (proj.astype(np.uint64) << np.arange(n_planes, dtype=np.uint64)).sum(
                axis=1
            ).astype(np.int64)
            norm = np.linalg.norm(vecs, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "sig": sig,
                    "norm": norm,
                    "vec": list(vecs),
                }
            )

    sigs = df.select(id_col, vec_col).mapInPandas(_sig, schema=schema)

    # Pair scoring runs INSIDE a per-bucket numpy kernel instead of a
    # sig self-join whose every candidate row paid an O(dim)
    # interpreted Catalyst fold (the ivf_topk lesson, guide §4.2).
    # Numerics replicate the old fold bit-for-bit: products in
    # float32 (zip_with on array<float>), then a strict left-to-right
    # float64 accumulation (cumsum), so the emitted cosines — and the
    # threshold decisions — are unchanged.
    thr = float(threshold)

    def _pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": np.int64, "id_b": np.int64, "cosine": np.float64}
        )
        if n < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        vecs = np.stack(pdf["vec"].to_numpy())[order]          # float32
        norms = pdf["norm"].to_numpy()[order]                  # float64
        out_a, out_b, out_c = [], [], []
        # upper-triangle pairs block by block over left rows (row-major,
        # as np.triu_indices orders them), so index memory is
        # O(block * n) however large one bucket grows
        step = max(1, 65536 // n)
        for lo in range(0, n - 1, step):
            left = np.arange(lo, min(lo + step, n - 1))
            width = n - 1 - left                               # pairs per left row
            ja = np.repeat(left, width)
            first = np.cumsum(width) - width                   # block offset of each row
            jb = np.arange(len(ja)) - np.repeat(first - left - 1, width)
            prod = vecs[ja] * vecs[jb]                         # float32 products
            dots = np.cumsum(prod.astype(np.float64), axis=1)[:, -1]
            cos = dots / (norms[ja] * norms[jb])
            keep = cos >= thr
            # two rows repeating one id in a bucket are not a pair
            keep &= ids[ja] != ids[jb]
            out_a.append(ids[ja[keep]])
            out_b.append(ids[jb[keep]])
            out_c.append(cos[keep])
        if not out_a:
            return empty
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cosine": np.concatenate(out_c),
        })

    return sigs.groupBy("sig").applyInPandas(
        _pairs, schema="id_a long, id_b long, cosine double"
    )


# ---------------------------------------------------------------------------
# line-level boilerplate dedup + benchmark decontamination
# ---------------------------------------------------------------------------


def line_dedup(
    df: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Strip lines that appear in >= ``min_df`` distinct documents
    (C4/RefinedWeb-style boilerplate removal: nav bars, cookie
    banners, footers).

    Plan: posexplode lines -> xxhash64 (8-byte keys; collision odds
    ~n^2/2^64 are the standard trade) -> distinct-doc counts with
    map-side partial agg -> left_anti join back -> per-doc reassembly
    ordered by original position.  Every stage shuffles line-hash or
    doc-id keys, never full texts twice; documents that lose every
    line come back with empty text (not dropped)."""
    lines = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )
    hashed = lines.withColumn("_lh", F.xxhash64("_line"))
    hot = (
        hashed.groupBy("_lh")
        .agg(F.count_distinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
    )
    kept = hashed.join(hot, "_lh", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_line"))),
                lambda s: s["_line"],
            ),
        ).alias(text_col)
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def _word_ngram_hashes(
    df: DataFrame, n: int, text_col: str, id_col: str, dedup: bool = True
) -> DataFrame:
    """Hashed word n-grams per row: (id, _ng); ``dedup`` makes them
    distinct per corpus (a full shuffle — skip it when a downstream
    map-side join prunes first).

    Fully vectorized Arrow pass (the Catalyst transform/slice HOF twin
    was interpreted per gram — ~6x slower): FNV-1a token hashes
    advance one byte position at a time across every token of the
    batch, then each gram hash is the polynomial combine of its n
    consecutive token hashes over the batch-flat array, with windows
    crossing document boundaries masked out.  Any injective gram hash
    works here — both corpus and eval sides use this same function."""
    schema = f"{id_col} long, _ng long"
    FNV_OFF = np.uint64(0xCBF29CE484222325)
    FNV_PRIME = np.uint64(0x100000001B3)
    POLY = np.uint64(1099511628211)

    def _op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        powers = np.empty(n, dtype=np.uint64)
        powers[0] = np.uint64(1)
        for j in range(1, n):
            powers[j] = powers[j - 1] * POLY  # wraps mod 2^64
        ws = re.compile(r"\s+")
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            token_lists = [
                ws.split(t.strip(" ")) for t in pdf[text_col].fillna("")
            ]
            n_tokens = np.array([len(t) for t in token_lists], dtype=np.int64)
            flat = [w.encode("utf-8") for toks in token_lists for w in toks]
            if len(flat) < n:
                yield pd.DataFrame({id_col: ids[:0], "_ng": []})
                continue
            lens = np.fromiter(map(len, flat), dtype=np.int64, count=len(flat))
            buf = np.frombuffer(b"".join(flat), dtype=np.uint8)
            offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
            hv = np.full(len(flat), FNV_OFF, dtype=np.uint64)
            for j in range(int(lens.max()) if len(lens) else 0):
                sel = np.flatnonzero(lens > j)
                hv[sel] = (hv[sel] ^ buf[offs[sel] + j].astype(np.uint64)) \
                    * FNV_PRIME
            g = len(flat) - n + 1
            gh = np.zeros(g, dtype=np.uint64)
            for j in range(n):
                gh += hv[j:j + g] * powers[j]
            doc_of = np.repeat(np.arange(len(ids)), n_tokens)
            valid = doc_of[:g] == doc_of[n - 1:]
            yield pd.DataFrame(
                {id_col: ids[doc_of[:g][valid]],
                 "_ng": gh[valid].astype(np.int64)}
            )

    out = df.select(id_col, text_col).mapInPandas(_op, schema=schema)
    return out.distinct() if dedup else out


def ngram_contamination(
    df: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    eval_text_col: str = "text",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination scan: (id, n_shared) for every
    training document sharing >= 1 word ``n``-gram with the eval set
    (the GPT-3/PaLM 13-gram rule; pass ``n`` to taste).

    Eval sets are small (KBs-MBs of benchmark text), so the distinct
    eval n-gram hashes BROADCAST and the scan is map-side against the
    full corpus; ``broadcast_eval=False`` falls back to an equi-join
    on the 8-byte hash for giant eval sets.  Filter the corpus with a
    left_anti join on the result to decontaminate."""
    # synthesize an eval-side row id: eval_df may carry only a text
    # column (or a string-typed first column), and _word_ngram_hashes
    # needs a distinct long id column
    ev_src = eval_df.select(
        F.monotonically_increasing_id().alias("_eid"),
        F.col(eval_text_col),
    )
    ev = _word_ngram_hashes(
        ev_src, n, eval_text_col, "_eid"
    ).select("_ng").distinct()
    if broadcast_eval:
        # map-side broadcast join prunes ~everything before any
        # shuffle: skip the full-corpus gram distinct and count
        # DISTINCT survivors per doc instead (same n_shared)
        doc_ng = _word_ngram_hashes(df, n, text_col, id_col, dedup=False)
        return (
            doc_ng.join(F.broadcast(ev), "_ng")
            .groupBy(id_col)
            .agg(F.count_distinct("_ng").alias("n_shared"))
        )
    doc_ng = _word_ngram_hashes(df, n, text_col, id_col)
    return (
        doc_ng.join(ev, "_ng")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Bloom-filter membership (URL-seen / giant-reference decontamination)
# ---------------------------------------------------------------------------
#
# Where the exact paths above stop scaling: `decontaminate` /
# `snapshot_dedup` broadcast the reference side's 8-byte hashes, which
# caps the reference at executor memory (1B URLs = 8 GB).  A Bloom
# filter at ~10 bits/element holds the same 1B-entry seen-set in
# 1.2 GB with ~1% false positives — the classic crawl "have I fetched
# this URL in ANY previous snapshot" structure.  Semantics: NO false
# negatives ever (a seen value is always flagged); false positives
# drop ~fpp of genuinely-new rows — use where losing a random ~1% of
# new rows is acceptable (crawl frontier, pre-filter before an exact
# check).
#
# Scale split: string hashing stays JVM-side (xxhash64 inside
# codegen); the k bit indices are splitmix64 remixes of that single
# 8-byte hash, vectorized in numpy — the build aggregates per-WORD
# bit_or partials (exchange rows bounded by OCCUPIED BITMAP WORDS,
# never by n), the probe is an Arrow-batched pandas_udf against the
# per-executor broadcast bitmap.


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15))
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _bloom_positions(h: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """(n,) uint64 hash values -> (n, k) bit positions via standard
    double hashing h1 + i*h2 (Kirsch-Mitzenmacher: two derived
    hashes give the asymptotic fpp of k independent ones)."""
    h1 = _splitmix64(h)
    h2 = _splitmix64(h1) | np.uint64(1)  # odd stride
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)


def bloom_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (n_bits, k): m = -n ln p / (ln 2)^2, k = (m/n) ln 2;
    n_bits rounded up to a whole 64-bit word."""
    import math

    n_items = max(1, n_items)
    m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) // 64 * 64
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def bloom_build(df: DataFrame, col: str, n_bits: int, k: int = 7) -> np.ndarray:
    """Distributed build -> bitmap as uint64 words (len n_bits/64).
    Each Arrow batch pre-ORs its positions into sparse
    (word, bits) partials; one bit_or hash aggregation merges tasks.
    The driver collect is bounded by occupied words <= n_bits/64 —
    independent of row count."""
    hashed = df.select(F.xxhash64(F.col(col)).alias("_h"))
    n_words = n_bits // 64

    def _partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            h = pdf["_h"].to_numpy().astype(np.int64).view(np.uint64)
            pos = _bloom_positions(h, n_bits, k).ravel()
            words = (pos >> np.uint64(6)).astype(np.int64)
            masks = (np.uint64(1) << (pos & np.uint64(63))).view(np.int64)
            dense = np.zeros(n_words, np.int64)
            np.bitwise_or.at(dense, words, masks)
            occ = np.nonzero(dense)[0]
            yield pd.DataFrame({"w": occ, "bits": dense[occ]})

    sparse = hashed.mapInPandas(_partial, schema="w long, bits long")
    rows = sparse.groupBy("w").agg(F.expr("bit_or(bits)").alias("bits")).collect()
    bitmap = np.zeros(n_words, np.int64)
    for r in rows:
        bitmap[r["w"]] = r["bits"]
    return bitmap.view(np.uint64)


def bloom_might_contain(spark, bitmap: np.ndarray, col, k: int = 7):
    """Boolean Column: value MIGHT be in the set (false positives at
    the filter's fpp, never a false negative).  One broadcast per
    filter; vectorized probe over the JVM-computed xxhash64."""
    from pyspark.sql.functions import pandas_udf

    n_bits = len(bitmap) * 64
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(bitmap))

    @pandas_udf("boolean")
    def _probe(h: pd.Series) -> pd.Series:
        bm = bc.value
        hv = h.to_numpy().astype(np.int64).view(np.uint64)
        if not len(hv):
            return pd.Series([], dtype=bool)
        pos = _bloom_positions(hv, n_bits, k)
        w, b = pos >> np.uint64(6), pos & np.uint64(63)
        hit = (bm[w] >> b) & np.uint64(1)
        return pd.Series(hit.all(axis=1))

    return _probe(F.xxhash64(col))


def bloom_filter_seen(
    df: DataFrame,
    seen_df: DataFrame,
    col: str = "url",
    seen_col: str | None = None,
    fpp: float = 0.01,
    expected_items: int | None = None,
) -> DataFrame:
    """Drop rows whose ``col`` value appears in ``seen_df`` — the
    cross-snapshot URL-seen filter.  Every seen row IS dropped (no
    false negatives); ~fpp of new rows go as collateral.
    ``expected_items`` sizes the bitmap; when omitted, one count()
    job on the seen side (reference sets are the stored, known side
    of this operation — pass the manifest count to skip the job)."""
    seen_col = seen_col or col
    if expected_items is None:
        expected_items = seen_df.count()
    n_bits, k = bloom_params(expected_items, fpp)
    bitmap = bloom_build(seen_df, seen_col, n_bits, k)
    return df.filter(
        ~bloom_might_contain(df.sparkSession, bitmap, F.col(col), k))


def bloom_save(bitmap: np.ndarray, k: int, path: str) -> None:
    """Persist a filter as a one-column parquet of bitmap words with
    ``k``/``n_bits`` in the file metadata — the cross-snapshot crawl
    state ("seen in ANY previous crawl"), stored in the same lake as
    the data so any engine can audit it.  Driver-side single-file
    write: the artifact is the bitmap itself (1.2 GB at 1B items /
    1% fpp), orders of magnitude under the rows it summarizes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"bits": pa.array(bitmap.view(np.int64), pa.int64())})
    table = table.replace_schema_metadata(
        {b"bloom_k": str(int(k)).encode(),
         b"bloom_n_bits": str(len(bitmap) * 64).encode()}
    )
    pq.write_table(table, path)


def bloom_load(path: str) -> tuple[np.ndarray, int]:
    """Load a :func:`bloom_save` artifact -> (bitmap uint64 words, k).
    Feed straight into :func:`bloom_might_contain` /
    :func:`bloom_merge` — the incremental-crawl loop is
    load -> filter new snapshot -> build on survivors -> merge ->
    save."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["bits"])
    meta = table.schema.metadata or {}
    if b"bloom_k" not in meta:
        raise ValueError(f"{path} is not a bloom_save artifact")
    bitmap = table["bits"].to_numpy().astype(np.int64).view(np.uint64)
    return np.ascontiguousarray(bitmap), int(meta[b"bloom_k"])


def bloom_merge(*bitmaps: np.ndarray) -> np.ndarray:
    """OR filters built with the SAME (n_bits, k) into one — Bloom
    union is exact: the merged filter answers as if built over the
    union of the input sets.  Raises on mismatched sizes (a union
    across different geometries is undefined)."""
    if not bitmaps:
        raise ValueError("bloom_merge needs at least one bitmap")
    sizes = {len(b) for b in bitmaps}
    if len(sizes) != 1:
        raise ValueError(f"mismatched bitmap sizes: {sorted(sizes)}")
    out = bitmaps[0].copy()
    for b in bitmaps[1:]:
        out |= b
    return out


# ---------------------------------------------------------------------------
# Exact duplicate-substring spans (Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" — the suffix-array
# dedup, re-expressed as distributed rolling windows)
# ---------------------------------------------------------------------------
#
# The published algorithm builds one suffix array over the whole
# corpus — inherently single-node.  The Spark-first equivalent: hash
# every k-token window (stride 1 — EVERY duplicate run of >= k tokens
# is caught, exactly; document-aligned striding was rejected because
# two copies at offsets r0 != r1 (mod s) never sample the same
# window, so it silently loses the guarantee), count occurrences per
# hash with a map-side-combined aggregate, join the >=2 hashes back,
# and merge each document's duplicated windows into maximal spans
# with a pure-Catalyst interval merge.  The shuffle is ~24 B/token —
# the same order as the suffix array's memory, but partitioned.  A
# content-defined thinning (winnowing, Schleimer et al. 2003) is the
# right sub-linear knob and must anchor on hash minima, not document
# offsets — implemented below as winnow_fingerprints/winnow_candidates.
#
# Scale shape: window strings are hashed INSIDE the scan stage
# (xxhash64, codegen) so the exchange carries (hash, doc, pos) =
# ~24 B/window, never the text; boilerplate hot hashes (the same
# sentence on millions of pages) collapse map-side in the count agg
# and join back 1:1, so no reducer sees a hot hash's raw windows; the
# islands pass shuffles once by doc_id and its groupBy reuses that
# partitioning (HashPartitioning(doc) satisfies clustering on
# (doc, island)).

#: owner key = doc_id * _POS_SHIFT + pos; callers with > ~1M tokens
#: per document should chunk first (functions/corpus.py chunk_docs).
_POS_SHIFT = 1 << 20


def duplicate_spans(
    df: DataFrame,
    k: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_first: bool = True,
) -> DataFrame:
    """Maximal spans of >= k whitespace tokens that occur verbatim
    more than once anywhere in the corpus.  With ``keep_first`` the
    globally first occurrence (min ``doc_id * 2^20 + pos``) is NOT
    reported — the Lee-et-al "remove all but one" policy; without it
    every occurrence is reported (boilerplate-strip policy).

    Returns (id_col, start_tok, end_tok, n_windows): token offsets
    [start_tok, end_tok) into ``tokens(text_col)``.
    """
    from pyspark.sql import Window

    from xarray_spatial_spark.functions.text import tokens

    from xarray_spatial_spark.functions.spread import spread

    # window hashing is an O(tokens * k) HOF in the scan stage — see
    # spread.py for why a single-row-group scan would serialize it.
    # xxhash64 hashes the k-token slice DIRECTLY (hash expressions
    # recurse into arrays): same equality semantics as hashing the
    # joined string, without materializing ~k*word bytes per window.
    base = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") >= k)
    wins = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - k),
                lambda i: F.xxhash64(F.slice("_toks", i + 1, k)),
            )
        ).alias("_widx", "_h"),
    ).select(
        id_col, F.col("_widx").cast("long").alias("pos"), "_h"
    ).persist()  # feeds the dup-stats aggregate AND the join probe:
    # without it the whole O(tokens * k) hashing pass runs twice

    okey = F.col(id_col) * _POS_SHIFT + F.col("pos")
    stats = (
        wins.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"), F.min(okey).alias("_owner"))
        .filter(F.col("_n") >= 2)
    )
    dup = wins.join(stats, "_h")
    if keep_first:
        dup = dup.filter(okey != F.col("_owner"))

    w = Window.partitionBy(id_col).orderBy("pos")
    run_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    dup = dup.withColumn(
        "_new", (F.col("pos") > F.coalesce(run_end, F.lit(-1))).cast("int")
    ).withColumn("_g", F.sum("_new").over(w))
    return dup.groupBy(id_col, "_g").agg(
        F.min("pos").alias("start_tok"),
        F.max(F.col("pos") + k).alias("end_tok"),
        F.count(F.lit(1)).alias("n_windows"),
    ).drop("_g")


def remove_duplicate_spans(
    df: DataFrame,
    k: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Cut every reported duplicate span (first occurrence kept) out
    of ``text_col`` -> the input columns with ``text_col`` rewritten.
    Surviving tokens are re-joined with single spaces — intra-doc
    whitespace is normalized, the usual trade of token-level dedup.
    Pure Catalyst: the span list per doc joins in (spans ≪ corpus)
    and an indexed ``filter`` HOF drops covered tokens."""
    from xarray_spatial_spark.functions.text import tokens

    if spans is None:
        spans = duplicate_spans(df, k=k, id_col=id_col, text_col=text_col)
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("_spans")
    )
    joined = df.join(sp, id_col, "left")

    def _covered(i):
        return F.exists(
            F.col("_spans"),
            lambda s: (i >= s["start_tok"]) & (i < s["end_tok"]),
        )

    cleaned = F.when(F.col("_spans").isNull(), F.col(text_col)).otherwise(
        F.array_join(
            F.filter(tokens(F.col(text_col)), lambda t, i: ~_covered(i)),
            " ",
        )
    )
    return joined.withColumn(text_col, cleaned).drop("_spans")


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------
#
# The content-defined thinning that document-aligned striding cannot
# provide (see duplicate_spans): hash every k-token window, then keep
# only each w-window's MINIMUM hash.  Because selection depends only
# on hash values — not document offsets — any two copies of a run of
# >= k + w - 1 tokens contain a full w-window of identical hashes and
# therefore select at least one identical (hash, run-relative
# position) fingerprint, at ANY relative alignment.  Expected density
# of kept fingerprints on random text is 2/(w+1), so the exchange
# shrinks ~w/2 x versus the exact path while keeping a hard
# detection floor of k + w - 1 tokens.
#
# Scale shape: fingerprinting is a narrow Arrow-batched pass (the
# text never leaves the scan stage; the pandas UDF emits ~16 B per
# SELECTED window); candidate generation is the same bucketed
# equi-join-on-hash shape as minhash/simhash — never all-pairs.

_WINNOW_B = np.uint64(0x100000001B3)  # FNV-ish odd multiplier


def _winnow_doc(toks: list[str], k: int, w: int) -> list[tuple[int, int]]:
    """(pos, hash) fingerprints of one token list.  Polynomial k-gram
    hash over crc32 token hashes (uint64 wraparound), leftmost-min
    selection per w-window.  Pure numpy except the per-token crc32."""
    m = len(toks) - k + 1
    if m <= 0:
        return []
    th = np.array([zlib.crc32(t.encode()) + 1 for t in toks], dtype=np.uint64)
    with np.errstate(over="ignore"):
        pw = _WINNOW_B ** np.arange(k - 1, -1, -1, dtype=np.uint64)
        h = np.zeros(m, dtype=np.uint64)
        for j in range(k):  # k vectorized fma's, O(n*k) total
            h += th[j : j + m] * pw[j]
        h = _splitmix64(h)
    if m <= w:
        i = int(h.argmin())
        return [(i, int(h[i].view(np.int64)))]
    win = np.lib.stride_tricks.sliding_window_view(h, w)
    sel = np.unique(win.argmin(axis=1) + np.arange(m - w + 1))
    return [(int(i), int(h[i].view(np.int64))) for i in sel]


def winnow_fingerprints(
    df: DataFrame,
    k: int = 25,
    w: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, pos, fp) — winnowed k-gram fingerprints of every
    document.  Guarantee: two documents sharing a verbatim run of
    >= k + w - 1 whitespace tokens share at least one ``fp`` value;
    expected kept fraction ~2/(w+1) of all k-grams."""
    id_field = df.schema[id_col]

    def _fp(batches):
        for pdf in batches:
            ids, poss, hs = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                for pos, h in _winnow_doc((t or "").split(), k, w):
                    ids.append(i)
                    poss.append(pos)
                    hs.append(h)
            yield pd.DataFrame({id_col: ids, "pos": poss, "fp": hs})

    return df.select(id_col, text_col).mapInPandas(
        _fp, schema=f"{id_col} {id_field.dataType.simpleString()}, pos long, fp long"
    )


def winnow_candidates(
    df: DataFrame,
    k: int = 25,
    w: int = 50,
    min_shared: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, n_shared) candidate near-duplicate pairs: docs
    sharing >= min_shared winnowed fingerprints.  Equi-join on fp with
    a df-cap is NOT applied here — pair volume is bounded by the
    winnow density; apply an exact verifier (ngram_jaccard /
    duplicate_spans) downstream."""
    fps = winnow_fingerprints(
        df, k=k, w=w, id_col=id_col, text_col=text_col
    ).select(id_col, "fp").distinct()
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def resolve_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str | None = None,
) -> DataFrame:
    """The apply step after any pair generator: collapse each
    transitive near-duplicate cluster (:func:`near_dup_groups`) to ONE
    surviving document.  Default survivor = smallest id; with
    ``score_col`` the highest-scoring member wins (ties -> smallest
    id; ids must be numeric for the tie-break).  Docs in no pair pass
    through untouched.

    Scale: the groups table is CLUSTERED-DOCS-sized, not corpus-sized
    — the final anti-join on id is the only corpus-scale exchange."""
    groups = near_dup_groups(pairs, id_a=id_a, id_b=id_b)
    if score_col is None:
        losers = groups.filter(F.col("doc_id") != F.col("group_id"))
    else:
        scored = groups.join(
            docs.select(F.col(id_col).alias("doc_id"), score_col), "doc_id")
        winners = scored.groupBy("group_id").agg(
            F.expr(f"max_by(doc_id, struct({score_col}, -doc_id))")
            .alias("_win"))
        losers = groups.join(winners, "group_id").filter(
            F.col("doc_id") != F.col("_win"))
    return docs.join(
        losers.select(F.col("doc_id").alias(id_col)), id_col, "left_anti")


def near_dup_resolution(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str | None = None,
) -> DataFrame:
    """Per-document AUDIT of the keep-one decision that
    :func:`resolve_near_duplicates` applies: one row per input doc with
    ``(doc_id, group_id, n_members, kept)``.  Docs in no candidate pair
    are their own singleton group (``n_members = 1``, kept).  Within a
    transitive cluster the survivor is the highest-``score_col`` member
    (ties -> smallest id), or the smallest id when no score is given —
    identical rules to the apply step, so ``kept`` rows == the
    survivor set.

    Production dedup pipelines need this view, not just the survivor
    list: removal-rate reporting, cluster-size histograms, and manual
    spot checks of what was dropped all read it (the reference-world
    analog is the "dedup manifest" audit table).

    Scale: ``groups``/``sizes``/``winners`` are CLUSTERED-docs-sized
    (pairs come from sub-quadratic LSH, so clustered docs << corpus);
    the only corpus-scale exchange is the final left join on id, and
    the clustered-side tables broadcast when small."""
    groups = near_dup_groups(pairs, id_a=id_a, id_b=id_b)
    sizes = groups.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"))
    if score_col is None:
        winners = groups.groupBy("group_id").agg(
            F.min("doc_id").alias("_win"))
    else:
        scored = groups.join(
            docs.select(F.col(id_col).alias("doc_id"), score_col), "doc_id")
        winners = scored.groupBy("group_id").agg(
            F.expr(f"max_by(doc_id, struct({score_col}, -doc_id))")
            .alias("_win"))
    ann = (
        groups.join(sizes, "group_id").join(winners, "group_id")
        .select(F.col("doc_id").alias("_gd"), "group_id", "n_members",
                (F.col("doc_id") == F.col("_win")).alias("kept"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(ann, F.col("doc_id") == F.col("_gd"), "left")
        .select(
            "doc_id",
            F.coalesce("group_id", F.col("doc_id")).alias("group_id"),
            F.coalesce("n_members", F.lit(1)).alias("n_members"),
            F.coalesce("kept", F.lit(True)).alias("kept"),
        )
    )
