"""Frequency sketches: exact distributed heavy hitters and Count-Min.

Two passes at corpus scale, both with hard guarantees:

- :func:`heavy_hitters` — EXACT top-k frequent values in two jobs
  with bounded memory everywhere.  Pass 1 runs a batched Space-Saving
  summary per partition (Metwally et al. 2005: ``m`` counters that
  OVERESTIMATE and never empty — unlike a batched Misra-Gries
  decrement, which on near-uniform data can wipe every counter and
  return nothing; the invariant is that any value ABSENT from a
  partition's summary has partition frequency <= that partition's
  final min counter).  Pass 2 recounts ONLY the candidate values
  exactly (a broadcast semi-join then a hash aggregate over matching
  rows), so every returned count is exact.  The result also carries a
  per-run certificate: a value absent from EVERY summary has global
  frequency <= sum over partitions of the min-counter bounds, so when
  the k-th recounted count exceeds that sum the top-k is PROVABLY
  exact, not heuristically so.  Driver memory is bounded by
  partitions x m candidate rows, never by distinct values.

- :func:`cms_build` / :func:`cms_estimate` — a mergeable Count-Min
  sketch (Cormode & Muthukrishnan 2005) as a durable artifact, the
  frequency analog of the Bloom filter in dedup.py: answer "how often
  did this token/host/URL occur across ALL previous crawls" without
  keeping the full count table.  Estimates NEVER undercount; each
  overcounts by at most eps*N with probability >= 1-delta.  Counts
  are linear, so :func:`cms_merge` (elementwise sum) is EXACTLY the
  sketch of the concatenated streams.

Scale split mirrors dedup.py's Bloom build: value hashing stays
JVM-side (one xxhash64 inside codegen); row indices are splitmix64
remixes of that single 8-byte hash, vectorized in numpy; the build
aggregates sparse per-cell partials (exchange rows bounded by
OCCUPIED SKETCH CELLS, never by n); probes are Arrow-batched
pandas_udfs against a broadcast array.

Reference: the xarray-spatial repo has no sketch tier; this is part
of the training-data-pipeline extension (SURVEY.md §2 addenda).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .dedup import _splitmix64

__all__ = [
    "heavy_hitters",
    "cms_params",
    "cms_build",
    "cms_estimate",
    "cms_merge",
    "cms_save",
    "cms_load",
    "hll_build",
    "hll_cardinality",
    "hll_distinct",
    "hll_merge",
    "hll_save",
    "hll_load",
    "KLL",
    "kll_build",
    "kll_merge",
    "kll_save",
    "kll_load",
    "kll_rank_col",
    "kll_group_quantiles",
    "kll_ks_distance",
    "kmv_build",
    "kmv_cardinality",
    "kmv_union",
    "kmv_intersection",
    "kmv_save",
    "kmv_load",
]


# ---------------------------------------------------------------------------
# Exact heavy hitters: per-partition Space-Saving + exact recount
# ---------------------------------------------------------------------------


def _ss_batched(counts: dict, vc: pd.Series, m: int) -> bool:
    """Fold one batch's value_counts into a Space-Saving summary of at
    most ``m`` counters, in place; returns True if the fold evicted.

    Batched arrival rule: every batch key enters (or grows) at
    ``min_before + c`` where ``min_before`` is the pre-batch minimum
    (0 under capacity); then only the top ``m`` counters survive,
    deterministic ties by key.  This preserves both Space-Saving
    invariants — counter(x) >= freq(x) for present keys (a new key y
    had freq_before(y) <= min_before, so min_before + c covers it)
    and freq(y) <= current-min for absent keys (evictees satisfy
    est <= new min; every surviving counter >= min_before, so the min
    never decreases).  Unlike a batched Misra-Gries decrement this
    can never empty the summary."""
    min_before = min(counts.values()) if len(counts) >= m else 0
    for key, c in vc.items():
        counts[key] = counts.get(key, min_before) + int(c)
    if len(counts) <= m:
        return False
    s = pd.Series(counts).sort_index().sort_values(
        ascending=False, kind="mergesort")
    counts.clear()
    counts.update(s.iloc[:m].to_dict())
    return True


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 10,
    m: int | None = None,
) -> DataFrame:
    """Exact top-``k`` most frequent values of ``col`` in two jobs.

    Returns a <=k-row DataFrame ``(col, cnt, guaranteed)`` ordered by
    (cnt desc, value asc).  Every ``cnt`` is an EXACT count (pass 2
    recounts candidates against the raw rows).  ``guaranteed`` is one
    certificate value on every row: True iff the k-th count exceeds
    the sum of per-partition absent-key bounds (each partition's
    final min counter when it ever evicted, else 0 — a value missing
    from EVERY summary can occur at most that often), in which case
    no value outside the candidate set can belong to the true top-k.
    On near-uniform data with a small ``m`` the flag goes False —
    counts are still exact, only the claim "nothing heavier was
    missed" is withdrawn; raise ``m`` to restore it.

    ``m`` defaults to max(64, 8k) counters per partition; driver
    candidate memory is partitions x m rows, independent of distinct
    values, so a 100-TB corpus with billions of distinct hosts costs
    the same driver footprint as the sf0.01 test table.
    """
    if m is None:
        m = max(64, 8 * k)
    if m < k:
        raise ValueError(f"m={m} must be >= k={k}")
    spark = df.sparkSession
    vals = df.select(F.col(col).cast("string").alias("_v")).na.drop()

    def _partials(batches):
        counts: dict = {}
        n_rows = 0
        evicted = False
        for pdf in batches:
            if not len(pdf):
                continue
            n_rows += len(pdf)
            evicted |= _ss_batched(counts, pdf["_v"].value_counts(), m)
        bound = min(counts.values()) if evicted else 0
        out_v = list(counts.keys()) + [None]
        out_c = list(counts.values()) + [n_rows]
        out_b = [0] * (len(out_v) - 1) + [bound]
        yield pd.DataFrame({"_v": pd.array(out_v, dtype="string"),
                            "_est": np.asarray(out_c, dtype=np.int64),
                            "_bound": np.asarray(out_b, dtype=np.int64)})

    summary = vals.mapInPandas(
        _partials, schema="_v string, _est long, _bound long").collect()
    absent_bound = sum(r["_bound"] for r in summary if r["_v"] is None)
    candidates = sorted({r["_v"] for r in summary if r["_v"] is not None})
    if not candidates or k <= 0:
        return spark.createDataFrame([], f"{col} string, cnt long, guaranteed boolean")

    cand_df = spark.createDataFrame([(c,) for c in candidates], ["_v"])
    exact = (
        vals.join(F.broadcast(cand_df), "_v")
        .groupBy("_v").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("_v").asc())
        .limit(k)
        .collect()
    )
    # Certificate: a value absent from every partition summary has
    # global frequency <= absent_bound (Space-Saving min-counter bound
    # summed over partitions; 0 for partitions that never evicted —
    # there, absence means frequency 0).  Ties at the k-th count are
    # safe too: an absent value's frequency is <= absent_bound,
    # STRICTLY below a clearing cnt_k, and candidate ties break
    # deterministically by value.
    guaranteed = (len(exact) == len(candidates) and absent_bound == 0) or (
        len(exact) == k and exact[-1]["cnt"] > absent_bound)
    rows = [(r["_v"], r["cnt"], bool(guaranteed)) for r in exact]
    return spark.createDataFrame(rows, f"{col} string, cnt long, guaranteed boolean")


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def cms_params(eps: float = 0.001, delta: float = 0.01) -> tuple[int, int]:
    """Optimal (width, depth): w = ceil(e/eps), d = ceil(ln 1/delta).
    Additive error <= eps*N with probability >= 1-delta; memory is
    8*w*d bytes (e.g. eps=1e-6, delta=1e-3 -> ~150 MB — a frequency
    table for a trillion-token stream in one broadcast)."""
    if not (0 < eps < 1 and 0 < delta < 1):
        raise ValueError("eps and delta must be in (0, 1)")
    w = max(8, math.ceil(math.e / eps))
    d = max(1, math.ceil(math.log(1.0 / delta)))
    return w, d


def _cms_cols(h: np.ndarray, w: int, d: int) -> np.ndarray:
    """(n,) uint64 hashes -> (n, d) column indices: row i uses the
    Kirsch-Mitzenmacher double hash h1 + i*h2 mod w (pairwise
    independence per row is all CM needs)."""
    h1 = _splitmix64(h)
    h2 = _splitmix64(h1) | np.uint64(1)
    i = np.arange(d, dtype=np.uint64)
    with np.errstate(over="ignore"):
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(w)


def cms_build(df: DataFrame, col: str, w: int, d: int = 5) -> np.ndarray:
    """Distributed build -> (d, w) int64 count matrix.  Each Arrow
    batch accumulates its increments into a dense local matrix, emits
    only OCCUPIED cells as sparse (cell, cnt) partials, and one
    map-side-combined sum aggregation merges tasks — the driver
    collect is bounded by d*w cells, independent of row count."""
    hashed = df.select(F.xxhash64(F.col(col)).alias("_h")).na.drop()

    def _partial(batches):
        dense = np.zeros(d * w, np.int64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            h = pdf["_h"].to_numpy().astype(np.int64).view(np.uint64)
            cols = _cms_cols(h, w, d)
            flat = (np.arange(d, dtype=np.uint64)[None, :] * np.uint64(w)
                    + cols).ravel().astype(np.int64)
            np.add.at(dense, flat, 1)
        if any_rows:
            occ = np.nonzero(dense)[0]
            yield pd.DataFrame({"cell": occ, "cnt": dense[occ]})

    sparse = hashed.mapInPandas(_partial, schema="cell long, cnt long")
    rows = sparse.groupBy("cell").agg(F.sum("cnt").alias("cnt")).collect()
    sketch = np.zeros(d * w, np.int64)
    for r in rows:
        sketch[r["cell"]] = r["cnt"]
    return sketch.reshape(d, w)


def cms_estimate(spark, sketch: np.ndarray, col: Column | str) -> Column:
    """Long Column: estimated occurrence count of each value in the
    stream the sketch was built over.  Never undercounts; overcounts
    by <= eps*N w.p. >= 1-delta.  One broadcast per sketch; the probe
    is a vectorized min over the d rows."""
    from pyspark.sql.functions import pandas_udf

    d, w = sketch.shape
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(sketch))

    @pandas_udf("long")
    def _probe(h: pd.Series) -> pd.Series:
        sk = bc.value
        hv = h.to_numpy().astype(np.int64).view(np.uint64)
        if not len(hv):
            return pd.Series([], dtype=np.int64)
        cols = _cms_cols(hv, w, d)
        est = sk[np.arange(d)[None, :], cols].min(axis=1)
        return pd.Series(est)

    return _probe(F.xxhash64(col if isinstance(col, Column) else F.col(col)))


def cms_merge(*sketches: np.ndarray) -> np.ndarray:
    """Sum sketches built with the SAME (d, w) — counts are linear,
    so the merge is EXACTLY the sketch of the concatenated inputs
    (unlike Bloom merge, not even the error compounds: eps applies to
    the merged N)."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    shapes = {s.shape for s in sketches}
    if len(shapes) != 1:
        raise ValueError(f"mismatched sketch shapes: {sorted(shapes)}")
    out = sketches[0].copy()
    for s in sketches[1:]:
        out += s
    return out


def cms_save(sketch: np.ndarray, path: str) -> None:
    """Persist as a one-column parquet of cells with (d, w) in the
    file metadata — same durable-artifact contract as bloom_save (the
    cross-snapshot frequency state lives in the lake next to the data
    it summarizes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d, w = sketch.shape
    table = pa.table({"cnt": pa.array(sketch.ravel(), pa.int64())})
    table = table.replace_schema_metadata(
        {b"cms_d": str(int(d)).encode(), b"cms_w": str(int(w)).encode()})
    pq.write_table(table, path)


def cms_load(path: str) -> np.ndarray:
    """Load a :func:`cms_save` artifact -> (d, w) int64 matrix."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["cnt"])
    meta = table.schema.metadata or {}
    if b"cms_d" not in meta:
        raise ValueError(f"{path} is not a cms_save artifact")
    d, w = int(meta[b"cms_d"]), int(meta[b"cms_w"])
    return table["cnt"].to_numpy().astype(np.int64).reshape(d, w)


# ---------------------------------------------------------------------------
# HyperLogLog: mergeable distinct-count registers
# ---------------------------------------------------------------------------
#
# The cardinality sibling of the Bloom (membership) and Count-Min
# (frequency) artifacts: "how many DISTINCT urls/hosts/shingles did all
# previous crawls see", in 2^p bytes, mergeable across snapshots.
# Flajolet et al. 2007, with the 64-bit-hash adaptation (a 64-bit hash
# makes the 32-bit large-range correction unnecessary: collisions are
# negligible below ~2^57 distincts, so only the small-range linear
# counting branch remains).  Standard error ~= 1.04 / sqrt(2^p).
#
# Register extraction is PURE Catalyst bit math inside codegen — no
# Python anywhere on the build path:
#
#   h   = xxhash64(value)                     (one JVM hash)
#   idx = h >>> (64 - p)                      (register index, p bits)
#   w   = h << p                              (suffix, top-aligned)
#   rho = 65 - length(bin(w))                 (leading-zero count + 1)
#
# ``bin`` renders the long as its unsigned binary string WITHOUT
# leading zeros, so ``64 - length`` IS the leading-zero count — exact
# integer semantics, no floating-point log to round the wrong way.
# A register update is max(), so the distributed build is a plain
# two-level hash aggregate; the merge of two registers arrays is
# elementwise max — idempotent AND exactly the registers of the
# concatenated streams (order- and partitioning-invariant, pinned).


def _hll_alpha(m: int) -> float:
    """Bias constant alpha_m from the HLL paper."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _check_hll_p(p: int) -> None:
    if not 4 <= p <= 18:
        raise ValueError(f"hll precision p={p} outside [4, 18]")


def _hll_idx_rho(h: Column, p: int) -> tuple[Column, Column]:
    """(register index, rho) Columns from an already-hashed long.

    rho = leading zeros of the suffix (h << p) plus one, capped at
    64 - p + 1 when every suffix bit is zero.  All exact integer ops."""
    idx = F.shiftrightunsigned(h, 64 - p)
    w = F.shiftleft(h, p)
    rho = F.when(w == 0, F.lit(64 - p + 1)).otherwise(
        F.lit(65) - F.length(F.bin(w)))
    return idx, rho


def hll_build(df: DataFrame, col: str, p: int = 14) -> np.ndarray:
    """Distributed HLL build -> (2^p,) uint8 register array.

    One codegen'd projection (hash + bit ops) feeds a two-level hash
    aggregate ``groupBy(idx).max(rho)`` with map-side combine; the
    driver collect is bounded by OCCUPIED REGISTERS (<= 2^p ~= 16k
    rows at p=14), never by input rows — the same bounded-collect
    contract as cms_build, with max() in place of sum."""
    _check_hll_p(p)
    idx, rho = _hll_idx_rho(F.xxhash64(F.col(col)), p)
    rows = (
        df.select(F.col(col)).na.drop()
        .select(idx.alias("idx"), rho.alias("rho"))
        .groupBy("idx").agg(F.max("rho").alias("rho"))
        .collect()
    )
    regs = np.zeros(1 << p, np.uint8)
    for r in rows:
        regs[r["idx"]] = r["rho"]
    return regs


def hll_cardinality(regs: np.ndarray) -> float:
    """Distinct-count estimate from a register array.

    Raw estimator alpha_m * m^2 / sum_j 2^(-M_j) (empty registers
    contribute 2^0 = 1 each); linear counting m*ln(m/V) below 2.5m
    while zero registers remain.  64-bit hash => no large-range branch
    (see module comment)."""
    m = int(regs.size)
    v_zero = int((regs == 0).sum())
    s = float(np.ldexp(1.0, -regs.astype(np.int64)).sum())
    raw = _hll_alpha(m) * m * m / s
    if raw <= 2.5 * m and v_zero > 0:
        return m * math.log(m / v_zero)
    return raw


def hll_merge(*regs: np.ndarray) -> np.ndarray:
    """Elementwise max — EXACTLY the registers of the concatenated
    streams (max is associative/commutative/idempotent, so replays and
    re-merges are harmless, unlike CM's sum)."""
    if not regs:
        raise ValueError("hll_merge needs at least one register array")
    sizes = {r.size for r in regs}
    if len(sizes) != 1:
        raise ValueError(f"mismatched register sizes: {sorted(sizes)}")
    return np.maximum.reduce([r.astype(np.uint8) for r in regs])


def hll_save(regs: np.ndarray, path: str) -> None:
    """Persist registers as parquet with p in the file metadata — the
    bloom_save/cms_save durable-artifact contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = int(regs.size).bit_length() - 1
    if (1 << p) != regs.size:
        raise ValueError(f"register count {regs.size} is not a power of two")
    table = pa.table({"reg": pa.array(regs.astype(np.uint8), pa.uint8())})
    table = table.replace_schema_metadata({b"hll_p": str(p).encode()})
    pq.write_table(table, path)


def hll_load(path: str) -> np.ndarray:
    """Load a :func:`hll_save` artifact -> (2^p,) uint8 registers."""
    import pyarrow.parquet as pq

    meta = pq.read_schema(path).metadata or {}
    if b"hll_p" not in meta:
        raise ValueError(f"{path} is not an hll_save artifact")
    p = int(meta[b"hll_p"])
    table = pq.read_table(path, columns=["reg"])
    return table["reg"].to_numpy().astype(np.uint8).reshape(1 << p)


def hll_distinct(
    df: DataFrame,
    key: str | list[str],
    col: str,
    p: int = 14,
    out_col: str = "distinct_est",
) -> DataFrame:
    """Per-key approximate distinct counts — GROUPED HLL, pure Catalyst.

    Two hash aggregates, zero Python: ``groupBy(key, idx).max(rho)``
    materializes each group's occupied registers (<= 2^p rows per key,
    map-side combined), then one aggregate folds them into the estimate
    with empty registers entering as ``m - occupied`` (each contributes
    2^0 to the harmonic sum and one unit to the linear-counting zero
    roster).  Same estimator as :func:`hll_cardinality`, pinned equal
    in tests; deterministic under any partitioning (max is order-free).

    Spark's own approx_count_distinct is the per-query answer; THIS
    form exists because the register rows are reusable state — the
    same first aggregate feeds rollups at several key granularities,
    and its output is what the durable artifact folds in."""
    _check_hll_p(p)
    keys = [key] if isinstance(key, str) else list(key)
    m = 1 << p
    idx, rho = _hll_idx_rho(F.xxhash64(F.col(col)), p)
    regs = (
        df.na.drop(subset=[col])
        .select(*keys, idx.alias("_hll_idx"), rho.alias("_hll_rho"))
        .groupBy(*keys, "_hll_idx")
        .agg(F.max("_hll_rho").alias("_hll_rho"))
    )
    g = regs.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("_hll_rho"))).alias("_s"),
        F.count(F.lit(1)).alias("_occ"),
    )
    raw = F.lit(_hll_alpha(m) * m * m) / (
        F.col("_s") + (F.lit(m) - F.col("_occ")).cast("double"))
    v_zero = (F.lit(m) - F.col("_occ")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero),
    ).otherwise(raw)
    return g.select(*keys, est.alias(out_col))


# ---------------------------------------------------------------------------
# KLL: mergeable quantile/rank registers
# ---------------------------------------------------------------------------
#
# The distribution sibling completing the sketch quartet (Bloom =
# membership, Count-Min = frequency, HLL = cardinality, KLL = ranks):
# "what is the p99 document length / token count / quality score across
# ALL crawls so far" in ~3k floats, mergeable across snapshots.
# Karnin, Lang & Liberty 2016: a ladder of compactors where level h
# holds items of weight 2^h and capacity shrinks geometrically
# (c = 2/3) below the top; a full level sorts, keeps alternate items,
# and promotes them one level up.  Worst-case rank error is
# O(1/k) * n with high probability (~0.8%/sqrt-ish at k = 200
# empirically; tests pin 3% at k=200 with wide margin).
#
# Determinism: the alternate-item offset is drawn from a splitmix64
# counter seeded at construction, so a sketch built over the same
# partition layout is bit-reproducible run to run.  Unlike HLL's max
# registers, the CONTENT (not the error bound) of any sampling-based
# quantile sketch depends on merge order, so results vary under
# repartitioning within the guarantee; tests pin the error bound under
# several layouts and exact reproducibility under a fixed one.
#
# Scale: the build is one mapInPandas pass emitting each partition's
# compactor rows — the exchange and driver collect are bounded by
# partitions x sketch size (level, value) pairs, never by input rows;
# levelwise concatenation of partials IS the KLL merge, so the driver
# finish is a compact() over ~k*3 floats per partition.  The probe
# (:func:`kll_rank_col`) broadcasts the weighted-sample CDF and answers
# per-row percentiles with one vectorized searchsorted.


class KLL:
    """Single-process KLL compactor ladder over float64 values.

    ``levels[h]`` holds UNSORTED values of weight ``2**h``; ``n`` is
    the exact count of updates folded in.  Driver/executor-side only —
    distributed entry points are :func:`kll_build` / :func:`kll_merge`.
    """

    __slots__ = ("k", "levels", "n", "_coin")

    C = 2.0 / 3.0

    def __init__(self, k: int = 200, seed: int = 0x9E3779B97F4A7C15):
        if k < 8:
            raise ValueError(f"kll k={k} must be >= 8")
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.empty(0, np.float64)]
        self.n = 0
        self._coin = int(seed) & 0xFFFFFFFFFFFFFFFF

    # -- geometry ----------------------------------------------------------
    def _capacity(self, h: int) -> int:
        depth = len(self.levels) - 1 - h
        return max(2, int(math.ceil(self.k * (self.C ** depth))))

    def _budget(self) -> int:
        return sum(self._capacity(h) for h in range(len(self.levels)))

    def _flip(self) -> int:
        # splitmix64 step -> one deterministic "random" bit
        mask = 0xFFFFFFFFFFFFFFFF
        self._coin = (self._coin + 0x9E3779B97F4A7C15) & mask
        z = self._coin
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
        return (z ^ (z >> 31)) >> 63

    # -- updates -----------------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, np.float64)
        v = v[~np.isnan(v)]
        if not v.size:
            return
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n += int(v.size)
        self._compress()

    def _compress(self) -> None:
        while sum(lv.size for lv in self.levels) > self._budget():
            for h in range(len(self.levels)):
                if self.levels[h].size > self._capacity(h):
                    self._compact_level(h)
                    break
            else:  # every level within capacity but total over budget
                self._compact_level(0)

    def _compact_level(self, h: int) -> None:
        lv = np.sort(self.levels[h])
        if lv.size < 2:
            return
        keep_odd = self._flip()
        promoted = lv[keep_odd::2]
        # an odd straggler stays behind rather than changing weight
        if lv.size % 2 == 1 and keep_odd == 0:
            promoted, straggler = promoted[:-1], lv[-1:]
        else:
            straggler = np.empty(0, np.float64)
        self.levels[h] = straggler
        if h + 1 == len(self.levels):
            self.levels.append(np.empty(0, np.float64))
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    # -- queries -----------------------------------------------------------
    def _weighted(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted values, cumulative weights) of the retained sample."""
        vals = np.concatenate(self.levels) if self.n else np.empty(0)
        wts = np.concatenate([
            np.full(lv.size, 1 << h, np.int64)
            for h, lv in enumerate(self.levels)
        ]) if self.n else np.empty(0, np.int64)
        order = np.argsort(vals, kind="stable")
        return vals[order], np.cumsum(wts[order])

    def rank(self, x: float) -> int:
        """Estimated count of values <= x."""
        vals, cum = self._weighted()
        i = np.searchsorted(vals, x, side="right")
        return int(cum[i - 1]) if i else 0

    def quantiles(self, qs) -> np.ndarray:
        """Lower-quantile convention: smallest retained value whose
        estimated rank covers q*n (matches SQL quantile_disc inside
        the rank-error band)."""
        vals, cum = self._weighted()
        if not vals.size:
            raise ValueError("empty sketch")
        qs = np.asarray(qs, np.float64)
        if ((qs < 0) | (qs > 1)).any():
            raise ValueError("quantiles must be in [0, 1]")
        targets = np.ceil(qs * cum[-1]).astype(np.int64).clip(1)
        idx = np.searchsorted(cum, targets, side="left")
        return vals[idx.clip(0, vals.size - 1)]

    # -- (de)serialization ---------------------------------------------------
    def to_rows(self) -> tuple[np.ndarray, np.ndarray]:
        """(level, value) arrays — levelwise concatenation of these
        rows across sketches IS the KLL merge (see kll_merge)."""
        if not self.n:
            return np.empty(0, np.int32), np.empty(0, np.float64)
        lvl = np.concatenate([
            np.full(lv.size, h, np.int32) for h, lv in enumerate(self.levels)
        ])
        return lvl, np.concatenate(self.levels)

    @classmethod
    def from_rows(cls, k: int, n: int, level: np.ndarray,
                  value: np.ndarray) -> "KLL":
        sk = cls(k)
        top = int(level.max()) if level.size else 0
        sk.levels = [
            np.asarray(value[level == h], np.float64)
            for h in range(top + 1)
        ]
        sk.n = int(n)
        sk._compress()
        return sk


def kll_build(df: DataFrame, col: str, k: int = 200) -> KLL:
    """Distributed KLL build over a numeric column.

    One mapInPandas pass folds each partition into a local ladder and
    emits its compactor rows — the exchange and the driver collect are
    bounded by partitions x ~3k values, never by input rows; the
    driver finish levelwise-concatenates the partials (= KLL merge)
    and compacts once."""
    part = (
        df.select(F.col(col).cast("double").alias("_v")).na.drop()
    )

    def _partial(batches):
        sk = KLL(k)
        # buffer Arrow batches and fold MULTI-MILLION-value chunks:
        # updating per ~10k-row batch walks the full compaction
        # cascade every batch (python-loop bound — measured 124 s for
        # 10^9 rows), while one update per 4M values is sort-bound
        # vectorized numpy (measured ~8x faster on the same input)
        buf: list = []
        buffered = 0
        for pdf in batches:
            v = pdf["_v"].to_numpy()
            buf.append(v)
            buffered += v.size
            if buffered >= 4_000_000:
                sk.update(np.concatenate(buf))
                buf, buffered = [], 0
        if buf:
            sk.update(np.concatenate(buf))
        lvl, val = sk.to_rows()
        if sk.n:
            yield pd.DataFrame(
                {"level": lvl, "value": val,
                 "n": np.r_[np.int64(sk.n), np.zeros(lvl.size - 1, np.int64)]})

    rows = part.mapInPandas(
        _partial, schema="level int, value double, n long").collect()
    if not rows:
        return KLL(k)
    lvl = np.array([r["level"] for r in rows], np.int32)
    val = np.array([r["value"] for r in rows], np.float64)
    n = sum(r["n"] for r in rows)
    return KLL.from_rows(k, n, lvl, val)


def kll_merge(*sketches: KLL) -> KLL:
    """Levelwise concatenation + one compress — a sketch OF the
    concatenated streams with the same rank-error guarantee.  NOT
    idempotent (weights add), so the streaming sink keeps a batch-id
    ledger like Count-Min's."""
    if not sketches:
        raise ValueError("kll_merge needs at least one sketch")
    ks = {s.k for s in sketches}
    if len(ks) != 1:
        raise ValueError(f"mismatched k: {sorted(ks)}")
    out = KLL(sketches[0].k)
    top = max(len(s.levels) for s in sketches)
    out.levels = [
        np.concatenate([
            s.levels[h] for s in sketches if h < len(s.levels)
        ]) if any(h < len(s.levels) for s in sketches)
        else np.empty(0, np.float64)
        for h in range(top)
    ]
    out.n = sum(s.n for s in sketches)
    out._compress()
    return out


def kll_save(sk: KLL, path: str) -> None:
    """Persist as parquet (level, value) rows with k and n in the file
    metadata — the bloom/cms/hll durable-artifact contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lvl, val = sk.to_rows()
    table = pa.table({"level": pa.array(lvl, pa.int32()),
                      "value": pa.array(val, pa.float64())})
    table = table.replace_schema_metadata(
        {b"kll_k": str(sk.k).encode(), b"kll_n": str(sk.n).encode()})
    pq.write_table(table, path)


def kll_load(path: str) -> KLL:
    """Load a :func:`kll_save` artifact."""
    import pyarrow.parquet as pq

    meta = pq.read_schema(path).metadata or {}
    if b"kll_k" not in meta:
        raise ValueError(f"{path} is not a kll_save artifact")
    table = pq.read_table(path, columns=["level", "value"])
    return KLL.from_rows(
        int(meta[b"kll_k"]), int(meta[b"kll_n"]),
        table["level"].to_numpy().astype(np.int32),
        table["value"].to_numpy().astype(np.float64))


def kll_rank_col(spark, sk: KLL, col: Column | str) -> Column:
    """Double Column: each row's estimated PERCENTILE (rank / n) in
    the distribution the sketch summarizes — e.g. "where does this
    page's length sit against every crawl so far".  One broadcast of
    the weighted-sample CDF; the probe is a single vectorized
    searchsorted per Arrow batch."""
    from pyspark.sql.functions import pandas_udf

    vals, cum = sk._weighted()
    if not vals.size:
        raise ValueError("empty sketch")
    total = float(cum[-1])
    bc = spark.sparkContext.broadcast((vals, cum.astype(np.float64)))

    @pandas_udf("double")
    def _probe(v: pd.Series) -> pd.Series:
        vv, cc = bc.value
        x = v.to_numpy(np.float64, na_value=np.nan)
        i = np.searchsorted(vv, x, side="right")
        out = np.where(i > 0, cc[np.maximum(i - 1, 0)], 0.0) / total
        out[np.isnan(x)] = np.nan
        return pd.Series(out)

    return _probe(col if isinstance(col, Column) else F.col(col))


def kll_group_quantiles(
    df: DataFrame,
    key: str | list[str],
    col: str,
    qs,
    k: int = 200,
) -> DataFrame:
    """Per-key quantiles via grouped KLL — "p50/p99 page length PER
    HOST / PER LANGUAGE across the whole crawl" without ever shuffling
    raw values.

    Two stages, both sketch-bounded: one mapInPandas pass folds each
    partition's rows into one ladder PER KEY it sees and emits
    compactor rows (plus one level=-1 sentinel carrying that
    partial's exact n), so the single exchange moves
    partitions x keys-per-partition x ~3k floats, never input rows;
    then applyInPandas per key levelwise-concatenates the partials
    (= KLL merge), compacts once, and answers ``qs``.  Returns
    ``(*key, q, value)`` with the same lower-quantile convention as
    :meth:`KLL.quantiles`.  Rows with a NULL key or value are
    excluded (same rule as hll_distinct's null values)."""
    keys = [key] if isinstance(key, str) else list(key)
    qs = [float(q) for q in qs]
    if not qs:
        raise ValueError("qs must be non-empty")
    # null-filter ONLY the value column: an all-column na.drop lets
    # predicate pushdown inline a computed KEY expression into the
    # Filter operator, where it re-evaluates outside the project's
    # subexpression elimination (measured ~20x on a Morton-key group:
    # 48 s vs 2.5 s over 20M rows).  Null keys are dropped by the
    # partial's groupby(dropna=True), matching the documented rule.
    src = df.select(*keys, F.col(col).cast("double").alias("_v")).na.drop(
        subset=["_v"])

    def _partial(batches):
        sks: dict = {}
        # chunked fold, grouped flavor: buffer WHOLE batches and run
        # ONE groupby per ~4M buffered rows — both the per-batch
        # groupby (25M+ tiny group iterations at 10^9 rows) and the
        # per-batch compaction cascade are python-loop bound; the
        # flush amortizes each over sort-bound numpy chunks
        bufs: list = []
        held = 0

        def _flush():
            nonlocal held
            if not bufs:
                return
            big = pd.concat(bufs, ignore_index=True)
            for kv2, grp in big.groupby(keys, sort=False, dropna=True):
                sk2 = sks.get(kv2)
                if sk2 is None:
                    sk2 = sks[kv2] = KLL(k)
                sk2.update(grp["_v"].to_numpy())
            bufs.clear()
            held = 0

        for pdf in batches:
            bufs.append(pdf)
            held += len(pdf)
            if held >= 4_000_000:
                _flush()
        _flush()
        for kv, sk in sks.items():
            kv = kv if isinstance(kv, tuple) else (kv,)
            lvl, val = sk.to_rows()
            out = pd.DataFrame({
                "level": np.r_[lvl, np.int32(-1)],
                "value": np.r_[val, np.nan],
                "n": np.r_[np.zeros(lvl.size, np.int64), np.int64(sk.n)],
            })
            for c, v in zip(keys, kv):
                out[c] = v
            yield out[keys + ["level", "value", "n"]]

    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema if f.name in keys)
    partials = src.mapInPandas(
        _partial, schema=f"{key_schema}, level int, value double, n long")

    def _finish(kv, pdf):
        kv = kv if isinstance(kv, tuple) else (kv,)
        n = int(pdf.loc[pdf["level"] == -1, "n"].sum())
        body = pdf[pdf["level"] >= 0]
        sk = KLL.from_rows(k, n,
                           body["level"].to_numpy(np.int32),
                           body["value"].to_numpy(np.float64))
        vals = sk.quantiles(qs)
        out = pd.DataFrame({"q": qs, "value": vals})
        for c, v in zip(keys, kv):
            out[c] = v
        return out[keys + ["q", "value"]]

    return partials.groupBy(*keys).applyInPandas(
        _finish, schema=f"{key_schema}, q double, value double")


def kll_ks_distance(a: KLL, b: KLL) -> float:
    """Two-sample Kolmogorov-Smirnov distance between the
    distributions two KLL sketches summarize: max |CDF_a - CDF_b|
    over the union of retained values.  The crawl-drift monitor for
    NUMERIC signals (length, quality score, fetch latency) — the
    numeric sibling of corpus_drift's vocabulary JS divergence — with
    error bounded by the two sketches' rank-error bands."""
    if not (a.n and b.n):
        raise ValueError("ks distance needs two non-empty sketches")
    va, ca = a._weighted()
    vb, cb = b._weighted()
    xs = np.union1d(va, vb)
    ia = np.searchsorted(va, xs, side="right")
    ib = np.searchsorted(vb, xs, side="right")
    fa = np.where(ia > 0, ca[np.maximum(ia - 1, 0)], 0) / ca[-1]
    fb = np.where(ib > 0, cb[np.maximum(ib - 1, 0)], 0) / cb[-1]
    return float(np.abs(fa - fb).max())


# ---------------------------------------------------------------------------
# KMV (theta) sketch: distinct-count SET ALGEBRA
# ---------------------------------------------------------------------------
#
# HLL answers |A|; it cannot answer |A ∩ B|.  The KMV/theta sketch
# (Bar-Yossef et al. 2002; Beyer et al. 2007 unbiased estimator; the
# DataSketches "theta" family generalizes it) keeps the k SMALLEST
# 64-bit hash values of a set.  Because the retained sample is a
# deterministic function of the VALUES (the k global minima — not of
# order, partitioning, or duplicates), two sketches are directly
# comparable: union = merge the samples and keep the k smallest;
# intersection = count common retained values below the shared theta.
# That answers "how many urls do crawl A and crawl B share" from two
# KB-scale artifacts, no join over either corpus.
#
#   theta   = (k-th smallest hash) / 2^64    (the sampled fraction)
#   |A|     ~= (k - 1) / theta               (unbiased, Beyer 2007)
#   err     ~= 1 / sqrt(k - 2)               (~3.2% at k = 1024)
#
# Distributed build: one codegen'd hash projection, then each task
# folds its batches into <= k UNIQUE minima (numpy) — unique matters:
# Spark's own top-k (TakeOrderedAndProject) keeps duplicates, so a
# billion-fold repeated url would flood the k slots with one hash and
# collapse theta.  The driver merge is <= partitions x k longs.


def kmv_build(df: DataFrame, col: str, k: int = 1024) -> np.ndarray:
    """KMV sketch of a column -> sorted (<= k,) uint64 array of the k
    smallest DISTINCT value hashes.

    One job, duplicate-skew-proof at the partition: each task folds
    its Arrow batches into a running set of <= k unique minima in
    numpy (a url repeated a billion times contributes its hash ONCE —
    a naive distributed top-k would return k copies of one hash and
    the estimator would see theta collapse), emits them, and the
    driver merges <= partitions x k longs.  The raw values never
    shuffle — the exchange is the k-minima rows, the same bounded
    contract as cms_build/hll_build."""
    if k < 16:
        raise ValueError(f"kmv k={k} must be >= 16")
    hashed = df.select(F.col(col)).na.drop().select(
        F.xxhash64(F.col(col)).alias("_h"))

    def _partial(batches):
        best = np.empty(0, np.uint64)
        for pdf in batches:
            h = pdf["_h"].to_numpy().astype(np.int64).view(np.uint64)
            if not h.size:
                continue
            best = np.unique(np.concatenate([best, h]))[:k]
        if best.size:
            yield pd.DataFrame({"_h": best.view(np.int64)})

    rows = hashed.mapInPandas(_partial, schema="_h long").collect()
    merged = np.array([r["_h"] for r in rows], np.int64).view(np.uint64)
    return np.unique(merged)[:k]


def kmv_cardinality(sk: np.ndarray, k: int = 1024) -> float:
    """Distinct-count estimate.  A sketch with fewer than k retained
    values saw fewer than k distincts — the count is EXACT there."""
    if sk.size < k:
        return float(sk.size)
    # (k-1) / theta with theta = (kth hash + 1) / 2^64; the float
    # division happens once at the end (the 1e-16 rounding is noise
    # against the 1/sqrt(k-2) sketch error)
    return (k - 1) * 2.0 ** 64 / (float(sk[k - 1]) + 1.0)


def kmv_union(a: np.ndarray, b: np.ndarray, k: int = 1024) -> np.ndarray:
    """Sketch of A ∪ B: merged minima, k smallest kept — EXACTLY the
    sketch that kmv_build would produce over the concatenated inputs
    (the k global minima of a union are a subset of the two sets'
    k-minima), so unions chain losslessly across any number of
    snapshots."""
    return np.unique(np.concatenate([a, b]))[:k]


def kmv_intersection(a: np.ndarray, b: np.ndarray, k: int = 1024) -> float:
    """|A ∩ B| estimate: both sketches are uniform samples of the
    hash space below their thetas; below theta = min(theta_a,
    theta_b) BOTH retain every common value they sampled, so the
    common count over that prefix, scaled by 1/theta, is the
    intersection estimate (error grows as the overlap shrinks —
    standard for the family; tests pin the planted-overlap band)."""
    if not (a.size and b.size):
        return 0.0
    # the threshold is the EXACT uint64 k-th hash (a float round-trip
    # through 2^64 would move it); the scale factor goes float only
    # in the final division
    full = np.uint64(0xFFFFFFFFFFFFFFFF)
    ta = a[k - 1] if a.size >= k else full
    tb = b[k - 1] if b.size >= k else full
    bound = min(int(ta), int(tb))
    common = np.intersect1d(a[a <= np.uint64(bound)],
                            b[b <= np.uint64(bound)]).size
    if bound == int(full):
        return float(common)  # both sketches exact
    return common * 2.0 ** 64 / (bound + 1.0)


def kmv_save(sk: np.ndarray, k: int, path: str) -> None:
    """Durable-artifact contract (bloom/cms/hll/kll): parquet of the
    retained hashes with k in the metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table({"h": pa.array(sk.view(np.int64), pa.int64())})
    table = table.replace_schema_metadata({b"kmv_k": str(int(k)).encode()})
    pq.write_table(table, path)


def kmv_load(path: str) -> tuple[np.ndarray, int]:
    import pyarrow.parquet as pq

    meta = pq.read_schema(path).metadata or {}
    if b"kmv_k" not in meta:
        raise ValueError(f"{path} is not a kmv_save artifact")
    table = pq.read_table(path, columns=["h"])
    return (np.sort(table["h"].to_numpy().astype(np.int64).view(np.uint64)),
            int(meta[b"kmv_k"]))


def collect_table_stats(
    spark: SparkSession,
    table_dir: str,
    columns: list[str],
    snapshot_id: int | None = None,
    p: int = 14,
) -> str:
    """Write a table-statistics artifact for an Iceberg table written
    by :mod:`sources.iceberg_format` (the role Iceberg's Puffin stats
    files play: per-column NDV sketches recorded against a
    snapshot) for ``columns`` of the given snapshot.

    One Spark job: every column's HyperLogLog registers stack into a
    single aggregate (per column: max rho per register, exchanged as
    <= columns x 2^p sparse cells — the bounded-collect contract of
    hll_build).  Physically the union holds one column-pruned
    scan branch PER column, so total I/O equals a single scan reading
    all requested columns (columnar format: each branch reads only
    its own column's bytes) — one job, not one job per column.  The
    exact row count rides a second count job.  The artifact
    is one parquet of (column, register, rho) rows with the snapshot
    id, row count and p in the file metadata, stored under
    ``<table>/stats/`` so `remove_orphan_files`' marker exemption
    rules don't apply to it (it IS referenced state, swept only with
    its snapshot).  Registers are mergeable (max), so incremental
    writers can fold a new snapshot's delta the way streaming
    hll_sink does.  Returns the artifact path."""
    from xarray_spatial_spark.sources.iceberg_format import (
        _read_metadata, read_iceberg)

    _check_hll_p(p)
    md = _read_metadata(table_dir)
    snap_id = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    df = read_iceberg(spark, table_dir, snapshot_id=snap_id)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"stats columns not in table: {missing}")
    # one scan: stack (column-tag, register, rho) triples and aggregate
    stacked = None
    for c in columns:
        idx, rho = _hll_idx_rho(F.xxhash64(F.col(c)), p)
        part = df.filter(F.col(c).isNotNull()).select(
            F.lit(c).alias("column"), idx.alias("register"), rho.alias("rho"))
        stacked = part if stacked is None else stacked.unionByName(part)
    regs = (stacked.groupBy("column", "register")
            .agg(F.max("rho").alias("rho")).collect())
    n_rows = df.count()

    import pyarrow as pa
    import pyarrow.parquet as pq

    stats_dir = os.path.join(table_dir, "stats")
    os.makedirs(stats_dir, exist_ok=True)
    path = os.path.join(stats_dir, f"ndv-{snap_id}.parquet")
    table = pa.table({
        "column": pa.array([r["column"] for r in regs], pa.string()),
        "register": pa.array([r["register"] for r in regs], pa.int32()),
        "rho": pa.array([r["rho"] for r in regs], pa.int8()),
    })
    table = table.replace_schema_metadata({
        b"stats_snapshot": str(int(snap_id)).encode(),
        b"stats_rows": str(int(n_rows)).encode(),
        b"hll_p": str(int(p)).encode(),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return path


def read_table_stats(table_dir: str, snapshot_id: int | None = None) -> dict:
    """Load a :func:`collect_table_stats` artifact ->
    ``{"snapshot_id", "row_count", "ndv": {column: estimate},
    "registers": {column: np.ndarray}}``.  NDV estimates come from
    hll_cardinality over the stored registers, so they carry
    its ~1.04/sqrt(2^p) error band; registers are returned for
    merging across snapshots."""
    import pyarrow.parquet as pq

    from xarray_spatial_spark.sources.iceberg_format import _read_metadata

    if snapshot_id is None:
        snapshot_id = _read_metadata(table_dir)["current-snapshot-id"]
    path = os.path.join(table_dir, "stats", f"ndv-{snapshot_id}.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(f"no stats artifact for snapshot {snapshot_id}")
    meta = pq.read_schema(path).metadata or {}
    p = int(meta[b"hll_p"])
    t = pq.read_table(path)
    cols = t["column"].to_pylist()
    reg = t["register"].to_numpy()
    rho = t["rho"].to_numpy()
    registers: dict = {}
    for c in sorted(set(cols)):
        arr = np.zeros(1 << p, np.uint8)
        mask = np.array([x == c for x in cols])
        arr[reg[mask]] = rho[mask]
        registers[c] = arr
    return {
        "snapshot_id": int(meta[b"stats_snapshot"]),
        "row_count": int(meta[b"stats_rows"]),
        "ndv": {c: hll_cardinality(a) for c, a in registers.items()},
        "registers": registers,
    }
