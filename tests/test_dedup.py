"""Dedup family: planted duplicates, python-oracle Jaccard, LSH recall."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark.functions import dedup


@pytest.fixture()
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # near-dup of 0
        "a completely different document about spark engines",
        "the quick brown fox jumps over the lazy dog",   # exact dup of 0
        "another unrelated text concerning raster tiles",
        "a completely different document about spark engine",  # near-dup of 2
    ]
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(base)), "text": base})
    )


def test_exact_duplicates(docs):
    got = dedup.exact_duplicates(docs).collect()
    assert len(got) == 1
    assert got[0]["n_dups"] == 2 and got[0]["doc_ids"] == [0, 3]


def test_distinct_by_text(docs):
    kept = dedup.distinct_by_text(docs)
    assert kept.count() == 5
    assert kept.filter("doc_id = 3").count() == 0  # rep is smallest id


def _py_jaccard(a: str, b: str, k: int) -> float:
    sa = {a[i:i + k] for i in range(len(a) - k + 1)}
    sb = {b[i:i + k] for i in range(len(b) - k + 1)}
    return len(sa & sb) / len(sa | sb)


def test_ngram_jaccard_pairs_matches_python(docs):
    rows = docs.orderBy("doc_id").collect()
    texts = {r["doc_id"]: r["text"] for r in rows}
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, k=5, threshold=0.5).collect()
    }
    # oracle: all pairs >= 0.5 by python sets
    want = {}
    ids = sorted(texts)
    for i in ids:
        for j in ids:
            if i < j:
                sim = _py_jaccard(texts[i], texts[j], 5)
                if sim >= 0.5:
                    want[(i, j)] = sim
    assert set(got) == set(want)
    for p in want:
        assert got[p] == pytest.approx(want[p])
    assert (0, 1) in got and (2, 5) in got and (0, 3) in got


def test_minhash_signatures_estimate_jaccard(docs):
    sigs = {r["doc_id"]: r["sig"] for r in
            dedup.minhash_signatures(docs, num_hashes=128, k=5).collect()}
    est = np.mean(np.array(sigs[0]) == np.array(sigs[1]))
    true = _py_jaccard(
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat", 5)
    assert abs(est - true) < 0.15  # 128 hashes -> ~0.04 std
    # exact dups -> identical signatures
    assert sigs[0] == sigs[3]


def test_minhash_dedup_pairs_finds_neardups(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, threshold=0.6, num_hashes=64, bands=16, k=5
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 3) in got  # exact
    assert (0, 1) in got  # near
    assert (2, 5) in got  # near
    assert (0, 2) not in got and (0, 4) not in got


def test_simhash_duplicates(docs):
    got = dedup.simhash_duplicates(docs).collect()
    groups = {tuple(r["doc_ids"]) for r in got}
    assert (0, 3) in groups
    # determinism across parallelism
    a = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs.repartition(1)).collect()}
    b = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs.repartition(5)).collect()}
    assert a == b


def test_embedding_neardup(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16)).astype(np.float32)
    vecs = list(base)
    vecs.append(base[4] + rng.normal(scale=0.01, size=16).astype(np.float32))  # id 20 ~ id 4
    vecs.append(base[4].copy())  # id 21 == id 4
    ids = list(range(len(vecs)))
    vecs.append(base[7].copy())  # a second row carrying id 7
    ids.append(7)
    # one skewed bucket: 1200 copies of base[9] (ids 100..1299), scored
    # block by block over left rows
    vecs += [base[9].copy() for _ in range(1200)]
    ids += list(range(100, 1300))
    pdf = pd.DataFrame({"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    out = dedup.embedding_neardup_pairs(df, threshold=0.95).toPandas()
    assert (out["id_a"] != out["id_b"]).all()  # no self-pairs
    got = dict(zip(zip(out["id_a"], out["id_b"]), out["cosine"]))
    assert len(got) == len(out)
    assert (4, 21) in got and got[(4, 21)] == pytest.approx(1.0)
    assert (4, 20) in got
    # brute force over every pair of distinct ids: random gaussian pairs
    # in dim 16 essentially never reach 0.95, so the pairs are exactly
    # the near-duplicates of id 4 and of id 9
    v = np.stack(vecs).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    cos = v @ v.T
    want = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i, j in zip(*np.nonzero(np.triu(cos >= 0.95, k=1)))
        if ids[i] != ids[j]
    }
    assert set(got) == want
    assert len(want) == 1201 * 1200 // 2 + 3


def test_minhash_fast_signatures_estimate(docs):
    sigs = {r["doc_id"]: np.array(r["sig"]) for r in
            dedup.minhash_signatures_fast(docs, num_hashes=128, k=5).collect()}
    est = np.mean(sigs[0] == sigs[1])
    true = _py_jaccard(
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat", 5)
    assert abs(est - true) < 0.15
    assert (sigs[0] == sigs[3]).all()  # exact dups -> identical signatures
    # determinism under repartitioning
    b = {r["doc_id"]: np.array(r["sig"]) for r in
         dedup.minhash_signatures_fast(docs.repartition(5), num_hashes=128, k=5).collect()}
    assert all((sigs[i] == b[i]).all() for i in sigs)


def test_minhash_dedup_fast_and_slow_agree_on_pairs(docs):
    fast = {(r["id_a"], r["id_b"]) for r in dedup.minhash_dedup_pairs(
        docs, threshold=0.6, num_hashes=64, bands=16, k=5, fast=True).collect()}
    slow = {(r["id_a"], r["id_b"]) for r in dedup.minhash_dedup_pairs(
        docs, threshold=0.6, num_hashes=64, bands=16, k=5, fast=False).collect()}
    assert fast == slow == {(0, 1), (0, 3), (1, 3), (2, 5)}


def test_simhash_vectorized_matches_scalar(spark):
    """The byte-position-vectorized FNV path must equal the scalar
    definition bit-for-bit."""
    import numpy as np
    from xarray_spatial_spark.functions.dedup import _fnv1a64, simhash

    texts = ["the quick brown fox", "a", "", "résumé naïve 北京 tokens",
             "x " * 50]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    bits = np.arange(64, dtype=np.uint64)
    for i, t in enumerate(texts):
        toks = t.split()
        if not toks:
            assert got[i] == 0
            continue
        hv = np.array([_fnv1a64(w) for w in toks], dtype=np.uint64)
        planes = ((hv[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64)
        acc = (2 * planes - 1).sum(axis=0)
        expect = int(((acc > 0).astype(np.uint64) << bits).sum(
            dtype=np.uint64).astype(np.int64))
        assert got[i] == expect


def test_simhash_near_duplicates_planted(spark):
    """1-2 token edits must be recovered by the banded Hamming join."""
    import numpy as np
    from xarray_spatial_spark.functions.dedup import simhash_near_duplicates

    rng = np.random.default_rng(9)
    vocab = [f"w{i}" for i in range(500)]
    base_docs = [
        " ".join(rng.choice(vocab, size=60)) for _ in range(20)
    ]
    rows = [(i, d) for i, d in enumerate(base_docs)]
    planted = []
    for j, d in enumerate(base_docs[:5]):
        toks = d.split()
        toks[7] = "edited"
        if j % 2:
            toks[23] = "twice"
        rows.append((100 + j, " ".join(toks)))
        planted.append((j, 100 + j))
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in simhash_near_duplicates(df, max_hamming=12).collect()}
    for a, b in planted:
        assert (a, b) in pairs, f"planted pair {(a, b)} missed"
    # far from all of the C(25,2)=300 pairs collide
    assert len(pairs) < 100


def test_ngram_df_cap_preserves_high_jaccard(spark):
    """Candidate-side df cap: same >=0.8 pairs, fewer join rows."""
    from xarray_spatial_spark.functions.dedup import (
        ngram_jaccard_pairs, shingles,
    )
    import pyspark.sql.functions as F

    import numpy as np

    rng = np.random.default_rng(13)
    vocab = [f"tok{i}" for i in range(300)]
    stop = "the cat sat on the mat "  # appears in EVERY doc (stop-shingles)
    docs = [
        stop + " ".join(rng.choice(vocab, size=40)) for _ in range(15)
    ]
    docs.append(docs[0] + " x")   # true near-dup pair (0, 15)
    docs.append(docs[3] + " y")   # true near-dup pair (3, 16)
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], schema="doc_id long, text string"
    )
    full = ngram_jaccard_pairs(df, threshold=0.8).collect()
    capped = ngram_jaccard_pairs(df, threshold=0.8, max_shingle_df=5).collect()
    fset = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in full}
    cset = {(r["id_a"], r["id_b"], round(r["jaccard"], 9)) for r in capped}
    assert fset == cset
    assert {(a, b) for a, b, _ in fset} >= {(0, 15), (3, 16)}
    # the cap really prunes the join input: the shared sentence's
    # shingles are in all 17 docs
    sh = shingles(df).select(F.xxhash64("shingle").alias("_sh"), "doc_id")
    hot = sh.groupBy("_sh").count().filter(F.col("count") > 5).count()
    assert hot > 15


def test_line_dedup_strips_boilerplate(spark):
    from xarray_spatial_spark.functions.dedup import line_dedup

    footer = "subscribe to our newsletter"
    rows = [
        (0, f"unique zero\n{footer}\nmore zero"),
        (1, f"unique one\n{footer}"),
        (2, "unique two only"),
        (3, footer),                      # loses every line -> ''
        (4, "dup body\nrepeat inside\nrepeat inside"),  # intra-doc repeat kept
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in line_dedup(df, min_df=2).collect()}
    assert got[0] == "unique zero\nmore zero"
    assert got[1] == "unique one"
    assert got[2] == "unique two only"
    assert got[3] == ""                    # doc survives with empty text
    # min_df counts DISTINCT docs: same-doc repetition is not boilerplate
    assert got[4] == "dup body\nrepeat inside\nrepeat inside"
    assert set(got) == {0, 1, 2, 3, 4}


def test_ngram_contamination(spark):
    from xarray_spatial_spark.functions.dedup import ngram_contamination

    bench_q = "what is the capital of france and why does it matter here"
    rows = [
        (0, "totally unrelated text about spark shuffles and tiles ok"),
        (1, f"padding before {bench_q} padding after"),   # contains the eval 12-gram
        (2, "short"),
        (3, bench_q),                                      # exact eval text
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    ev = spark.createDataFrame([(100, bench_q)], schema="qid long, text string")
    got = {r["doc_id"]: r["n_shared"]
           for r in ngram_contamination(df, ev, n=12).collect()}
    assert 1 in got and 3 in got
    assert 0 not in got and 2 not in got
    assert got[3] == 1  # the eval text has exactly one 12-gram
    # broadcast off gives the same answer through the join path
    got2 = {r["doc_id"]: r["n_shared"]
            for r in ngram_contamination(df, ev, n=12,
                                         broadcast_eval=False).collect()}
    assert got2 == got


def test_ngram_contamination_text_only_eval(spark):
    """eval_df with ONLY a text column (no id) must work — the eval
    row id is synthesized internally."""
    from xarray_spatial_spark.functions.dedup import ngram_contamination

    bench_q = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, f"pad {bench_q} pad"), (2, "nothing shared here at all ok")],
        schema="doc_id long, text string")
    ev = spark.createDataFrame([(bench_q,)], schema="text string")
    got = {r["doc_id"] for r in ngram_contamination(df, ev, n=8).collect()}
    assert got == {1}


def test_simhash_band_plan_scales_with_corpus():
    from xarray_spatial_spark.functions.dedup import simhash_band_plan

    # tiny corpus: classic minimal d+1 single-block layout
    nb, c = simhash_band_plan(1000, 3)
    assert (nb, c) == (4, 1)
    # web-scale corpus: multi-block layout with strictly longer keys
    nb2, c2 = simhash_band_plan(10**9, 3)
    assert nb2 > 4 and c2 == nb2 - 3
    assert c2 * (64 // nb2) > 16  # key bits beat the minimal layout's 16


def test_simhash_neardup_layout_invariance(spark):
    """Any valid (n_blocks, combo) layout returns the SAME pairs —
    pigeonhole guarantees recall, the exact hamming filter kills false
    candidates.  Run the planted corpus through three layouts."""
    import numpy as np
    from xarray_spatial_spark.functions.dedup import simhash_near_duplicates

    rng = np.random.default_rng(5)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    rows = []
    for i in range(40):
        toks = [words[j] for j in rng.integers(0, len(words), 30)]
        rows.append((2 * i, " ".join(toks)))
        toks2 = list(toks)
        toks2[5] = "edited"
        rows.append((2 * i + 1, " ".join(toks2)))
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    results = []
    for nb in (13, 14):  # 13 and 91 tables
        got = sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in simhash_near_duplicates(
                df, max_hamming=12, n_blocks=nb
            ).collect()
        )
        results.append(got)
    assert results[0] == results[1]
    assert len(results[0]) > 0


def test_simhash_neardup_table_cap(spark):
    import pytest
    from xarray_spatial_spark.functions.dedup import simhash_near_duplicates

    df = spark.createDataFrame([(1, "a b c")], schema="doc_id long, text string")
    with pytest.raises(ValueError, match="keys per doc"):
        simhash_near_duplicates(df, max_hamming=12, n_blocks=24)


def test_minhash_band_plan_knee():
    from xarray_spatial_spark.functions.dedup import minhash_band_plan

    # knees at 64 hashes: b=4 -> 0.917, b=8 -> 0.771, b=16 -> 0.5
    assert minhash_band_plan(0.9, 64) == 4
    assert minhash_band_plan(0.7, 64) == 8
    assert minhash_band_plan(0.5, 64) == 16
    for t in (0.3, 0.6, 0.85):
        b = minhash_band_plan(t, 128)
        assert 128 % b == 0


def test_simhash_band_plan_large_hamming():
    """d >= 35: the minimal d+1 layout stays admissible even past the
    alternative-table cap (regression: the planner used to die)."""
    from xarray_spatial_spark.functions.dedup import simhash_band_plan

    for d in (32, 40, 63):
        nb, c = simhash_band_plan(10**6, d)
        assert nb >= d + 1 and c == nb - d
    import pytest
    with pytest.raises(ValueError):
        simhash_band_plan(1000, 64)


def test_near_dup_groups_transitive(spark):
    """A-B and B-C similar (A-C never paired) still collapse into one
    group keyed by the smallest id."""
    from xarray_spatial_spark.functions.dedup import near_dup_groups

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], schema="id_a long, id_b long")
    got = {r["doc_id"]: r["group_id"] for r in near_dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_near_dup_groups_end_to_end_minhash(spark):
    from xarray_spatial_spark.functions.dedup import (
        minhash_dedup_pairs, near_dup_groups,
    )

    base = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed "
            "do eiusmod tempor incididunt ut labore et dolore magna")
    rows = [(0, base), (1, base + " x"), (2, base + " x y"),
            (3, "a totally different unrelated document about engines")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    pairs = minhash_dedup_pairs(df, threshold=0.7, k=5)
    groups = {r["doc_id"]: r["group_id"]
              for r in near_dup_groups(pairs).collect()}
    assert groups[0] == groups[1] == groups[2] == 0
    assert 3 not in groups  # unpaired docs form no group rows


def test_near_dup_resolution_audit(spark):
    """Per-doc audit view: singleton pass-through, score election
    (highest score wins, tie -> smallest id), and kept-set equality
    with the resolve_near_duplicates survivor list."""
    from xarray_spatial_spark.functions.dedup import (
        near_dup_resolution, resolve_near_duplicates,
    )

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (11, 1.0), (20, 7.0)],
        schema="doc_id long, score double")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], schema="id_a long, id_b long")
    res = {r["doc_id"]: r for r in
           near_dup_resolution(docs, pairs, score_col="score").collect()}
    assert len(res) == 6
    # cluster {1,2,3}: max score 9.0 shared by 2 and 3 -> smallest id 2
    assert [res[i]["group_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [res[i]["n_members"] for i in (1, 2, 3)] == [3, 3, 3]
    assert [res[i]["kept"] for i in (1, 2, 3)] == [False, True, False]
    # cluster {10,11}: tie on score -> smallest id 10
    assert (res[10]["kept"], res[11]["kept"]) == (True, False)
    # unpaired doc: own singleton group, kept
    assert (res[20]["group_id"], res[20]["n_members"], res[20]["kept"]) \
        == (20, 1, True)
    kept = {i for i, r in res.items() if r["kept"]}
    survivors = {r["doc_id"] for r in
                 resolve_near_duplicates(docs, pairs,
                                         score_col="score").collect()}
    assert kept == survivors == {2, 10, 20}
    # no score: smallest id wins everywhere
    res0 = {r["doc_id"]: r["kept"] for r in
            near_dup_resolution(docs, pairs).collect()}
    assert {i for i, k in res0.items() if k} == {1, 10, 20}


def test_simhash_default_layout_runs_no_job(spark):
    """Omitting n_docs/n_blocks must not trigger a count job: the
    layout comes from optimizer stats.  An accumulator canary inside
    the source proves nothing executed at plan-build time."""
    import pandas as pd

    acc = spark.sparkContext.accumulator(0)

    def canary(batches):
        for pdf in batches:
            acc.add(1)
            yield pdf

    base = spark.createDataFrame(
        [(i, f"doc number {i} words here") for i in range(50)],
        "doc_id long, text string",
    )
    src = base.mapInPandas(canary, base.schema)
    out = dedup.simhash_near_duplicates(src, max_hamming=4)  # build only
    assert acc.value == 0
    out.count()                                        # executes fine
    assert acc.value > 0


def test_approx_rows_sane(spark):
    from xarray_spatial_spark.functions.dedup import _approx_rows

    df = spark.range(1000).selectExpr("id", "repeat('x', 200) as text")
    n = _approx_rows(df)
    assert n >= 1


def test_approx_rows_narrow_projection_not_undershot(spark, tmp_path):
    """A narrow (id, simhash) projection of a parquet scan must not
    estimate 10x under real rows: the divisor is width-aware, and a
    plan with exact rowCount stats uses it directly."""
    from xarray_spatial_spark.functions.dedup import _approx_rows

    p = str(tmp_path / "narrow.parquet")
    spark.range(10_000).selectExpr(
        "id", "xxhash64(cast(id as string)) as simhash"
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).select("id", "simhash")
    n = _approx_rows(df)
    assert n >= 1_000, n  # within one decade of the true 10k


# ---------------------------------------------------------------------------
# Bloom filter (URL-seen)
# ---------------------------------------------------------------------------


def test_bloom_params_math():
    from xarray_spatial_spark.functions.dedup import bloom_params

    m, k = bloom_params(1000, 0.01)
    assert m % 64 == 0 and 9000 <= m <= 10240  # ~9.6 bits/elem
    assert k in (6, 7)
    m2, _ = bloom_params(1000, 0.001)
    assert m2 > m


def test_bloom_no_false_negatives_and_fpp(spark):
    from xarray_spatial_spark.functions import dedup as dd

    seen = spark.range(2000).select(
        F.concat(F.lit("http://s/"), F.col("id")).alias("url"))
    n_bits, k = dd.bloom_params(2000, 0.01)
    bm = dd.bloom_build(seen, "url", n_bits, k)
    # every seen value must hit (bloom guarantee)
    hits = seen.select(
        dd.bloom_might_contain(spark, bm, F.col("url"), k).alias("h"))
    assert hits.filter(~F.col("h")).count() == 0
    # false-positive rate on 10k NEW urls ~ fpp (allow 3x headroom)
    new = spark.range(10_000).select(
        F.concat(F.lit("http://new/"), F.col("id")).alias("url"))
    fp = new.select(dd.bloom_might_contain(spark, bm, F.col("url"), k)
                    .alias("h")).filter("h").count()
    assert fp < 10_000 * 0.03, fp


def test_bloom_filter_seen_vs_exact_anti_join(spark):
    from xarray_spatial_spark.functions import dedup as dd

    seen = spark.range(500).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"))
    # corpus: 500 seen + 1500 new
    corpus = spark.range(2000).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"))
    kept = dd.bloom_filter_seen(corpus, seen, col="url", fpp=0.01)
    kept_ids = {r["url"] for r in kept.collect()}
    exact = {r["url"] for r in corpus.join(seen, "url", "left_anti").collect()}
    # nothing seen survives; collateral loss of new rows bounded
    assert kept_ids <= exact
    assert len(exact) - len(kept_ids) <= len(exact) * 0.03


def test_bloom_build_collect_bounded_by_words(spark):
    """The build's driver collect is <= n_bits/64 rows even when the
    input has far more rows than the bitmap has words."""
    from xarray_spatial_spark.functions import dedup as dd

    df = spark.range(50_000).select(F.col("id").cast("string").alias("v"))
    n_bits = 64 * 128  # 128 words << 50k rows
    bm = dd.bloom_build(df, "v", n_bits, k=3)
    assert len(bm) == 128
    # saturated tiny filter: still no false negatives
    hits = df.select(dd.bloom_might_contain(spark, bm, F.col("v"), 3)
                     .alias("h"))
    assert hits.filter(~F.col("h")).count() == 0


# ---------------------------------------------------------------------------
# cluster resolution + dedup-key normalization
# ---------------------------------------------------------------------------


def test_resolve_near_duplicates_min_id_and_scored(spark):
    from xarray_spatial_spark.functions.dedup import resolve_near_duplicates

    docs = spark.createDataFrame(
        [(i, f"text{i}", float(i % 4)) for i in range(8)],
        "doc_id long, text string, q double")
    # clusters {0,1,2} (chain 0-1, 1-2) and {5,6}; 3,4,7 untouched
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long")
    kept = {r["doc_id"]
            for r in resolve_near_duplicates(docs, pairs).collect()}
    assert kept == {0, 3, 4, 5, 7}  # min id survives each cluster
    # scored: highest q wins (q = id%4 -> 2 wins {0,1,2}; 6 wins {5,6})
    kept_q = {r["doc_id"] for r in resolve_near_duplicates(
        docs, pairs, score_col="q").collect()}
    assert kept_q == {2, 3, 4, 6, 7}


def test_resolve_scored_tie_breaks_to_smallest_id(spark):
    from xarray_spatial_spark.functions.dedup import resolve_near_duplicates

    docs = spark.createDataFrame(
        [(i, 1.0) for i in range(4)], "doc_id long, q double")
    pairs = spark.createDataFrame([(2, 3), (0, 3)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in resolve_near_duplicates(
        docs, pairs, score_col="q").collect()}
    assert kept == {0, 1}


def test_normalize_for_dedup(spark):
    from xarray_spatial_spark.functions.text import normalize_for_dedup

    rows = [
        (0, "The Café opened in 1987!"),
        (1, "the cafe opened in 2024?"),   # same key after norm
        (2, "çà-et-là: Ñoño's RÉSUMÉ"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["k"] for r in df.select(
        "doc_id", normalize_for_dedup(F.col("text")).alias("k")).collect()}
    assert got[0] == got[1] == "the cafe opened in 0000"
    assert got[2] == "ca et la nono s resume"


def test_bloom_save_load_merge_roundtrip(spark, tmp_path):
    """Persisted filter answers identically after a save/load cycle;
    bloom_merge over two snapshot filters equals one filter built over
    the union (the incremental-crawl loop)."""
    from xarray_spatial_spark.functions import dedup as dd

    a = spark.range(300).select(
        F.concat(F.lit("a"), F.col("id")).alias("url"))
    b = spark.range(300).select(
        F.concat(F.lit("b"), F.col("id")).alias("url"))
    n_bits, k = dd.bloom_params(600, 0.01)
    bm_a = dd.bloom_build(a, "url", n_bits, k)
    bm_b = dd.bloom_build(b, "url", n_bits, k)

    p = str(tmp_path / "seen.bloom.parquet")
    dd.bloom_save(bm_a, k, p)
    loaded, k2 = dd.bloom_load(p)
    assert k2 == k
    assert (loaded == bm_a).all()

    merged = dd.bloom_merge(loaded, bm_b)
    union = dd.bloom_build(a.union(b), "url", n_bits, k)
    assert (merged == union).all()

    # merged filter still has zero false negatives on both snapshots
    probe = a.union(b).select(
        dd.bloom_might_contain(spark, merged, F.col("url"), k).alias("h"))
    assert probe.filter(~F.col("h")).count() == 0

    import pytest as _pytest
    with _pytest.raises(ValueError):
        dd.bloom_merge(bm_a, bm_a[:-1])


def test_snapshot_diff_statuses(spark):
    """added / gone / changed / same classification, including NULL
    digests on present keys (must not read as added/gone)."""
    from xarray_spatial_spark.functions.dedup import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3"), ("u5", None)],
        "url string, digest string")
    new = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX"), ("u4", "d4"), ("u5", None)],
        "url string, digest string")
    got = {r["url"]: r["status"]
           for r in snapshot_diff(old, new).collect()}
    assert got == {"u1": "same", "u2": "changed", "u3": "gone",
                   "u4": "added", "u5": "same"}


def test_snapshot_diff_projects_before_join(spark):
    """Payload columns must be pruned BEFORE the exchange: the join
    shuffles (key, digest), never page bodies."""
    from xarray_spatial_spark.functions.dedup import snapshot_diff

    old = spark.createDataFrame(
        [("u1", "d1", "BIGPAYLOAD")], "url string, digest string, html string")
    new = spark.createDataFrame(
        [("u1", "d1", "BIGPAYLOAD")], "url string, digest string, html string")
    plan = snapshot_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    # payload may appear in the unprunable local-relation leaf only;
    # nothing above the scan (project/exchange/join) may carry it
    bad = [l for l in plan.splitlines()
           if "html" in l and "Scan ExistingRDD" not in l]
    assert not bad, bad


def test_embedding_neardup_builds_without_eval_type_warning(spark):
    """The per-signature pandas kernel annotates its key, so PySpark
    infers the grouped-map eval type without a UserWarning."""
    import warnings

    df = spark.createDataFrame([(0, [1.0, 0.0]), (1, [1.0, 0.0])],
                               "vec_id long, embedding array<float>")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        dedup.embedding_neardup_pairs(df, threshold=0.95)
