"""Driver contract: entry / queries / oracle_sql.

Each ``queries()`` entry runs an engine operator over the driver's
parquet tables; the matching ``oracle_sql()`` string expresses the
identical computation in ANSI SQL for DuckDB.  Column names and types
are aligned on both sides; float-derived columns are rounded the same
way on both sides so the order-insensitive value-hash compares clean.

Deterministic geocode: ids map to (lat, lon) through pure int64
arithmetic (functions/geo.py), so Spark and the SQL oracle geocode
identically; Web-Mercator tiles use the identical floor/ln/tan
formula (grid.tile_*_col vs the SQL fragment below).
"""

from __future__ import annotations

import os
from collections.abc import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_spatial_spark import grid
from xarray_spatial_spark.functions import text as tx
from xarray_spatial_spark.functions import dedup, geoindex, hexgrid, similarity
from xarray_spatial_spark.functions.geo import geocode_lat, geocode_lon
from xarray_spatial_spark.functions.spread import spread as _spread
from xarray_spatial_spark.operators import (
    classify,
    focal,
    local,
    multispectral,
    pip,
    proximity,
    surface,
    zonal,
)

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

SQL_LAT = "(((doc_id * 2654435761) % 1700000) / 10000.0 - 85.0)"
SQL_LON = "(((doc_id * 2246822519) % 3600000) / 10000.0 - 180.0)"


def _sql_tile_x(zoom: int, lon: str = SQL_LON) -> str:
    n = 1 << zoom
    return (
        f"CAST(least(greatest(floor(({lon} + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    )


def _sql_tile_y(zoom: int, lat: str = SQL_LAT) -> str:
    n = 1 << zoom
    latc = f"least(greatest({lat}, -85.05112878), 85.05112878)"
    merc = f"(1 - ln(tan(radians({latc})) + 1.0/cos(radians({latc}))) / pi()) / 2 * {n}"
    return f"CAST(least(greatest(floor({merc}), 0), {n - 1}) AS BIGINT)"


# S2 oracle: the published Hilbert automaton as a 16-row table
# (orientation, ij-quadrant) -> (curve position, next orientation);
# DuckDB replays the cube-face projection + quadratic ST + automaton
# independently (recursive CTE, one iteration per level).
_S2_IJ2POS = [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]]
_S2_PTO = [1, 0, 0, 3]
_S2_AUT = ", ".join(
    f"({r},{ij},{_S2_IJ2POS[r][ij]},{r ^ _S2_PTO[_S2_IJ2POS[r][ij]]})"
    for r in range(4)
    for ij in range(4)
)


def _sql_s2_cells(level: int, lat: str = SQL_LAT, lon: str = SQL_LON) -> str:
    """CTE chain computing (doc_id, n_chars, face, s2_cell) at ``level``
    from documents — the DuckDB twin of s2.cell_of.  Uses the leaf>>k
    shortcut (top ``level`` bits of i/j feed ``level`` automaton steps),
    proven equal to parent(leaf, level) in tests/test_s2.py."""
    n = 1 << level
    shift = 2 * (30 - level)
    return f"""
      aut(r, ij, p, rnew) AS (VALUES {_S2_AUT}),
      s2pts AS (
        SELECT doc_id, n_chars, radians({lat}) AS rlat, radians({lon}) AS rlon
        FROM documents
      ),
      s2xyz AS (
        SELECT doc_id, n_chars,
               cos(rlat)*cos(rlon) AS x, cos(rlat)*sin(rlon) AS y, sin(rlat) AS z
        FROM s2pts
      ),
      s2fuv AS (
        SELECT doc_id, n_chars,
          CASE WHEN abs(x) >= abs(y) AND abs(x) >= abs(z)
                 THEN CASE WHEN x >= 0 THEN 0 ELSE 3 END
               WHEN abs(y) >= abs(z) THEN CASE WHEN y >= 0 THEN 1 ELSE 4 END
               ELSE CASE WHEN z >= 0 THEN 2 ELSE 5 END END AS face,
          x, y, z
        FROM s2xyz
      ),
      s2uv AS (
        SELECT doc_id, n_chars, face,
          CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                    WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
          CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                    WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS v
        FROM s2fuv
      ),
      s2ij AS (
        SELECT doc_id, n_chars, face,
          LEAST(GREATEST(CAST(floor(
            (CASE WHEN u >= 0 THEN 0.5*sqrt(1+3*u) ELSE 1-0.5*sqrt(1-3*u) END) * {n}
          ) AS BIGINT), 0), {n - 1}) AS i,
          LEAST(GREATEST(CAST(floor(
            (CASE WHEN v >= 0 THEN 0.5*sqrt(1+3*v) ELSE 1-0.5*sqrt(1-3*v) END) * {n}
          ) AS BIGINT), 0), {n - 1}) AS j
        FROM s2uv
      ),
      s2hil AS (
        SELECT doc_id, n_chars, face, i, j,
               {level - 1} AS k, CAST(face % 2 AS BIGINT) AS r, CAST(0 AS BIGINT) AS pos
        FROM s2ij
        UNION ALL
        SELECT h.doc_id, h.n_chars, h.face, h.i, h.j, h.k - 1, t.rnew, h.pos * 4 + t.p
        FROM s2hil h JOIN aut t
          ON t.r = h.r AND t.ij = ((h.i >> h.k) & 1) * 2 + ((h.j >> h.k) & 1)
        WHERE h.k >= 0
      ),
      s2cells AS (
        SELECT doc_id, n_chars, face,
          CAST(CAST(face AS HUGEINT) * {1 << 61}
               + CAST(pos AS HUGEINT) * {1 << (shift + 1)} + {1 << shift}
               - CASE WHEN face >= 4
                      THEN CAST(18446744073709551616 AS HUGEINT) ELSE 0 END
               AS BIGINT) AS s2_cell
        FROM s2hil WHERE k = -1
      )
    """


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("lat", geocode_lat(F.col("doc_id")))
        .withColumn("lon", geocode_lon(F.col("doc_id")))
    )


def _doc_tiles(spark: SparkSession, sf_dir: str, zoom: int) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.withColumn("tile_x", grid.tile_x_col(F.col("lon"), zoom)).withColumn(
        "tile_y", grid.tile_y_col(F.col("lat"), zoom)
    )


def _events_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense raster from the events table: ids are 0..N-1, W=100."""
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.floor(F.col("event_id") / 100).cast("int").alias("y"),
        (F.col("event_id") % 100).cast("int").alias("x"),
        F.col("value").alias("value"),
    )


def _events_raster_shape(sf_dir: str) -> tuple[int, int]:
    """(H, W) of the events raster from parquet FOOTER metadata
    (driver-side, no Spark job) — feeds viewshed's ``shape`` so
    collect_dense skips its extent-probe aggregation."""
    from xarray_spatial_spark.sources import parquet_row_count

    n = parquet_row_count(f"{sf_dir}/events.parquet")
    return (-(-n // 100), 100)


SQL_EVENTS_RASTER = (
    "SELECT CAST(floor(event_id / 100) AS INT) AS y, "
    "CAST(event_id % 100 AS INT) AS x, value FROM events"
)

CITY_LON = [-74.0060, -0.1278, 139.6503, -46.6333, 77.2090]
CITY_LAT = [40.7128, 51.5074, 35.6762, -23.5505, 28.6139]

# polygons with vertices off the 1e-4 geocode lattice (no boundary points)
PIP_SQUARE = np.array(
    [[-30.00005, -20.00005], [40.00005, -20.00005], [40.00005, 30.00005],
     [-30.00005, 30.00005]]
)
PIP_TRIANGLE = np.array(
    [[60.00005, 40.00005], [120.00005, 40.00005], [90.00005, 80.00005]]
)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mercator-morton z8 AND genuine S2 level-12 tile assignment under
    one tagged slot (union hash breaks if either index drifts).  The s2
    variant batch-encodes cell ids in an Arrow UDF (s2.cell_col) — the
    north star's "H3/S2 cells via vectorized pandas/Arrow UDFs" — and
    reports tile_x = cell id (signed int64 bit pattern), tile_y = face."""
    from xarray_spatial_spark import s2

    z = 8
    morton = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(F.lit("z8").alias("variant"), "tile_x", "tile_y", "n_docs", "sum_chars")
    )
    s2v = (
        _docs(spark, sf_dir)
        .withColumn("s2_cell", s2.cell_col(F.col("lon"), F.col("lat"), 12))
        .groupBy("s2_cell")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .select(
            F.lit("s2").alias("variant"),
            F.col("s2_cell").alias("tile_x"),
            s2.face_col(F.col("s2_cell")).cast("long").alias("tile_y"),
            "n_docs",
            "sum_chars",
        )
    )
    return morton.unionByName(s2v)


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-agg AND fused single-scan plans unioned under a variant
    tag — one driver slot hash-checks both (round-3 classify_maps
    consolidation pattern; freed the 50th slot for bm25)."""
    z = 4
    d = _doc_tiles(spark, sf_dir, z)
    zv = d.select(
        (F.col("tile_x") * F.lit(1 << z) + F.col("tile_y")).alias("zone"),
        F.col("n_chars").cast("double").alias("value"),
    )

    def proj(out: DataFrame, tag: str) -> DataFrame:
        return out.select(
            F.lit(tag).alias("variant"),
            "zone",
            F.round("mean", 4).alias("mean"),
            F.col("max"), F.col("min"),
            F.col("sum"),
            F.round("std", 4).alias("std"),
            F.round("var", 4).alias("var"),
            F.col("count"),
            F.col("majority"),
        )

    return proj(zonal.stats(zv), "agg").unionByName(
        proj(zonal.stats_fused(zv), "fused"))


def q_zonal_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    z = 3
    d = _doc_tiles(spark, sf_dir, z)
    zv = d.select(
        (F.col("tile_x") * F.lit(1 << z) + F.col("tile_y")).alias("zone"),
        F.col("lang").alias("cat"),
    )
    return zonal.crosstab(zv, cat_ids=["en", "de", "fr", "es", "zh"])


def q_zonal_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zonal.apply + zonal.crop under one tagged slot (round-5
    consolidation; freed a window slot for substring_dedup).  'apply'
    keys by doc_id (y/x null); 'crop' keys by raster cell (doc null)."""
    z = 2
    d = _doc_tiles(spark, sf_dir, z)
    zv = d.select(
        "doc_id",
        (F.col("tile_x") * F.lit(1 << z) + F.col("tile_y")).alias("zone"),
        F.col("n_chars").cast("double").alias("value"),
    )
    applied = zonal.apply(zv, F.col("value") * 2, nodata=5).select(
        F.lit("apply").alias("variant"),
        "doc_id",
        F.lit(None).cast("int").alias("y"),
        F.lit(None).cast("int").alias("x"),
        F.col("zone").cast("long").alias("zone"),
        "value",
    )
    r = _events_raster(spark, sf_dir).withColumn(
        "zone", (F.floor(F.col("y") / 20) * 5 + F.floor(F.col("x") / 20)).cast("long")
    )
    cropped = zonal.crop(r, zones_ids=[7]).select(
        F.lit("crop").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        "y", "x", "zone", "value",
    )
    return applied.unionByName(cropped)


def q_zonal_stats_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal stats on the two-band dense-tile format (per-tile
    histogram partials, operators/zonal.py:stats_tiled)."""
    from xarray_spatial_spark import tiled

    r = _events_raster(spark, sf_dir).withColumn(
        "zone",
        (F.floor(F.col("y") / 20) * 5 + F.floor(F.col("x") / 20))
        .cast("double"),
    )
    tdf = tiled.tile(r, tile_h=32, tile_w=32, value_cols=("zone", "value"))
    out = zonal.stats_tiled(tdf)
    return out.select(
        F.col("zone").cast("long").alias("zone"),
        F.round("mean", 6).alias("mean"),
        F.round("max", 6).alias("max"),
        F.round("min", 6).alias("min"),
        F.round("sum", 4).alias("sum"),
        F.round("std", 6).alias("std"),
        F.round("var", 6).alias("var"),
        "count",
        F.round("majority", 6).alias("majority"),
    )


def q_classify_equal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    out = classify.equal_interval(r, k=5, out_col="cls")
    return out.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))


def q_classify_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    out = classify.quantile(r, k=4, out_col="cls")
    return out.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))


def q_classify_reclassify(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_quantity").cast("double").alias("value")
    )
    out = classify.reclassify(li, bins=[10, 25, 50], new_values=[1, 2, 3], out_col="cls")
    return out.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))


def q_classify_std_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    out = classify.std_mean(r, out_col="cls")
    return out.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))


def q_multispectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        (F.col("value") + 1.0).alias("nir"),
        (F.col("value") / 2 + 2.0).alias("red"),
        (F.col("value") / 3 + 3.0).alias("blue"),
        (F.col("value") / 4 + 4.0).alias("green"),
    )
    return ev.select(
        "event_id",
        F.round(multispectral.normalized_ratio(F.col("nir"), F.col("red")), 6).alias("ndvi"),
        F.round(multispectral.savi_expr(F.col("nir"), F.col("red")), 6).alias("savi"),
        F.round(multispectral.arvi_expr(F.col("nir"), F.col("red"), F.col("blue")), 6).alias("arvi"),
        (F.round(multispectral.evi_expr(F.col("nir"), F.col("red"), F.col("blue")), 6) + F.lit(0.0)).alias("evi"),
        F.round(multispectral.gci_expr(F.col("nir"), F.col("green")), 6).alias("gci"),
    )


def q_local_cellstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("a"),
        (F.col("l_discount") * 100).alias("b"),
        (F.col("l_tax") * 100).alias("c"),
    )
    cols = ["a", "b", "c"]
    out = local.cell_stats(li, cols, "median", out_col="med")
    out = local.cell_stats(out, cols, "sum", out_col="total")
    out = local.lowest_position(out, cols, out_col="lowpos")
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("med", 6).alias("med"),
        F.round("total", 6).alias("total"),
        F.col("lowpos"),
    )


def q_proximity_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # compiled LEAST-chain path (proximity.nearest_expr); the Arrow
    # broadcast path is exercised by the pytest goldens and must agree
    # (tests/test_proximity.py::test_nearest_expr_matches_broadcast)
    d = _docs(spark, sf_dir).select("doc_id", "lon", "lat")
    targets = [(CITY_LON[i], CITY_LAT[i], i + 1) for i in range(5)]
    out = proximity.nearest_expr(d, targets)
    return out.select(
        "doc_id",
        F.round("nearest_dist", 6).alias("dist"),
        F.col("nearest_payload").cast("long").alias("city"),
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both kNN strategies under one tagged oracle slot (round-5
    zonal_stats consolidation pattern; freed a window slot for
    warc_roundtrip): 'knn3' = k=3 against 5 broadcast city targets at
    zoom 0 (ring join degenerates to exact kNN); 'ring' = nearest
    within 12 deg through the planner's beyond-broadcast ring tier."""
    import pandas as pd

    d = _docs(spark, sf_dir).select("doc_id", "lon", "lat")
    cities = spark.createDataFrame(
        pd.DataFrame({"target_id": range(1, 6), "lon": CITY_LON, "lat": CITY_LAT}),
        schema="target_id long, lon double, lat double",
    )
    knn3 = proximity.knn_ring_join(
        d, cities, k=3, zoom=0, ring=0, point_id="doc_id"
    ).select(
        F.lit("knn3").alias("variant"),
        "doc_id", "target_id",
        F.round("dist", 6).alias("dist"), "knn_rank",
    )
    ring = q_knn_ring(spark, sf_dir).select(
        F.lit("ring").alias("variant"),
        "doc_id",
        F.lit(None).cast("long").alias("target_id"),
        "dist",
        F.lit(None).cast("int").alias("knn_rank"),
    )
    return knn3.unionByName(ring)


def q_surface_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    out = surface.slope(r, 1.0, 1.0, compute_dtype=np.float64)
    return out.filter(F.col("value").isNotNull()).select(
        "y", "x", F.round("value", 6).alias("slope")
    )


def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    out = focal.mean(r)
    return out.select("y", "x", F.round("value", 6).alias("smoothed"))


# mojibake plant for the text_stats slot: the clean suffix and its
# UTF-8-read-as-WHATWG-cp1252 corruption (built from the codec table
# so both engines see byte-identical literals; no ASCII quotes)
_MOJI_CLEAN = "café it’s — «ok»"
_MOJI_BAD = "".join(
    chr(b) if b in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
    else bytes([b]).decode("cp1252")
    for b in _MOJI_CLEAN.encode("utf-8")
)
# plant only on ASCII docs: fix_mojibake's strict-UTF-8 gate keeps a
# cp1252-unencodable doc (e.g. CJK text) unrepaired by design, which
# the SQL twin can't mirror
_MOJI_ROW = "doc_id % 9 = 0"
_ASCII_RE = "^[\\x00-\\x7F]*$"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text signals, plus the mojibake pair on a planted
    corruption (functions/text.py:mojibake_hits / fix_mojibake): every
    ninth ASCII doc gets a cp1252-mangled suffix; `moji_fixed` must
    equal the clean text the oracle constructs directly, and clean
    rows must pass through the repair untouched."""
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    t = F.col("text")
    plant = (F.col("doc_id") % 9 == 0) & t.rlike(_ASCII_RE)
    planted = F.when(plant, F.concat(t, F.lit(" " + _MOJI_BAD))).otherwise(t)
    return d.select(
        "doc_id",
        tx.token_count(t).alias("n_tokens"),
        tx.word_token_count(t).alias("n_words"),
        F.round(tx.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(tx.alpha_ratio(t), 6).alias("alpha_ratio"),
        tx.fingerprint(t).alias("fingerprint"),
        tx.mojibake_hits(planted).alias("moji_hits"),
        tx.fix_mojibake(planted).alias("moji_fixed"),
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID over a BOUNDED document sample (first 1000 chars),
    the production shape — CLD/fastText-style systems classify a
    prefix, not the whole document, so the scan cost per doc is O(1)
    at 100 TB.  The oracle applies the identical substr, so the
    engines see the same truncated text."""
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    return (
        d.select(
            tx.langid(F.substring(F.col("text"), 1, 1000)).alias("detected")
        )
        .groupBy("detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # plant duplicates: re-add every 10th doc under a shifted id
    dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    groups = dedup.exact_duplicates(d.union(dup))
    return groups.select(
        F.element_at("doc_ids", 1).alias("first_id"),
        F.element_at("doc_ids", -1).alias("last_id"),
        "n_dups",
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    out = dedup.ngram_jaccard_pairs(d, k=5, threshold=0.4)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup RESOLUTION chain, oracle-backed end to end:
    deterministic jaccard pairs -> transitive connected components ->
    keep-one survivor election (longest text wins, tie -> smallest id)
    -> per-doc audit row (functions/dedup.py:near_dup_resolution).
    The pair generator is the exact n-gram Jaccard (already oracled in
    'ngram_jaccard'); the CC + election + audit stages are what this
    entry newly pins cross-engine (DuckDB recursive min-label CTE +
    two-step arg-max election)."""
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text", F.length("text").alias("_len"))
    )
    pairs = dedup.ngram_jaccard_pairs(d, k=5, threshold=0.4)
    return dedup.near_dup_resolution(d, pairs, score_col="_len")


def q_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start"),
            "event_type",
            "n",
            "avg_value",
        )
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter("vec_id = 7").collect()[0]["embedding"]
    out = similarity.cosine_topk_expr(emb, list(qvec), k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


# deterministic spherical cap for the pip_assign 's2cap' variant
CAP_LON, CAP_LAT, CAP_RAD = 12.5, 47.0, 25.0


def _cap_cover_ranges():
    """Literal covering-cell leaf-id ranges (computed once, shared by
    the Spark query and the DuckDB oracle — the MEMBERSHIP decision is
    what the two engines compute independently)."""
    from xarray_spatial_spark import s2

    cov = s2.cap_covering(CAP_LON, CAP_LAT, CAP_RAD,
                          max_level=11, max_cells=48)
    return [(int(lo), int(hi))
            for lo, hi in zip(s2.range_min(cov), s2.range_max(cov))]


def _sql_cap_ranges() -> str:
    return ", ".join(f"({lo}, {hi})" for lo, hi in _cap_cover_ranges())


def q_pip_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-region under one tagged slot: 'poly' = ray-cast
    point-in-polygon join (operators/pip.py); 's2cap' = the S2
    region-query pattern — leaf encode (full 30-level Hilbert, Arrow
    UDF), broadcast covering-range join (signed BETWEEN is exact:
    ranges never span the int64 sign boundary), exact angular refine.
    The DuckDB twin replays the 30-level automaton per doc."""
    from xarray_spatial_spark import s2

    d = _docs(spark, sf_dir).select("doc_id", "lon", "lat")
    poly = pip.pip_join(d, {1: PIP_SQUARE, 2: PIP_TRIANGLE}).select(
        F.lit("poly").alias("variant"),
        "doc_id",
        F.col("zone").cast("long").alias("zone"),
    )
    covdf = spark.createDataFrame(_cap_cover_ranges(), "lo: long, hi: long")
    dist = F.degrees(F.acos(F.least(F.lit(1.0),
        F.sin(F.radians(F.col("lat"))) * F.sin(F.radians(F.lit(CAP_LAT)))
        + F.cos(F.radians(F.col("lat"))) * F.cos(F.radians(F.lit(CAP_LAT)))
        * F.cos(F.radians(F.col("lon") - F.lit(CAP_LON))))))
    cap = (
        d.withColumn("leaf", s2.cell_col(F.col("lon"), F.col("lat")))
        .join(F.broadcast(covdf),
              (F.col("leaf") >= F.col("lo")) & (F.col("leaf") <= F.col("hi")),
              "left")
        .select(
            F.lit("s2cap").alias("variant"),
            "doc_id",
            F.when(
                F.col("lo").isNotNull()
                & (F.round(dist, 6) <= F.lit(CAP_RAD)),
                F.lit(1),
            ).cast("long").alias("zone"),
        )
    )
    return poly.unionByName(cap)


def q_resample_down(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_spatial_spark.operators import resample

    r = _events_raster(spark, sf_dir)
    out = resample.downsample(r, 10, agg="mean")
    return out.select("y", "x", F.round("value", 6).alias("value"))


def q_classify_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    out = classify.percentiles(r, pct=(10, 50, 90), out_col="cls")
    return out.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))


def q_classify_box_plot(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    out = classify.box_plot(r, out_col="cls")
    return out.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))


def q_classify_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six classifiers (equal_interval / quantile / reclassify /
    std_mean / percentiles / box_plot) with a method tag — one
    driver-correctness row covering the whole classify family
    (operators/classify.py) so the driver's 50-query window has room
    for every oracle-backed operator.

    Plan shape: the five stat-driven classifiers share ONE global
    statistics job (classify.fused_breaks) and ONE stacked scan of
    the events raster (previously: five separate pre-pass jobs plus
    a six-legged union — identical numbers, ~6x the fixed job
    latency); reclassify reads lineitem, so it stays its own union
    leg."""
    from xarray_spatial_spark.operators.classify import bin_expr

    r = _events_raster(spark, sf_dir)
    breaks = classify.fused_breaks(r, [
        ("equal_interval", "equal_interval", {"k": 5}),
        ("quantile", "quantile", {"k": 4}),
        ("std_mean", "std_mean", {}),
        ("percentiles", "percentiles", {"pct": (10, 50, 90)}),
        ("box_plot", "box_plot", {}),
    ])
    stack_args: list = [F.lit(len(breaks))]
    for name in ("equal_interval", "quantile", "std_mean",
                 "percentiles", "box_plot"):
        bins = breaks[name]
        stack_args += [
            F.lit(name),
            bin_expr(F.col("value"), bins, list(range(len(bins)))),
        ]
    stacked = (
        r.select(F.stack(*stack_args).alias("method", "cls"))
        .groupBy("method", "cls")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    recls = q_classify_reclassify(spark, sf_dir).select(
        F.lit("reclassify").alias("method"), "cls", "n"
    )
    return stacked.unionByName(recls)


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """input_hint invariant: html binary -> byte-identical extracted
    text per url (sources/documents.py extract_text).  testdata has no
    html column, so the query synthesizes the CC-style wrapper
    deterministically from text, round-trips it through the binary
    codec + tag-stripper, and emits the per-doc byte-equality verdict
    plus extracted length — all pure Catalyst expressions.

    Tagged-union slot (hash breaks if EITHER variant drifts):
    'strip' = the verbatim tag-stripper above; 'content' =
    functions/html.py main_content over a boilerplate-wrapped page
    (nav + article + footer) whose expected output is the
    whitespace-collapsed text — nav/footer are short and
    link-saturated, so the block gates must remove exactly them;
    'markdown' = functions/html.py html_to_markdown over a structured
    page (h1 + paragraph + list + link) whose expected markdown both
    engines construct from text with the identical concatenation —
    hash-green iff the stack renderer emits exactly the right
    heading/list/link/paragraph layout for every doc; 'imgpairs' =
    functions/html.py extract_images + the caption/tracking-pixel
    gates over a planted tag mix, pinned by a canonical survivor
    string both engines construct."""
    from xarray_spatial_spark.functions.html import (html_to_markdown,
                                                    main_content)
    from xarray_spatial_spark.sources.documents import extract_text

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    html = F.encode(
        F.concat(
            F.lit('<html><head><meta charset="utf-8"/></head><body><p>'),
            F.col("text"),
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    ext = extract_text(html)
    strip = d.select(
        F.lit("strip").alias("variant"),
        "doc_id",
        F.length(ext).cast("long").alias("n_extracted"),
        (ext == F.col("text")).alias("byte_identical"),
    )
    page = F.concat(
        F.lit('<html><head><title>t</title></head><body>'
              '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
              "<p>"),
        F.col("text"),
        F.lit('</p><footer><a href="/tos">Terms</a></footer></body></html>'),
    )
    got = main_content(page)
    expected = F.trim(F.regexp_replace(F.col("text"), "\\s+", " "))
    expected = F.when(F.length(expected) >= 25, expected).otherwise(F.lit(""))
    content = d.select(
        F.lit("content").alias("variant"),
        "doc_id",
        F.length(got).cast("long").alias("n_extracted"),
        (got == expected).alias("byte_identical"),
    )
    id_s = F.col("doc_id").cast("string")
    md_page = F.concat(
        F.lit("<h1>Doc "), id_s, F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><ul><li>alpha</li><li>beta</li></ul>"
              '<p>See <a href="https://ex.com/'), id_s,
        F.lit('">link '), id_s, F.lit("</a>.</p>"),
    )
    got_md = html_to_markdown(md_page)
    exp_md = F.concat(
        F.lit("# Doc "), id_s, F.lit("\n\n"),
        F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")),
        F.lit("\n\n- alpha\n- beta\n\nSee [link "), id_s,
        F.lit("](https://ex.com/"), id_s, F.lit(")."),
    )
    markdown = d.select(
        F.lit("markdown").alias("variant"),
        "doc_id",
        F.length(got_md).cast("long").alias("n_extracted"),
        (got_md == exp_md).alias("byte_identical"),
    )
    # 'imgpairs' = functions/html.py extract_images + the pair gates
    # (alt >= 5 chars, declared tracking pixels out) over a planted
    # tag mix: absolute + root-relative srcs resolve, entities decode,
    # data:/no-src/short-alt/1x1 drop — the canonical survivor string
    # must equal the SQL-constructed truth byte-for-byte
    from xarray_spatial_spark.functions.html import extract_images

    img_page = F.concat(
        F.lit('<img src="http://cdn.ex.com/a'), id_s,
        F.lit('.jpg" alt="Fox &amp; hound '), id_s,
        F.lit('"><img src=\'/i/b.png\' alt=\'pic of doc '), id_s,
        F.lit('\' width="640">'),
        F.lit('<img src="t.gif" alt="tiny">'
              '<img src="data:image/gif;base64,RR" alt="inline dropped">'
              '<img src="http://cdn.ex.com/px.gif" alt="spacer beacon"'
              ' width="1" height="1"><img alt="srcless tag here">'),
    )
    base = F.concat(F.lit("http://site"),
                    (F.col("doc_id") % 7).cast("string"),
                    F.lit(".ex.com/p/q.html"))
    imgs = extract_images(img_page, base)
    kept = F.filter(
        imgs,
        lambda st: (F.length(F.trim(st["alt"])) >= 5)
        & ~(F.coalesce(st["width"], F.lit(3)) <= 2)
        & ~(F.coalesce(st["height"], F.lit(3)) <= 2),
    )
    canon = F.array_join(
        F.transform(kept, lambda st: F.concat(st["src"], F.lit("|"),
                                              F.trim(st["alt"]))), ";")
    exp_pairs = F.concat(
        F.lit("http://cdn.ex.com/a"), id_s, F.lit(".jpg|Fox & hound "),
        id_s, F.lit(";http://site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".ex.com/i/b.png|pic of doc "), id_s,
    )
    imgpairs = d.select(
        F.lit("imgpairs").alias("variant"),
        "doc_id",
        F.length(canon).cast("long").alias("n_extracted"),
        (canon == exp_pairs).alias("byte_identical"),
    )
    return (strip.unionByName(content).unionByName(markdown)
            .unionByName(imgpairs))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality tagged union (hash breaks if either variant drifts):
    'signals' = heuristic quality score (functions/text.py:
    quality_score); 'ccnet' = perplexity head/middle/tail buckets
    under the KN self-LM (functions/text.py:perplexity_buckets —
    CCNet's filtering step; exact-percentile thresholds broadcast, no
    global sort)."""
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    sig = d.select(
        F.lit("signals").alias("variant"),
        "doc_id",
        F.round(tx.quality_score(F.col("text")), 6).alias("metric"),
        F.lit("_").alias("label"),
    )
    cc = tx.perplexity_buckets(d.select("doc_id", "text")).select(
        F.lit("ccnet").alias("variant"),
        "doc_id",
        F.coalesce(F.col("cross_entropy"), F.lit(-1.0)).alias("metric"),
        F.col("bucket").alias("label"),
    )
    return sig.unionByName(cc)


# rows-only checks (non-SQL-expressible in a sane oracle): minhash /
# simhash LSH (hash-defined), polygonize + A* path cells + viewshed
# (global geometry; A* total COST is oracle-checked via a_star_cost),
# the seeded generators, and embedding_neardup (LSH recall is
# probabilistic).  regions/hotspots/a_star_cost gained recursive or
# windowed SQL oracles in round 2.


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup.minhash_dedup_pairs(
        d.union(dup), threshold=0.8, num_hashes=64, bands=16
    ).select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))


def q_simhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return dedup.simhash_duplicates(d.union(dup)).select(
        F.element_at("doc_ids", 1).alias("first_id"), "n_dups"
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming simhash near-dup pairs (planted 1-token edits)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    edited = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" edited")).alias("text"),
    )
    from xarray_spatial_spark.sources import parquet_row_count

    # results are layout-invariant (pigeonhole recall holds for any
    # banding), so let the cost model pick the layout from the exact
    # doc count — read driver-side from the parquet footer (no job).
    # The old pinned n_blocks=5 minimal layout has 12-13-bit keys,
    # whose random collisions go quadratic in corpus size (35 s at
    # sf1.0 vs ~4 s planned).
    n = parquet_row_count(f"{sf_dir}/documents.parquet")
    return (
        dedup.simhash_near_duplicates(
            d.union(edited), max_hamming=4, n_docs=n + (n + 24) // 25)
        .select("id_a", "id_b", "hamming")
    )


def q_knn_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest target through the ring join (``knn_ring_join``, the
    planner's tier beyond the broadcast cap and for k > 1) at a real
    zoom, oracle-checked against a brute-force SQL NN.
    max_distance=12 deg -> zoom 4 (22.5-deg cells); the exact-span ring
    reads its vertical extent off the tile rows of lat +/- 12, so the
    search is exact at EVERY latitude (no |lat| restriction)."""
    from xarray_spatial_spark.operators.proximity import knn_ring_join
    from xarray_spatial_spark.plans.joins import ring_zoom

    docs = _docs(spark, sf_dir).select("doc_id", "lat", "lon")
    pts = docs
    tgt = docs.filter(F.col("doc_id") % 13 == 0).select(
        F.col("doc_id").alias("target_id"), "lat", "lon"
    )
    rj = knn_ring_join(
        pts, tgt, k=1, zoom=ring_zoom(12.0), x_col="lon", y_col="lat",
        point_id="doc_id", target_id="target_id", metric="EUCLIDEAN",
        max_distance_deg=12.0,
    )
    return rj.filter(F.col("dist") <= 12.0).select(
        "doc_id", F.round("dist", 6).alias("dist")
    )


def q_color_viz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bands_to_img + color_values packing (reference utils.py:363-371,
    :445-452) as pure arithmetic — DuckDB-checkable."""
    from xarray_spatial_spark.functions import viz

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.pmod(F.floor(F.col("value")), F.lit(256)).cast("double").alias("r"),
        F.pmod(F.floor(F.col("value") * 7), F.lit(256)).cast("double").alias("g"),
        F.pmod(F.floor(F.col("value") * 13), F.lit(256)).cast("double").alias("b"),
        F.pmod(F.floor(F.col("value")), F.lit(4)).cast("double").alias("cls"),
    )
    key = {0.0: "red", 1.0: "#00ff00", 2.0: (12, 34, 56)}
    return ev.select(
        "event_id",
        viz.bands_to_img_expr(F.col("r"), F.col("g"), F.col("b"),
                              nodata=10).alias("rgba"),
        viz.color_values_expr(F.col("cls"), key).alias("cls_rgba"),
    )


def q_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _events_raster(spark, sf_dir)
    kernel = np.array([[0.0, 1.0, 0.0], [1.0, 1.0, 1.0], [0.0, 1.0, 0.0]])
    out = focal.hotspots(r, kernel, out_col="cls")
    return out.groupBy("cls").agg(F.count(F.lit(1)).alias("n"))


def q_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_spatial_spark.operators.regions import regions as rg

    r = _events_raster(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") / 100).cast("double")
    )
    out = rg(r, neighborhood=4)
    return out.groupBy("region").agg(F.count(F.lit(1)).alias("n_cells"))


def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_spatial_spark.operators.polygonize import polygonize

    r = _events_raster(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") / 150).cast("double")
    )
    out = polygonize(r, neighborhood=4)
    return out.select("region", "value", "n_rings", "area")


def q_polygonize_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable polygonize slice: region ids are the CCL
    scan-order ids, and (exterior - holes) shoelace area equals the
    region's CELL COUNT exactly on grid polygons (conservation test in
    tests/test_polygonize.py), so the recursive-SQL CCL oracle extends
    to polygonize.  n_rings/ring geometry stay rows-only."""
    from xarray_spatial_spark.operators.polygonize import polygonize

    r = _events_raster(spark, sf_dir).withColumn(
        "value", F.floor(F.col("value") / 150).cast("double")
    )
    out = polygonize(r, neighborhood=4)
    return out.select("region", "value", "area")


def q_a_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_spatial_spark.operators.pathfinding import a_star_search

    r = _events_raster(spark, sf_dir)
    # raster height varies with sf (events/100 rows); stay inside
    h = r.agg(F.max("y")).collect()[0][0]
    return a_star_search(r, start=(0, 0), goal=(int(h), 80), connectivity=8)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate line removal with a planted footer on the
    even docs (functions/dedup.py:line_dedup)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit("\nsubscribe to our newsletter")),
        ).otherwise(F.col("text")),
    )
    return dedup.line_dedup(planted, min_df=2)


def q_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup (functions/substring.py, Lee et al. 2022
    ExactSubstr): maximal spans >= 40 chars occurring >= 2 times
    anywhere in the corpus, under BOTH physical strategies — 'exact'
    (every L-gram hashed and counted) and 'anchored' (the 100-TB
    winnowing prefilter).  The oracle computes the definition once in
    SQL and emits it under both tags, so the driver hash pins the
    strategies' equality on real data, not just in pytest."""
    from xarray_spatial_spark.functions import substring as subs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    out = []
    for tag, anch in (("exact", False), ("anchored", True)):
        out.append(
            subs.duplicated_spans(d, min_len=40, anchored=anch).select(
                F.lit(tag).alias("variant"), "doc_id",
                "span_start", "span_end"))
    return out[0].unionByName(out[1])


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-doc repetition signals with planted repeated
    lines on the even docs (functions/text.py)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit("\nrepeat me\nrepeat me")),
        ).otherwise(F.col("text")),
    )
    return planted.select(
        "doc_id",
        F.round(tx.dup_line_fraction(F.col("text")), 6).alias("dup_line_frac"),
        F.round(tx.dup_line_char_fraction(F.col("text")), 6).alias("dup_char_frac"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any word 8-gram with an
    eval set (every 97th doc, so self-overlap is guaranteed)."""
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    ev = d.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("qid"), "text"
    )
    return dedup.ngram_contamination(d, ev, n=8)


def q_a_star_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total least-cost-path distance with ~20% barrier cells.
    Path CELLS are not unique across equal-cost optima, but the total
    cost is (s + d*sqrt(2) is injective in the step counts), so THIS
    variant is oracle-checkable — against a bounded Bellman-Ford
    relaxation in recursive SQL."""
    from xarray_spatial_spark.operators.pathfinding import a_star_search

    r = _events_raster(spark, sf_dir)
    h = int(r.agg(F.max("y")).collect()[0][0])
    keep = ((F.col("y") == 0) & (F.col("x") == 0)) | (
        (F.col("y") == h) & (F.col("x") == 80)
    )
    r2 = r.withColumn(
        "value",
        F.when((F.floor("value") % 5 == 0) & ~keep, F.lit(float("nan")))
        .otherwise(F.col("value")),
    )
    path = a_star_search(r2, start=(0, 0), goal=(h, 80), connectivity=8)
    return path.agg(F.round(F.max("cost"), 6).alias("total_cost"))


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_spatial_spark.operators.viewshed import viewshed

    # observer row 5: every sf tier's events raster is >=10 rows tall
    # (sf0.001 = 1000 events = 10x100); shape from parquet footers, so
    # collect_dense runs ZERO probe jobs before its blob collect
    r = _events_raster(spark, sf_dir)
    # events raster is dense by construction (ids 0..N-1): the LOS job
    # enumerates targets against the broadcast terrain — no second
    # scan, no exchange, perfect splits
    out = viewshed(r, x=50, y=5, observer_elev=50.0,
                   shape=_events_raster_shape(sf_dir), dense_targets=True)
    return out.select(
        (F.col("visibility") >= 0).cast("int").alias("visible")
    ).groupBy("visible").agg(F.count(F.lit(1)).alias("n"))


def q_viewshed_vis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell visibility oracle for the R3 viewshed: the LOS rule
    (dominant-axis stepping, bilinear terrain interpolation, strict
    gradient comparison) is pure IEEE arithmetic, so an identical-
    expression-order SQL twin reproduces the visible set exactly
    (verified cell-for-cell at sf0.01).  Angles stay rows-only in
    q_viewshed."""
    from xarray_spatial_spark.operators.viewshed import viewshed

    r = _events_raster(spark, sf_dir)
    out = viewshed(r, x=50, y=5, observer_elev=50.0,
                   shape=_events_raster_shape(sf_dir), dense_targets=True)
    return out.select(
        "y", "x", (F.col("visibility") >= 0).cast("int").alias("visible")
    )


def q_terrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_spatial_spark.sources.terrain import generate_terrain

    t = generate_terrain(spark, 200, 100, seed=10)
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_elev"),
        F.sum((F.col("value") == 0).cast("long")).alias("water_cells"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from xarray_spatial_spark.sources import parquet_first_array_len

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # plant exact duplicates (cos = 1) so the check is never vacuous
    dup = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    # dim from parquet driver-side: skips the limit(1) probe job
    dim = parquet_first_array_len(f"{sf_dir}/embeddings.parquet", "embedding")
    out = dedup.embedding_neardup_pairs(
        emb.union(dup), threshold=0.8, n_planes=8, dim=dim)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding").filter(
        "query_id % 200 = 7"
    )
    return similarity.ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=8).select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zoom-pyramid rollup zoom 6 -> 3: one shuffle of the raw docs,
    then the cached base aggregate rolls up level-by-level
    (operators/tiling.py:pyramid_rollup)."""
    from xarray_spatial_spark.operators import tiling

    d = _docs(spark, sf_dir)
    return tiling.pyramid_rollup(
        d,
        zoom=6,
        min_zoom=3,
        aggs=[
            F.count(F.lit(1)).alias("cnt_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.max("n_chars").alias("max_chars"),
        ],
    )


def q_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged-union slot (hash breaks if either variant drifts):
    'latest' = keep-latest-capture-per-key (Common-Crawl recrawl rule)
    on the events table, ties by event_id (dedup.py:snapshot_dedup —
    max_by aggregate, no window); 'diff' = crawl-over-crawl change set
    (dedup.py:snapshot_diff) over two synthesized 80%-overlap
    snapshots — added/gone/changed/same per url, digests drift on
    every fifth doc."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "value"
    )
    out = dedup.snapshot_dedup(
        ev, key_cols="user_id", ts_col="ts", tie_cols=["event_id"]
    )
    latest = out.select(
        F.lit("latest").alias("variant"),
        "user_id", "event_id", F.round("value", 6).alias("value"),
        F.lit("").alias("url"), F.lit("").alias("status"),
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    url = F.concat(F.lit("https://h"), (F.col("doc_id") % 37).cast("string"),
                   F.lit("/p/"), F.col("doc_id").cast("string"))
    dig = F.substring(F.col("text"), 1, 24)
    old = d.filter(F.col("doc_id") % 10 < 8).select(
        url.alias("url"), dig.alias("digest"))
    new = d.filter(F.col("doc_id") % 10 > 1).select(
        url.alias("url"),
        F.when(F.col("doc_id") % 5 == 0, F.concat(dig, F.lit("x")))
        .otherwise(dig).alias("digest"))
    diff = dedup.snapshot_diff(old, new).select(
        F.lit("diff").alias("variant"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1.0).alias("value"),
        "url", "status",
    )
    # 'iceberg': the same docs pushed through the REAL from-scratch
    # Iceberg v2 table format (sources/iceberg_format.py): two append
    # snapshots -> equality delete -> re-add, then read back through
    # the manifest chain.  The oracle computes the logical equivalent
    # directly — hash-equal iff the format round-trips exactly.
    import tempfile

    from xarray_spatial_spark.sources import iceberg_format as icef

    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "n_chars")
    tdir = tempfile.mkdtemp(prefix="xss_ice_q_")
    icef.write_iceberg(base.filter(F.col("doc_id") % 2 == 0), tdir,
                       partition_by=["lang"])
    icef.write_iceberg(base.filter(F.col("doc_id") % 2 == 1), tdir,
                       partition_by=["lang"])
    icef.delete_equality(
        base.filter(F.col("doc_id") % 9 == 4).select("doc_id"),
        tdir, ["doc_id"])
    icef.write_iceberg(base.filter(F.col("doc_id") % 18 == 4), tdir,
                       partition_by=["lang"])
    ice = icef.read_iceberg(spark, tdir).select(
        F.lit("iceberg").alias("variant"),
        F.col("doc_id").alias("user_id"),
        F.col("n_chars").cast("long").alias("event_id"),
        F.lit(-1.0).alias("value"),
        F.lit("").alias("url"),
        F.col("lang").alias("status"),
    )
    return latest.unionByName(diff).unionByName(ice)


def _synth_url_expr() -> Column:
    """Deterministic url per doc exercising userinfo/port/case/eTLD
    (shared by q_host_agg's source and q_host_cap)."""
    return F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("user@")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("site"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".example.com"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".example.co.uk"))
        .otherwise(F.lit(".org")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/a/b/"), F.col("doc_id").cast("string"),
    )


def _url_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    return _spread(d).select(_synth_url_expr().alias("url"), "n_chars")


def q_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture-index rows (sources/cdx.py + functions/url.py:surt)
    over synthesized capture urls exercising every canonicalization
    the SURT subset defines: userinfo, WWW/www2 strip, case, default
    vs explicit ports, query-param sorting, fragment (with a planted
    '?' INSIDE the fragment), empty path.  The oracle rebuilds the
    identical key with DuckDB string functions, so the hash pins the
    canonicalization rule itself, plus digest/length/mime/status
    derivation.  The sorted-shard write + manifest-pruned prefix scan
    are pytest-pinned (tests/test_cdx.py)."""
    from xarray_spatial_spark.sources.cdx import cdx_records

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("user@")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("WWW."))
        .when(F.col("doc_id") % 7 == 1, F.lit("www2.")).otherwise(F.lit("")),
        F.lit("Site"), (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(".example.com"))
        .when(F.col("doc_id") % 3 == 1, F.lit(".Example.co.uk"))
        .otherwise(F.lit(".org")),
        F.when(F.col("doc_id") % 13 == 0, F.lit(":8080"))
        .when(F.col("doc_id") % 13 == 1, F.lit(":443")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 17 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("/A/b/"), F.col("doc_id").cast("string"))),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?B=2&a=1&")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("#Frag?x=1")).otherwise(F.lit("")),
    )
    caps = d.select(
        url.alias("url"),
        (F.lit(20240100000000) + F.col("doc_id")).cast("string").alias("ts"),
        "text",
    )
    return cdx_records(caps, ts_col="ts").select(
        "surt_key", "ts", "url", "digest", "length", "mime",
        F.col("status").cast("int").alias("status"))


def q_host_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged-union slot (hash breaks if EITHER variant drifts):
    'hosts' = registered-domain rollup over synthesized urls — host
    extraction (userinfo/port/case), eTLD+1 heuristic, path depth
    (functions/url.py); 'datasheet' = the data-card ROLLUP over
    (lang, source) in ONE Expand+Aggregate
    (functions/corpus.py:corpus_datasheet).  Sentinel fills (''/-1)
    instead of NULLs keep integer dtypes integral through the
    pandas/CSV hash on both engines."""
    from xarray_spatial_spark.functions import corpus, url as uf

    u = _url_synth(spark, sf_dir)
    host = uf.url_host(F.col("url"))
    sel = u.select(
        uf.registered_domain(host).alias("domain"),
        host.alias("host"),
        uf.path_depth(F.col("url")).alias("pd"),
        "n_chars",
    )
    hosts = sel.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.countDistinct("host").alias("n_hosts"),
        F.sum("pd").alias("sum_depth"),
        F.sum("n_chars").alias("sum_chars"),
    ).select(
        F.lit("hosts").alias("variant"),
        "domain", "n_pages", "n_hosts", "sum_depth", "sum_chars",
        F.lit("").alias("lang"), F.lit("").alias("source"),
        F.lit(-1).cast("long").alias("level"),
        F.lit(-1).cast("long").alias("n_docs"),
        F.lit(-1).cast("long").alias("n_tokens"),
        F.lit(-1).cast("long").alias("doc_chars"),
        F.lit(-1.0).alias("mean_tokens"),
        F.lit(-1).cast("int").alias("max_tokens"),
    )
    docs = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    ds = corpus.corpus_datasheet(docs).select(
        F.lit("datasheet").alias("variant"),
        F.lit("").alias("domain"),
        F.lit(-1).cast("long").alias("n_pages"),
        F.lit(-1).cast("long").alias("n_hosts"),
        F.lit(-1).cast("long").alias("sum_depth"),
        F.lit(-1).cast("long").alias("sum_chars"),
        "lang", "source", "level", "n_docs", "n_tokens",
        F.col("n_chars").alias("doc_chars"), "mean_tokens", "max_tokens",
    )
    # 'drift': crawl-over-crawl JS divergence per language between two
    # synthesized snapshots (every doc_id % 7 == 0 doc drifts its text
    # in the new crawl) — functions/corpus.py:corpus_drift; js rides
    # the mean_tokens column, vocab/doc counts ride the long slots
    base = docs.select("doc_id", "lang", "text")
    old_snap = base.filter(F.col("doc_id") % 10 < 8)
    new_snap = base.filter(F.col("doc_id") % 10 > 1).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit("drift drift tokens "), F.col("lang")))
        .otherwise(F.col("text")),
    )
    dr = corpus.corpus_drift(old_snap, new_snap).select(
        F.lit("drift").alias("variant"),
        F.lit("").alias("domain"),
        F.lit(-1).cast("long").alias("n_pages"),
        F.lit(-1).cast("long").alias("n_hosts"),
        F.lit(-1).cast("long").alias("sum_depth"),
        F.lit(-1).cast("long").alias("sum_chars"),
        F.col("grp").alias("lang"), F.lit("").alias("source"),
        F.lit(-1).cast("long").alias("level"),
        F.col("docs_old").alias("n_docs"),
        F.col("docs_new").alias("n_tokens"),
        F.col("vocab_old").alias("doc_chars"),
        F.col("js_divergence").alias("mean_tokens"),
        F.col("vocab_new").cast("int").alias("max_tokens"),
    )
    # 'heavy': exact Space-Saving heavy hitters over the same domain
    # stream (functions/sketch.py:heavy_hitters) — m=16 counters force
    # real summary eviction (52 distinct domains), yet the top-2
    # megasite counts (~N/3 each) clear the summed min-counter ceiling
    # (<= N/16) so the certificate PROVES the ranking exact; the DuckDB
    # twin is a plain exact top-2 and matches iff the two-pass sketch
    # recovers it, flag included
    from xarray_spatial_spark.functions.sketch import heavy_hitters

    hh = heavy_hitters(sel.select("domain"), "domain", k=2, m=16).select(
        F.lit("heavy").alias("variant"),
        "domain",
        F.col("cnt").alias("n_pages"),
        F.lit(-1).cast("long").alias("n_hosts"),
        F.lit(-1).cast("long").alias("sum_depth"),
        F.lit(-1).cast("long").alias("sum_chars"),
        F.lit("").alias("lang"), F.lit("").alias("source"),
        F.lit(-1).cast("long").alias("level"),
        F.col("guaranteed").cast("long").alias("n_docs"),
        F.lit(-1).cast("long").alias("n_tokens"),
        F.lit(-1).cast("long").alias("doc_chars"),
        F.lit(-1.0).alias("mean_tokens"),
        F.lit(-1).cast("int").alias("max_tokens"),
    )
    # 'hll': a cardinality DECISION over the same host stream
    # (functions/sketch.py:hll_distinct — grouped HyperLogLog, pure
    # Catalyst registers): domains whose estimated distinct-host count
    # clears 10.  The registered-domain map puts ~2 hosts on every
    # .org domain and ~34 (www x site) on the two shared domains, so
    # the selection is invariant to the sketch's ~1% error band and
    # the DuckDB twin can assert it with an EXACT count(DISTINCT).
    from xarray_spatial_spark.functions.sketch import hll_distinct

    hl = hll_distinct(
        sel.select("domain", "host"), "domain", "host", p=14
    ).filter(F.col("distinct_est") >= 10).select(
        F.lit("hll").alias("variant"),
        "domain",
        F.lit(-1).cast("long").alias("n_pages"),
        F.lit(-1).cast("long").alias("n_hosts"),
        F.lit(-1).cast("long").alias("sum_depth"),
        F.lit(-1).cast("long").alias("sum_chars"),
        F.lit("").alias("lang"), F.lit("").alias("source"),
        F.lit(-1).cast("long").alias("level"),
        F.lit(-1).cast("long").alias("n_docs"),
        F.lit(-1).cast("long").alias("n_tokens"),
        F.lit(-1).cast("long").alias("doc_chars"),
        F.lit(-1.0).alias("mean_tokens"),
        F.lit(-1).cast("int").alias("max_tokens"),
    )
    # 'kll': a quantile DECISION over a plateaued length column
    # (functions/sketch.py:kll_build — distributed KLL, driver collect
    # bounded by partitions x sketch size): (doc_id % 10) * 10000 puts
    # 10% of the mass on each plateau, and the probed quantiles sit
    # mid-plateau (boundary distance 5% of rank vs ~0.5% sketch error
    # at k=400), so the sketch MUST return the exact plateau value and
    # the DuckDB twin asserts it with exact quantile_disc.
    from xarray_spatial_spark.functions.sketch import kll_build

    plateau = docs.select(
        ((F.col("doc_id") % 10) * 10000).cast("double").alias("v"))
    kll_qs = [0.15, 0.35, 0.55, 0.75, 0.95]
    kq = kll_build(plateau, "v", k=400).quantiles(kll_qs)
    kl = spark.createDataFrame(
        [(f"q={q:.2f}", int(v)) for q, v in zip(kll_qs, kq)],
        "domain string, n_pages long",
    ).select(
        F.lit("kll").alias("variant"),
        "domain", "n_pages",
        F.lit(-1).cast("long").alias("n_hosts"),
        F.lit(-1).cast("long").alias("sum_depth"),
        F.lit(-1).cast("long").alias("sum_chars"),
        F.lit("").alias("lang"), F.lit("").alias("source"),
        F.lit(-1).cast("long").alias("level"),
        F.lit(-1).cast("long").alias("n_docs"),
        F.lit(-1).cast("long").alias("n_tokens"),
        F.lit(-1).cast("long").alias("doc_chars"),
        F.lit(-1.0).alias("mean_tokens"),
        F.lit(-1).cast("int").alias("max_tokens"),
    )
    return (hosts.unionByName(ds).unionByName(dr).unionByName(hh)
            .unionByName(hl).unionByName(kl))


def q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with planted emails / IPs / phones / cards
    (functions/text.py:redact_pii + redact_cards).  The card branch
    pins Luhn VALIDATION cross-engine: doc_id%8==3 plants a
    Luhn-valid card (must become <CARD>), %8==7 a checksum-failing
    twin (must survive card redaction — only the phone pattern may
    touch it)."""
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    planted = d.withColumn(
        "text",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(" contact bob@example.com")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.col("text"), F.lit(" from 10.0.42.7 today")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.col("text"), F.lit(" call +1 (555) 123-4567 now")))
        .when(F.col("doc_id") % 8 == 3,
              F.concat(F.col("text"), F.lit(" pay 4111 1111 1111 1111 now")))
        .otherwise(
            F.concat(F.col("text"), F.lit(" ref 4111-1111-1111-1112 x"))),
    )
    return planted.select(
        "doc_id",
        tx.redact_pii(F.col("text")).alias("redacted"),
        tx.redact_cards(F.col("text")).alias("card_redacted"),
    )


def q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality signals + keep flag per document
    (functions/text.py:gopher_signals/gopher_keep)."""
    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    sig = d.select(
        "doc_id",
        "text",
        *tx.gopher_signals(F.col("text")),
        tx.gopher_keep(F.col("text"), min_words=30).alias("keep"),
        tx.c4_clean(F.col("text")).alias("_c4"),
    ).withColumn(
        # pass the already-computed cleaned column so the line-filter
        # HOF chain runs once, not twice
        "c4_keep", tx.c4_page_keep(F.col("text"), F.col("_c4"))
    )
    return sig.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_word_ratio", 6).alias("symbol_word_ratio"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        F.col("stop_hits").cast("long").alias("stop_hits"),
        "keep",
        "c4_keep",
        F.when(F.col("_c4") == "", 0)
         .otherwise(F.size(F.split(F.col("_c4"), "\n")))
         .cast("long").alias("c4_kept_lines"),
        F.length("_c4").cast("long").alias("c4_len"),
    )


def q_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged-union slot (hash breaks if EITHER variant drifts):
    'docs' = the composed training-data pass (functions/corpus.py:
    prepare_corpus): Gopher-filter -> exact dedup (planted copies) ->
    PII redaction (planted emails/IPs), as ONE pipeline with the
    production stage order; 'funnel' = the per-stage attrition report
    over the same corpus (corpus.corpus_funnel: window-free, ONE
    aggregate with count(DISTINCT xxhash64(text)) for the dedup
    stage)."""
    from xarray_spatial_spark.functions import corpus

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    # the synthetic corpus has no English function words, so the
    # stop-word gate would reject everything: plant a stop-rich lead
    # sentence on 2/3 of the docs (the rest exercise the reject path)
    base = d.withColumn(
        "text",
        F.concat(
            F.when(F.col("doc_id") % 3 != 2,
                   F.lit("the shape of the data and that of the run ")
                   ).otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 10 == 0,
                   F.lit(" contact bob@example.com 10.1.2.3")).otherwise(F.lit("")),
        ),
    )
    dup = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    full = base.unionByName(dup)
    out = corpus.prepare_corpus(full, min_words=30)
    docs = out.select(
        F.lit("docs").alias("variant"), "doc_id", "text",
        F.lit(-1).cast("long").alias("n_kept"),
    )
    # 'funnel' variant: the per-stage attrition report over the SAME
    # pipeline (corpus.corpus_funnel) — stage counts ride doc_id/text
    fun = corpus.corpus_funnel(full, min_words=30).select(
        F.lit("funnel").alias("variant"),
        F.col("stage_idx").cast("long").alias("doc_id"),
        F.col("stage").alias("text"),
        "n_kept",
    )
    return docs.unionByName(fun)


def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequential sample packing via the distributed prefix sum
    (functions/corpus.py:pack_sequences over plans/ranks.global_cumsum):
    per-bin doc counts and token sums at a 5000-token target."""
    from xarray_spatial_spark.functions import corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    packed = corpus.pack_sequences(d, target_tokens=5000)
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


def q_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token quota (functions/corpus.py:token_quota):
    sources capped at 5000 tokens, docs taken in id order; per-source
    kept-doc counts and token sums."""
    from xarray_spatial_spark.functions import corpus

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    kept = corpus.token_quota(d, per_source_tokens=5000)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged-union slot: 'plain' = damped PageRank (5 iterations)
    over a deterministic host link graph derived from the documents
    table; 'seeded' = the personalized/TrustRank formulation with
    every 5th node as the trusted set (functions/graph.py:pagerank;
    oracle = unrolled CTE chains for BOTH recurrences)."""
    from xarray_spatial_spark.functions import graph

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    parts = [
        d.select(
            (F.col("doc_id") % 40).alias("src"),
            ((F.col("doc_id") * 7 + k) % 40).alias("dst"),
        )
        for k in (1, 2, 3)
    ]
    edges = parts[0].union(parts[1]).union(parts[2]).distinct()
    pr = graph.pagerank(edges, iters=5).select(
        F.lit("plain").alias("variant"),
        "node", F.round("rank", 6).alias("rank"),
    )
    # 'seeded' variant: personalized/TrustRank teleport onto every
    # 5th node (graph.pagerank(seeds=...)); the oracle unrolls the
    # identical recurrence with the seed indicator in the teleport
    seeds = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .filter(F.col("node") % 5 == 0)
    )
    sr = graph.pagerank(edges, iters=5, seeds=seeds).select(
        F.lit("seeded").alias("variant"),
        "node", F.round("rank", 6).alias("rank"),
    )
    return pr.unionByName(sr)


def q_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected connected components over a deterministic
    block-structured host graph (operators/regions.py:
    connected_components; min-label fixed point == the recursive SQL
    twin's, independent of round counts)."""
    from xarray_spatial_spark.operators.regions import connected_components

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    s = (F.col("doc_id") % 300)
    edges = d.select(
        s.alias("src"),
        (s - (s % 10) + (s + F.col("doc_id")) % 10).alias("dst"),
    ).distinct()
    return connected_components(edges).select("node", "label")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style self-perplexity, tagged union of BOTH smoothers
    (hash breaks if either drifts): 'bigram' = add-alpha bigram LM
    (functions/text.py:lm_cross_entropy), 'kn3' = interpolated
    Kneser-Ney trigram LM with continuation counts — the KenLM shape
    (functions/text.py:kn_cross_entropy)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    # both smoothers consume the SAME pre-tokenized frame (text.py
    # _toks_of detects the array column), so the corpus is tokenized
    # once instead of once per LM; results are expression-identical
    d = d.select("doc_id", tx.tokens(F.col("text")).alias("toks"))
    big = tx.lm_cross_entropy(d, text_col="toks").select(
        F.lit("bigram").alias("variant"),
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_grams"),
        F.round("cross_entropy", 6).alias("cross_entropy"),
    )
    kn = tx.kn_cross_entropy(d, text_col="toks").select(
        F.lit("kn3").alias("variant"),
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round("cross_entropy", 6).alias("cross_entropy"),
    )
    return big.unionByName(kn)


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by smoothed tf-idf
    (functions/text.py:tf_idf; per-doc window, equi-join idf)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    out = tx.tf_idf(d, top_k=3)
    return out.select("doc_id", "term",
                      F.round("tf_idf", 6).alias("tf_idf"), "rank")


BM25_QUERIES = [
    (0, "spark join table"),
    (1, "hash scan filter"),
    (2, "window agg group"),
    (3, "fast merge sort batch"),
]


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 retrieval over documents for 4 fixed queries
    (functions/text.py:bm25_topk — broadcast query terms prune the
    posting join; per-query window top-k)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    qs = spark.createDataFrame(BM25_QUERIES, "query_id int, query string")
    out = tx.bm25_topk(d, qs, k=5)
    return out.select("query_id", "doc_id",
                      F.round("score", 6).alias("score"),
                      "n_terms_hit", "rank")



SUBSTR_BOILER = " all rights reserved contact us terms of service apply here"


def _substr_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with planted verbatim duplicates: every doc appends
    its group-of-40 12-token chunk (each chunk ~n/40 copies) and every
    5th doc the same hot 10-token boilerplate (n/5 copies — the skew
    case)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    g = (F.col("doc_id") % 40).cast("string")
    chunk = F.concat(
        *[x for j in range(12)
          for x in (F.lit(" g"), g, F.lit(f"t{j}"))])
    return d.select(
        "doc_id",
        F.concat(
            F.col("text"), chunk,
            F.when(F.col("doc_id") % 5 == 0, F.lit(SUBSTR_BOILER))
            .otherwise(F.lit("")),
        ).alias("text"),
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans >= 8 tokens
    (functions/dedup.py:duplicate_spans — Lee et al. suffix-array
    dedup as distributed rolling windows; first occurrence kept)."""
    return dedup.duplicate_spans(
        _substr_planted(spark, sf_dir), k=8
    ).select("doc_id", "start_tok", "end_tok", "n_windows")


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html -> extract_links -> edge table -> pagerank, end to end
    (functions/url.py:extract_links/link_edges + graph.py:pagerank).
    Pages carry 2 root-relative links chosen by modular arithmetic, so
    the graph is deterministic; rows-only (iterative PageRank has no
    SQL twin; the edge-extraction branches are pytest goldens and
    pagerank itself is oracle-backed in the 'pagerank' slot)."""
    from xarray_spatial_spark.functions import url as uf
    from xarray_spatial_spark.functions.graph import pagerank

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    t1 = (F.col("doc_id") * 31 + 7) % 1009
    t2 = (F.col("doc_id") * 17 + 3) % 97  # 97 hub pages get high rank
    page = d.select(
        _synth_url_expr().alias("url"),
        F.concat(
            F.lit('<html><body><a href="/a/b/'), t1.cast("string"),
            F.lit('">x</a> <a href="/a/b/'), t2.cast("string"),
            F.lit('">y</a></body></html>'),
        ).alias("html"),
    )
    edges = uf.link_edges(page)
    pr = pagerank(edges, iters=5)
    rank_col = pr.columns[-1]
    return (
        pr.orderBy(F.desc(rank_col), pr.columns[0])
        .limit(20)
        .select(
            F.col(pr.columns[0]).alias("node"),
            F.round(rank_col, 6).alias("rank"),
        )
    )


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the same deterministic synthetic
    link graph as q_link_graph (functions/graph.py:hits) — top-20
    authorities.  Rows-only (iterative normalized recursion has no
    SQL twin; pinned against dense numpy power iteration in pytest)."""
    from xarray_spatial_spark.functions import url as uf
    from xarray_spatial_spark.functions.graph import hits

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    t1 = (F.col("doc_id") * 31 + 7) % 1009
    t2 = (F.col("doc_id") * 17 + 3) % 97
    page = d.select(
        _synth_url_expr().alias("url"),
        F.concat(
            F.lit('<html><body><a href="/a/b/'), t1.cast("string"),
            F.lit('">x</a> <a href="/a/b/'), t2.cast("string"),
            F.lit('">y</a></body></html>'),
        ).alias("html"),
    )
    sc = hits(uf.link_edges(page), iters=5)
    return (
        sc.orderBy(F.desc("authority"), "node")
        .limit(20)
        .select("node", F.round("hub", 6).alias("hub"),
                F.round("authority", 6).alias("authority"))
    )


def q_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-URL change-rate estimation from synthesized recrawl
    history (functions/frontier.py:change_rate — Cho & Garcia-Molina
    bias-reduced estimator, one window + one aggregate on the url
    key).  Four captures per doc at a per-doc cadence (0.5 or 1 day);
    fingerprints flip on three deterministic patterns (every capture /
    never / once in the middle), so n_changes, the mean interval, and
    the -ln((n-X+.5)/(n+.5)) rate are all exactly replicable in SQL.
    The budget-allocation half (revisit_schedule's freshness
    water-filling) is driver-side numerics — pinned in pytest, incl.
    the classic abandon-the-frantic-changers result."""
    from xarray_spatial_spark.functions.frontier import change_rate

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    caps = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("cap"))
    dt = (F.col("doc_id") % 2 + 1) * 43200
    fp = (
        F.when(F.col("doc_id") % 3 == 0, F.col("cap").cast("string"))
        .when(F.col("doc_id") % 3 == 1, F.lit("0"))
        .otherwise((F.col("cap") >= 2).cast("int").cast("string"))
    )
    hist = caps.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("cap") * dt)
        .alias("warc_ts"),
        fp.alias("fingerprint"),
    )
    cr = change_rate(hist)
    return cr.select(
        "url", "n_intervals", "n_changes", "mean_interval_s",
        F.round("rate_per_day", 6).alias("rate_per_day"),
    )


def q_exif_geotag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geotagged-image roundtrip (operators/exif.py): synthesize one
    EXIF-bearing JPEG per doc (lat/lon in integer centi-arcseconds
    derived from doc_id; every 7th doc gets a GPS-less file), decode
    with the from-scratch parser, assign S2 cells.  The oracle
    recomputes lat/lon as the IDENTICAL d + m/60 + s/3600 float
    expression from the same integers, so decoded degrees hash-match
    exactly; the S2 leg is oracle-covered by tile_assign's 's2'
    variant, so here the cell rides as a NULL/non-NULL flag."""
    from xarray_spatial_spark.operators.exif import geotag_images

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    def _blobs(batches):
        # encoder nested IN the closure (ships by value to executors;
        # the entry module itself is not on worker sys.path) — an
        # encoder LOCAL TO THE ENTRY, so the roundtrip checks
        # operators/exif.py against independently-written bytes
        import struct

        import pandas as pd

        def enc(lat_cs, lon_cs):
            def dms(cs):
                cs = abs(cs)
                d, rem = divmod(cs, 360000)
                m, s100 = divmod(rem, 6000)
                return [(d, 1), (m, 1), (s100, 100)]

            def rat(pairs):
                return b"".join(struct.pack("<II", a, b) for a, b in pairs)

            def ifd(entries, off):
                n = len(entries)
                base = off + 2 + 12 * n + 4
                body, heap = b"", b""
                for tag, typ, cnt, payload in entries:
                    unit = {2: 1, 4: 4, 5: 8}[typ]
                    if unit * cnt <= 4:
                        body += (struct.pack("<HHI", tag, typ, cnt)
                                 + payload + b"\x00" * (4 - len(payload)))
                    else:
                        body += (struct.pack("<HHI", tag, typ, cnt)
                                 + struct.pack("<I", base + len(heap)))
                        heap += payload
                return (struct.pack("<H", n) + body
                        + struct.pack("<I", 0) + heap)

            ifd0 = ifd([(0x8825, 4, 1, struct.pack("<I", 0))], 8)
            gps_off = 8 + len(ifd0)
            ifd0 = ifd([(0x8825, 4, 1, struct.pack("<I", gps_off))], 8)
            gps = ifd([
                (1, 2, 2, (b"N" if lat_cs >= 0 else b"S") + b"\x00"),
                (2, 5, 3, rat(dms(lat_cs))),
                (3, 2, 2, (b"E" if lon_cs >= 0 else b"W") + b"\x00"),
                (4, 5, 3, rat(dms(lon_cs))),
            ], gps_off)
            tiff = b"II" + struct.pack("<HI", 42, 8) + ifd0 + gps
            payload = b"Exif\x00\x00" + tiff
            return (b"\xff\xd8" + b"\xff\xe1"
                    + struct.pack(">H", len(payload) + 2) + payload
                    + b"\xff\xd9")

        for pdf in batches:
            ids, blobs = [], []
            for i in pdf["doc_id"]:
                i = int(i)
                ids.append(i)
                if i % 7 == 3:
                    blobs.append(b"\xff\xd8\xff\xd9")  # no EXIF
                else:
                    lat_cs = (i % 5000) * 119 - 290000
                    lon_cs = (i % 9000) * 139 - 620000
                    blobs.append(enc(lat_cs, lon_cs))
            yield pd.DataFrame({"doc_id": ids, "image": blobs})

    blobs = d.mapInPandas(_blobs, schema="doc_id long, image binary")
    out = geotag_images(blobs, "image", level=12, tile_level=6)
    return out.select(
        "doc_id",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        F.col("cell_id").isNotNull().alias("geotagged"),
    )


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling, exact half (functions/profile.py:
    profile_exact — deequ/whylogs role, ONE stacked aggregate for any
    number of columns): count / nulls / min / max / mean / std over
    doc_id, n_chars, and a planted-null twin.  All three columns are
    integer-valued, so double sums are exact and the derived
    mean/std match DuckDB bit-for-bit under round(6).  The sketched
    half (KLL quantiles, HLL ndv) is pytest-pinned inside its error
    bands (tests/test_profile.py)."""
    from xarray_spatial_spark.functions.profile import profile_exact

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars",
        F.when(F.col("doc_id") % 9 != 4, F.col("n_chars"))
        .alias("n_chars_gap"),
    )
    out = profile_exact(d, ["doc_id", "n_chars", "n_chars_gap"])
    return out.select(
        "column", "n_rows", "n_nulls",
        "min", "max",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
    )


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-overlap analytics from KMV (theta) sketches
    (functions/sketch.py:kmv_*): two synthesized snapshot url sets
    (B shifts A's id space so ~40%% of B overlaps A), one
    unique-k-minima fold job per sketch, then |A|, |B|, |A u B| and
    |A n B| read from the two k-minima artifacts — no join over
    either corpus.  Rows-only (the estimates are deterministic given
    xxhash64 but not SQL-replicable); accuracy bands and union ==
    build-over-union are pytest-pinned."""
    from xarray_spatial_spark.functions import sketch as sk

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n_urls = F.lit(2000)
    a = d.select(F.concat(F.lit("https://s/"),
                          (F.col("doc_id") % n_urls).cast("string"))
                 .alias("url"))
    b = d.select(F.concat(F.lit("https://s/"),
                          ((F.col("doc_id") % n_urls) + 1200).cast("string"))
                 .alias("url"))
    ska = sk.kmv_build(a, "url", k=1024)
    skb = sk.kmv_build(b, "url", k=1024)
    rows = [
        ("card_a", float(sk.kmv_cardinality(ska, 1024))),
        ("card_b", float(sk.kmv_cardinality(skb, 1024))),
        ("union", float(sk.kmv_cardinality(sk.kmv_union(ska, skb, 1024),
                                           1024))),
        ("intersection", float(sk.kmv_intersection(ska, skb, 1024))),
    ]
    return spark.createDataFrame(rows, "metric string, estimate double")


def q_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain collapse (functions/url.py:resolve_redirects —
    pointer doubling, ceil(log2(max_hops)) self-joins on the redirect
    table, never the corpus) over a synthesized halving graph
    r_k -> r_{k//2} (chains up to 6 hops into the r2/r3 terminals)
    plus a planted 2-cycle c0 <-> c1.  The DuckDB twin unrolls the
    identical three doubling rounds; cycle rows must come back
    (NULL, -1, unresolved=true) on both engines."""
    from xarray_spatial_spark.functions.url import resolve_redirects

    nn = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select((F.col("doc_id") % 256).alias("k")).distinct()
    )
    rname = lambda c: F.concat(F.lit("r"), c.cast("long").cast("string"))  # noqa: E731
    edges = nn.filter(F.col("k") >= 4).select(
        rname(F.col("k")).alias("src"),
        rname(F.floor(F.col("k") / 2)).alias("dst"))
    cyc = nn.filter(F.col("k") < 2).select(
        F.when(F.col("k") == 0, F.lit("c0")).otherwise(F.lit("c1")).alias("src"),
        F.when(F.col("k") == 0, F.lit("c1")).otherwise(F.lit("c0")).alias("dst"))
    out = resolve_redirects(edges.union(cyc), max_hops=8)
    # sentinel '' for unresolved targets (house rule: sentinel fills
    # keep the cross-engine row sort total — NULLs don't sort)
    return out.select(
        "url", F.coalesce("final_url", F.lit("")).alias("final_url"),
        "hops", "unresolved",
    ).orderBy("url")


def _lpa_oracle_sql(iters: int = 3) -> str:
    """UNROLLED synchronous LPA twin for q_lpa: the same clique-and-
    bridge edge list, then ``iters`` copies of one vote round —
    ballots = neighbor labels + own label, winner = row_number over
    (cnt DESC, label ASC), exactly label_propagation's
    min(struct(-cnt, label)) argmax."""
    step = """
        l{next} AS (
          SELECT node, label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node
                                      ORDER BY cnt DESC, label ASC) AS rn
            FROM (
              SELECT m.node, m.label, count(*) AS cnt FROM (
                SELECT u.d AS node, l.label FROM und u
                JOIN l{cur} l ON u.s = l.node
                UNION ALL SELECT node, label FROM l{cur}
              ) m GROUP BY 1, 2
            )
          ) WHERE rn = 1
        )"""
    steps = ",".join(
        step.format(cur=i, next=i + 1) for i in range(iters))
    return f"""
        WITH nn AS (SELECT DISTINCT doc_id % 32 AS n FROM documents),
        und AS (
          SELECT format('h{{:02d}}', a.n) AS s, format('h{{:02d}}', b.n) AS d
          FROM nn a JOIN nn b ON a.n // 8 = b.n // 8 AND a.n <> b.n
          UNION
          SELECT format('h{{:02d}}', n), format('h{{:02d}}', n + 1)
          FROM nn WHERE n IN (7, 15, 23)
          UNION
          SELECT format('h{{:02d}}', n + 1), format('h{{:02d}}', n)
          FROM nn WHERE n IN (7, 15, 23)
        ),
        l0 AS (SELECT DISTINCT s AS node, s AS label FROM und),{steps}
        SELECT node, label FROM l{iters} ORDER BY node
    """


def q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation
    (functions/graph.py:label_propagation) on a deterministic
    clique-and-bridge graph: 32 hosts in four 8-cliques with three
    single bridge edges.  Fixed 3 rounds, self-inclusive mode vote,
    min-label ties — a pure function of the edge list, so the DuckDB
    twin UNROLLS the identical three rounds (row_number over
    (cnt DESC, label ASC) = the min(struct(-cnt, label)) argmax) and
    asserts every (node, label) row.  The bridges pin that the vote
    is majority-based: h08's clique outvotes its smaller bridge
    neighbor h07 by round 2."""
    from xarray_spatial_spark.functions.graph import label_propagation

    nn = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select((F.col("doc_id") % 32).alias("n")).distinct()
    )
    name = lambda c: F.format_string("h%02d", c.cast("int"))  # noqa: E731
    clique = nn.alias("a").join(
        nn.alias("b"),
        (F.floor(F.col("a.n") / 8) == F.floor(F.col("b.n") / 8))
        & (F.col("a.n") < F.col("b.n")),
    ).select(name(F.col("a.n")).alias("src"), name(F.col("b.n")).alias("dst"))
    bridge = nn.filter(F.col("n").isin(7, 15, 23)).select(
        name(F.col("n")).alias("src"), name(F.col("n") + 1).alias("dst"))
    labels = label_propagation(clique.union(bridge), iters=3)
    return labels.orderBy("node")


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render every document as a CC-style per-record-gzip WARC member
    and parse it back with the from-scratch reader (sources/warc.py)
    in ONE distributed narrow pass (no disk, no exchange); the oracle
    hash on (url, warc_ts, n_bytes, text) proves byte identity of the
    whole render->gzip->parse->extract_text pipeline."""
    import pandas as pd

    from xarray_spatial_spark.sources import warc as W
    from xarray_spatial_spark.sources.documents import extract_text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    src = d.select(
        _synth_url_expr().alias("url"),
        F.concat(
            F.lit("2026-06-01T00:00:"),
            F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
            F.lit("Z"),
        ).alias("ts"),
        F.concat(
            F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")
        ).alias("page"),
    )

    def _roundtrip(batches):
        for pdf in batches:
            rows = []
            for url, ts, page in zip(pdf["url"], pdf["ts"], pdf["page"]):
                blob = W.gzip_member(
                    W.response_record(url, page.encode(), ts))
                (rec,) = W.parse_warc_bytes(blob, record_types=("response",))
                rows.append((
                    rec["url"],
                    rec["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    bytes(rec["payload"]),
                ))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["url", "warc_ts", "payload"])

    out = src.mapInPandas(
        _roundtrip, schema="url string, warc_ts string, payload binary")
    return out.select(
        "url", "warc_ts",
        F.octet_length("payload").alias("n_bytes"),
        extract_text(F.col("payload")).alias("text"),
    )


def q_host_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged union of two host-budget stages (one oracle slot, hash
    breaks if EITHER drifts): 'cap' = per-host quality cap
    (functions/corpus.py host_cap, top-3 docs per host by n_chars);
    'frontier' = crawl-frontier politeness schedule
    (functions/frontier.py frontier_schedule, canonical URLs with
    priority = n_chars, max_per_host=3, wave = one-fetch-per-host
    round)."""
    from xarray_spatial_spark.functions import url as uf
    from xarray_spatial_spark.functions.corpus import host_cap
    from xarray_spatial_spark.functions.frontier import frontier_schedule

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    sel = df.select(
        "doc_id", "n_chars", uf.url_host(_synth_url_expr()).alias("host")
    )
    out = host_cap(sel, k=3, score_col="n_chars", id_col="doc_id",
                   host_col="host")
    cap = out.select(
        F.lit("cap").alias("variant"),
        F.col("doc_id").cast("string").alias("key"),
        "host",
        F.col("n_chars").cast("double").alias("val"),
        F.col("host_rank").cast("int").alias("rnk"),
    )
    links = df.select(
        F.concat(
            F.lit("https://site"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".org/p"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("n_chars").cast("double").alias("pri"),
    )
    fr = frontier_schedule(links, priority_col="pri", max_per_host=3)
    front = fr.select(
        F.lit("frontier").alias("variant"),
        F.col("url").alias("key"),
        "host",
        F.col("priority").alias("val"),
        F.col("wave").alias("rnk"),
    )
    return cap.unionByName(front)


def q_host_cap_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """host_cap on a DELIBERATELY zipfian host map (70% of docs on one
    megahost) with NO caller hint: the AUTO skew probe
    (functions/corpus.py _auto_salts — one counting job: max host
    share vs fair task share) trips the exact two-phase salted
    pre-cut by itself, so the megahost's final window task sees
    <= n_salts*k rows instead of 70% of the corpus.  Salted == plain
    equality and the auto dispatch are pytest-asserted
    (tests/test_corpus.py::test_host_cap_auto_salts_zipfian)."""
    from xarray_spatial_spark.functions.corpus import host_cap

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "n_chars"
    )
    sel = df.select(
        "doc_id", "n_chars",
        F.when(F.col("doc_id") % 10 < 7, F.lit("mega.example.com"))
        .otherwise(F.concat(F.lit("s"), (F.col("doc_id") % 997).cast("string"),
                            F.lit(".example.org"))).alias("host"),
    )
    out = host_cap(sel, k=3, score_col="n_chars", id_col="doc_id",
                   host_col="host")
    return out.select("doc_id", "host", "n_chars", "host_rank")


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-token chunking with overlap (functions/corpus.py
    chunk_documents): 24-token windows every 16 tokens."""
    from xarray_spatial_spark.functions.corpus import chunk_documents

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    out = chunk_documents(d, chunk_tokens=24, stride=16)
    return out.select("doc_id", "chunk_id", "chunk_text", "chunk_tokens")



def q_strat_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling/selection tagged union (hash breaks if either variant
    drifts): 'strat' = exact-k stratified sample per source
    (functions/corpus.py:stratified_sample, deterministic Knuth-hash
    order); 'dsir' = DSIR importance resampling
    (functions/dsir.py:dsir_select, Xie et al. 2023 — hashed-bigram
    importance weights vs a doc_id%11==0 target slice, Gumbel top-40).
    Both selections are pure deterministic arithmetic, so the SQL
    oracle reproduces the identical rows."""
    from xarray_spatial_spark.functions.corpus import stratified_sample
    from xarray_spatial_spark.functions.dsir import dsir_select

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id", "source", "n_chars"
    )
    strat = stratified_sample(d, k=25, strata_col="source").select(
        F.lit("strat").alias("variant"),
        "doc_id",
        F.col("source").alias("strata"),
        F.col("n_chars").cast("double").alias("metric"),
        F.col("sample_rank").cast("int").alias("rank"),
    )
    docs = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id", "text")
    target = docs.filter(F.col("doc_id") % 11 == 0)
    sel = dsir_select(docs, target, k=40, n_buckets=2048, seed=7)
    ds = sel.select(
        F.lit("dsir").alias("variant"),
        "doc_id",
        F.lit("_all").alias("strata"),
        F.round("log_w", 6).alias("metric"),
        F.col("rank").cast("int").alias("rank"),
    )
    # 'split' = host-disjoint train/eval assignment over the synth
    # urls (functions/corpus.py:host_disjoint_split — portable domain
    # hash, scan-stage, no shuffle); strata carries the side
    from xarray_spatial_spark.functions.corpus import host_disjoint_split

    su = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id").withColumn("url", _synth_url_expr())
    sp = host_disjoint_split(su, eval_frac=0.3, seed=2).select(
        F.lit("split").alias("variant"),
        "doc_id",
        F.col("split").alias("strata"),
        F.lit(-1.0).alias("metric"),
        F.lit(-1).cast("int").alias("rank"),
    )
    # 'shuffle' = deterministic pre-training shuffle + sharding
    # (functions/corpus.py:shuffle_corpus — two independent Knuth
    # hashes: shard assignment + within-shard order; no global sort).
    # The oracle replays the identical permutation, so the hash pins
    # shard AND position for every doc.
    from xarray_spatial_spark.functions.corpus import shuffle_corpus

    sh = shuffle_corpus(d.select("doc_id"), n_shards=8, seed=5).select(
        F.lit("shuffle").alias("variant"),
        "doc_id",
        F.col("shard_id").cast("string").alias("strata"),
        F.lit(-1.0).alias("metric"),
        F.col("shard_pos").cast("int").alias("rank"),
    )
    return strat.unionByName(ds).unionByName(sp).unionByName(sh)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES,
    functions/corpus.py:weighted_sample): weight = n_chars, so the
    draw approximates token-uniform selection — the mixture weighting
    a training-data pipeline actually wants, with an EXACT output
    size.  The key ln(u)/w is deterministic (Knuth-hash u from
    doc_id), so DuckDB replays the identical top-40."""
    from xarray_spatial_spark.functions.corpus import weighted_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("weight")
    )
    out = weighted_sample(d, n=40, weight_col="weight", seed=11)
    return out.select(
        "doc_id", "source", "weight", F.round("es_key", 6).alias("es_key")
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (functions/similarity.py:pq_train/
    pq_encode/pq_topk): train deterministic codebooks, encode the
    corpus to m-byte codes, ADC top-10 per query with exact rerank of
    the top-40.  Rows-only (codebook arithmetic has no sane SQL twin);
    pytest pins encode bit-equality vs numpy, recall vs brute force,
    and rerank==exact-cosine on survivors."""
    from xarray_spatial_spark.functions.similarity import (
        pq_encode, pq_topk, pq_train,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    cb = pq_train(e, m=16, n_codes=32, sample=2000)
    codes = pq_encode(e, cb)
    q = e.select(F.col("vec_id").alias("query_id"), "embedding").filter(
        "query_id % 50 = 3")
    out = pq_topk(codes, q, cb, k=10, rerank=40, corpus=e)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias(
        "cosine"), "rank")


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF-PQ ANN (functions/similarity.py:ivfpq_train/
    ivfpq_encode/ivfpq_topk): coarse inverted lists prune the scan to
    n_probe/B of the corpus, residual-trained PQ codes compress what
    remains, exact rerank of the top-40 finishes.  Rows-only (two
    stacked k-means artifacts have no sane SQL twin); pytest pins the
    encode numpy replay, recall vs brute force, rerank==exact cosine,
    and partitioning invariance."""
    from xarray_spatial_spark.functions.similarity import (
        ivfpq_encode, ivfpq_topk, ivfpq_train,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    cents, cb = ivfpq_train(e, n_centroids=16, m=16, n_codes=32, sample=2000)
    codes = ivfpq_encode(e, cents, cb)
    q = e.select(F.col("vec_id").alias("query_id"), "embedding").filter(
        "query_id % 50 = 3")
    out = ivfpq_topk(codes, q, cents, cb, k=10, n_probe=4, rerank=40,
                     corpus=e)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias(
        "cosine"), "rank")


def q_pca_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA -> ANN composition (functions/similarity.py:
    pca_train/pca_project): exact one-pass sufficient statistics,
    project to 16 dims, brute-force cosine top-5 over the REDUCED
    vectors.  Rows-only (eigendecomposition has no SQL twin); pytest
    pins train==numpy, projection replay, orthonormality, and
    self-query rank 1 on the reduced space."""
    from xarray_spatial_spark.functions.similarity import (
        cosine_topk_broadcast, pca_project, pca_train,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    mean, comps, _ = pca_train(e, n_components=16)
    red = pca_project(e, mean, comps, out_col="embedding")
    q = red.select(F.col("vec_id").alias("query_id"), "embedding").filter(
        "query_id % 50 = 3")
    out = cosine_topk_broadcast(red, q, k=5)
    return out.select("query_id", "vec_id", F.round("cosine", 6).alias(
        "cosine"), "rank")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding dedup (functions/similarity.py
    semantic_dedup) — kept-row roster; kmeans buckets have no sane
    SQL twin, so this is a rows-only check (planted-cluster pytest
    carries the semantics)."""
    from xarray_spatial_spark.functions.similarity import semantic_dedup

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    out = semantic_dedup(e, threshold=0.98, n_clusters=8)
    return out.select("vec_id", "label")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: geocode + tile-assign the documents table, zonal stats
    per tile joined with nearest-hot-city allocation counts."""
    sf_dir = "/root/testdata/sf0.001"
    tiles = q_tile_assign(spark, sf_dir)
    return tiles.orderBy(F.desc("n_docs"), "tile_x", "tile_y")


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html -> extract_anchors -> per-target anchor-text profile
    (functions/url.py:anchor_text).  Pages carry two links chosen by
    modular arithmetic (a cross-host one with a rotating label and a
    same-host 'click here'), so inlink counts, distinct source hosts
    and the top-anchor ranking are all deterministic.  Rows-only: the
    extraction/resolution branches are pytest goldens
    (tests/test_links.py) and the distinct-host HLL sketch has no SQL
    twin; the host-window top-k semantics are oracle-backed in the
    'host_cap' slot."""
    from xarray_spatial_spark.functions.url import anchor_text

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    t = (F.col("doc_id") % 13).cast("string")
    lbl = (F.col("doc_id") % 5).cast("string")
    loc = (F.col("doc_id") % 7).cast("string")
    page = d.select(
        F.concat(F.lit("https://s"), (F.col("doc_id") % 20).cast("string"),
                 F.lit(".com/p"), F.col("doc_id").cast("string")).alias("url"),
        F.concat(
            F.lit('<html><body><a href="https://t.org/d'), t,
            F.lit('">guide '), lbl,
            F.lit('</a> <a href="/local'), loc,
            F.lit('">click here</a></body></html>'),
        ).alias("html"),
    )
    out = anchor_text(page, k=2)
    return (
        out.orderBy(F.desc("n_inlinks"), "url")
        .limit(50)
        .select("url", "n_inlinks", "n_source_hosts",
                F.array_join("top_anchors", "|").alias("anchors"))
    )


def q_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer end to end (functions/bpe.py): ONE distributed
    word-histogram pass -> driver-side merge training (deterministic:
    ties break on the lexically smallest pair) -> vectorized apply.
    Emits per-doc BPE token counts plus the first tokens.  Rows-only:
    the sequential merge loop has no SQL twin; training is pinned
    against an independent from-scratch reference trainer in
    tests/test_bpe.py and the round-trip invariant
    (detokenize(encode(text)) == normalized text) is pytest-asserted."""
    from xarray_spatial_spark.functions import bpe

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    merges = bpe.train_bpe(
        bpe.word_histogram(d, max_words=20_000), n_merges=200)
    enc = bpe.bpe_encode(d, merges)
    return enc.select(
        "doc_id",
        F.size("bpe_tokens").alias("n_bpe_tokens"),
        F.array_join(F.slice("bpe_tokens", 1, 5), "|").alias("head_tokens"),
    )


def q_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece-style) tokenizer end to end
    (functions/unigram.py): ONE distributed word-histogram pass ->
    distributed EM (every E-step a histogram-scale Spark job with the
    piece table broadcast) -> prune rounds -> vectorized Viterbi
    apply.  Rows-only: EM has no SQL twin; training is pinned
    step-for-step against an independent reference trainer and the
    Viterbi segmentation against brute-force enumeration in
    tests/test_unigram.py."""
    from xarray_spatial_spark.functions import bpe, unigram

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    logp = unigram.train_unigram(
        bpe.word_histogram(d, max_words=20_000),
        vocab_size=400, seed_size=1200, max_piece_len=6, em_iters=1,
    )
    enc = unigram.unigram_encode(d, logp, max_piece_len=6)
    return enc.select(
        "doc_id",
        F.size("pieces").alias("n_pieces"),
        F.array_join(F.slice("pieces", 1, 5), "|").alias("head_pieces"),
    )


def q_wordpiece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer end to end (functions/wordpiece.py): the
    SAME single distributed word-histogram pass the other two
    tokenizers use -> driver merge loop with the likelihood objective
    score(a,b)=n_ab/(n_a*n_b) compared as exact rationals -> BERT
    greedy longest-match apply (vectorized, per-batch word cache).
    Rows-only: the sequential merge loop has no SQL twin; training is
    pinned step-for-step against a recount-from-scratch reference and
    the PMI-beats-frequency objective is pytest-asserted in
    tests/test_wordpiece.py."""
    from xarray_spatial_spark.functions import bpe, wordpiece

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    vocab = wordpiece.train_wordpiece(
        bpe.word_histogram(d, max_words=20_000), vocab_size=600)
    enc = wordpiece.wordpiece_encode(d, vocab)
    return enc.select(
        "doc_id",
        F.size("pieces").alias("n_pieces"),
        F.array_join(F.slice("pieces", 1, 5), "|").alias("head_pieces"),
    )


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction end to end (operators/pdf.py): each doc's
    text renders into a deterministic one-page PDF (simple_pdf), the
    binary payloads flow through the distributed from-scratch reader
    (xref -> page tree -> content-stream text ops -> WinAnsi font),
    and the row SELF-CHECKS: `match` compares the extraction against
    the source text with whitespace collapsed (rendering wraps lines).
    Rows-only: the binary format path has no SQL twin; spec fixtures +
    two REAL pdfTeX documents are pytest-pinned (tests/test_pdf.py)."""
    import pandas as pd

    from xarray_spatial_spark.operators.pdf import pdf_text, simple_pdf

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text").limit(400)
    )

    def _gen(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "expected": [t or "" for t in pdf["text"]],
                "payload": [simple_pdf(t or "") for t in pdf["text"]],
            })

    pdfs = d.mapInPandas(_gen, "doc_id long, expected string, payload binary")
    out = pdf_text(pdfs)
    ws = r"[\s]+"
    return out.select(
        "doc_id",
        F.length("pdf_text").alias("n_chars_extracted"),
        (
            F.regexp_replace(F.col("pdf_text"), ws, "")
            == F.regexp_replace(F.col("expected"), ws, "")
        ).alias("match"),
        F.col("err").isNull().alias("clean"),
    )


def q_quality_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainable quality classifier end to end
    (functions/quality_model.py): featurize-once -> per-iteration
    gradient aggregation jobs -> pure-Catalyst sigmoid scoring.
    Labels are synthesized deterministically (docs whose text carries
    a '#' marker pattern vs not), so training separates and the score
    direction is stable.  Rows-only: the GD loop has no SQL twin;
    step-for-step equality vs a numpy reference and the
    no-UDF/no-exchange scoring plan are pytest-asserted
    (tests/test_quality_model.py)."""
    from xarray_spatial_spark.functions.quality_model import (
        quality_model_score, train_quality_model)

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id", "text")
    # deterministic labels from an id pattern, text perturbed to match
    labeled = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("# spam ### "), F.col("text"),
                        F.lit(" ### buy # now #")))
        .otherwise(F.col("text")).alias("text"),
        (F.col("doc_id") % 3 != 0).cast("double").alias("y"),
    )
    m = train_quality_model(labeled, "y", iters=25, lr=1.0)
    return labeled.select(
        "doc_id", "y",
        F.round(quality_model_score(m), 3).alias("p"),
    )


def q_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup
    (operators/multimodal.py:phash_near_duplicates): deterministic
    textured images keyed on doc_id are PNG-encoded, decoded through
    the from-scratch codec, pHashed (32x32 area luma -> DCT-II -> 8x8
    median bits), and paired via the generic banded-Hamming join —
    8 bytes/image in the self-join exchange, pixels never shuffle.
    Every doc_id % 7 == 0 image gets a noise-jittered twin
    (id + 10**6); the result projects the recovered twin pairs.
    Rows-only: the DCT/codec path has no SQL twin; codec invariance,
    jitter bounds, and brute-force band parity are pytest-asserted
    (tests/test_imagehash.py)."""
    import numpy as np
    import pandas as pd

    from xarray_spatial_spark.operators import multimodal as mm

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").limit(400)
    )

    def _gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                for mid, jitter in (
                    [(did, 0)] + ([(did + 10**6, 1)] if did % 7 == 0 else [])
                ):
                    rng = np.random.default_rng(did)
                    yy, xx = np.mgrid[0:40, 0:56]
                    base = np.zeros((40, 56))
                    for amp in (90, 60, 40, 25):
                        fy, fx = rng.uniform(1.5, 6, 2)
                        py, px = rng.uniform(0, 2 * np.pi, 2)
                        base += amp * np.sin(
                            2 * np.pi * fy * yy / 40 + py
                        ) * np.cos(2 * np.pi * fx * xx / 56 + px)
                    img = np.clip(
                        np.stack([base + rng.uniform(60, 160)] * 3, axis=2),
                        0, 255,
                    ).astype(np.uint8)
                    if jitter:
                        jr = np.random.default_rng(did + 1)
                        img = np.clip(
                            img.astype(np.int16)
                            + jr.integers(-2, 3, img.shape),
                            0, 255,
                        ).astype(np.uint8)
                    rows.append((mid, mm.encode_png(img), 56, 40))
            yield pd.DataFrame(
                rows, columns=["media_id", "payload", "width", "height"])

    media = ids.mapInPandas(
        _gen, schema="media_id long, payload binary, width int, height int")
    decoded = mm.decode_image(media)
    pairs = mm.phash_near_duplicates(decoded, max_hamming=6, n_blocks=8)
    return pairs.orderBy("id_a", "id_b")


def q_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint audio near-dup
    (operators/audio.py:audio_near_duplicates): deterministic
    broadband clips keyed on doc_id are WAV-PCM16-encoded, decoded
    through the from-scratch codec, fingerprinted (65 log-band
    spectral-slope bits, Haitsma-Kalker-style, exactly gain-
    invariant), and paired via the same banded-Hamming join as
    simhash (text) and phash (images) — 8 bytes/clip in the
    self-join exchange.  Every doc_id % 7 == 0 clip gets a
    re-encoded twin (0.4x gain + light noise + PCM16 quantization,
    id + 10**6).  Rows-only: the FFT/codec path has no SQL twin;
    gain invariance, noise bounds and planted recall are
    pytest-asserted (tests/test_audio.py)."""
    import numpy as np
    import pandas as pd

    from xarray_spatial_spark.operators import audio as au

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").limit(200)
    )

    def _clip(seed: int, rate: int = 16000, secs: float = 1.2):
        rng = np.random.default_rng(seed)
        n = int(secs * rate)
        t = np.arange(n) / rate
        x = np.zeros_like(t)
        for _ in range(5):
            f = rng.uniform(350, 4500)
            x += rng.uniform(0.2, 1.0) * np.sin(
                2 * np.pi * f * t + rng.uniform(0, 6))
        spec = np.fft.rfft(rng.standard_normal(n))
        spec /= np.sqrt(np.fft.rfftfreq(n, 1.0 / rate) + 20.0)
        bed = np.fft.irfft(spec, n)
        x += 1.5 * bed / np.std(bed)
        return (x / np.max(np.abs(x)) * 0.7).astype(np.float32)

    def _gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                x = _clip(did)
                pcm = (np.clip(x, -1, 1) * 32767).astype(np.int16)
                rows.append((did, au.encode_wav(pcm, 16000, "pcm")))
                if did % 7 == 0:
                    jr = np.random.default_rng(did + 1)
                    tw = 0.4 * x + 0.01 * jr.standard_normal(
                        len(x)).astype(np.float32)
                    twp = (np.clip(tw, -1, 1) * 32767).astype(np.int16)
                    rows.append(
                        (did + 10**6, au.encode_wav(twp, 16000, "pcm")))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = ids.mapInPandas(_gen, schema="media_id long, payload binary")
    pairs = au.audio_near_duplicates(media, max_hamming=8, n_blocks=10)
    return pairs.orderBy("id_a", "id_b")


def q_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup over animated GIF payloads
    (operators/multimodal.py:video_near_duplicates) — the one video
    container decoded FROM SCRATCH, so the whole path is real:
    deterministic 6-frame GIFs keyed on doc_id; every doc_id % 13 == 0
    video gets a palette-jittered re-encode twin (id + 10**6).
    Frames collapse to (video, frame, 8-byte pHash) inside the decode
    pass; candidate pairs via the shared banded-Hamming join; coverage
    verify over matched pairs only.  Rows-only: no SQL twin for the
    GIF/DCT path; planted recall, subset clips and frame-order
    invariance are pytest-asserted (tests/test_imagehash.py)."""
    import numpy as np
    import pandas as pd

    from xarray_spatial_spark.operators import multimodal as mm

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id").limit(60)
    )
    grays = np.stack([np.arange(64) * 4] * 3, axis=1).astype(np.uint8)

    def _frames(seed: int, jitter: int):
        out = []
        for f in range(6):
            rng = np.random.default_rng(seed * 100 + f)
            yy, xx = np.mgrid[0:40, 0:56]
            base = np.zeros((40, 56))
            for amp in (90, 60, 40, 25):
                fy, fx = rng.uniform(1.5, 6, 2)
                py, px = rng.uniform(0, 2 * np.pi, 2)
                base += amp * np.sin(
                    2 * np.pi * fy * yy / 40 + py
                ) * np.cos(2 * np.pi * fx * xx / 56 + px)
            img = np.clip(base + rng.uniform(60, 160), 0, 255)
            idx = (img / 4).astype(np.int64)
            if jitter:
                jr = np.random.default_rng(seed * 997 + f)
                idx = idx + jr.integers(-jitter, jitter + 1, idx.shape)
            out.append(np.clip(idx, 0, 63).astype(np.uint8))
        return out

    def _gen(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rows.append((did, mm.encode_gif(
                    _frames(did, 0), grays, delays_ms=[100] * 6)))
                if did % 13 == 0:
                    rows.append((did + 10**6, mm.encode_gif(
                        _frames(did, 1), grays, delays_ms=[100] * 6)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    media = ids.mapInPandas(_gen, schema="media_id long, payload binary")
    pairs = mm.video_near_duplicates(
        media, max_hamming=6, frame_match_frac=0.5, n_blocks=8)
    return pairs.select(
        "id_a", "id_b", F.round("frac_a", 6).alias("frac_a"),
        F.round("frac_b", 6).alias("frac_b"), "n_matched",
    ).orderBy("id_a", "id_b")


def q_traps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL trap mining (functions/url.py:url_template/trap_candidates):
    a synthesized mixed URL population — an infinite-calendar host, a
    faceted-search host (query keys sorted, values dropped), and
    ordinary per-post blog URLs — flagged by DISTINCT-url template
    cardinality; only the two trap templates cross the threshold.
    The oracle replays the template expression (digit runs -> N,
    >=8-hex runs -> H, sorted query key set) in SQL."""
    from xarray_spatial_spark.functions import url as uf

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    u = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("http://trap.example.com/cal/"),
                     (F.col("doc_id") % 12).cast("string"),
                     F.lit("/"), F.col("doc_id").cast("string")))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("http://shop.example.com/search?page="),
                     F.col("doc_id").cast("string"),
                     F.lit("&sort=price&q=q"),
                     (F.col("doc_id") % 7).cast("string")))
        .otherwise(
            F.concat(F.lit("http://blog"),
                     (F.col("doc_id") % 50).cast("string"),
                     F.lit(".example.com/post/"),
                     F.col("doc_id").cast("string")))
    )
    urls = d.select(u.alias("url"))
    out = uf.trap_candidates(urls, max_urls_per_template=40)
    return out.select("host", "template",
                      F.col("n_urls").cast("long").alias("n_urls"))


def q_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-7 served FROM THE INDEX ARTIFACT (functions/index.py):
    build varbyte-compressed term-sharded postings, then answer the
    fixed queries via manifest shard pruning + pushed term filter +
    numpy varbyte decode.  Same scoring semantics as `bm25` — the
    oracle pins the whole build->encode->prune->decode->score chain
    against DuckDB computing BM25 directly from the corpus."""
    import tempfile

    from xarray_spatial_spark.functions import index as ix

    d = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text"))
    path = os.path.join(
        tempfile.gettempdir(), "xss_search_index", os.path.basename(sf_dir.rstrip("/"))
    )
    ix.write_index(d, path, n_shards=4)
    out = ix.search_index(spark, path, BM25_QUERIES, k=7)
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"),
        "n_terms_hit", "rank",
    )


def q_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-BFS crawl depth (graph.py:seed_distance) over a
    deterministic two-out-links-per-page graph on a 1000-node page
    space; DuckDB replays it as a recursive CTE with min-depth
    aggregation — a hard oracle for an iterative frontier algorithm."""
    from xarray_spatial_spark.functions.graph import seed_distance

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    edges = d.select(
        (F.col("doc_id") % 1000).alias("src"),
        ((F.col("doc_id") * 31 + 7) % 1000).alias("dst"),
    ).union(
        d.select(
            (F.col("doc_id") % 1000).alias("src"),
            ((F.col("doc_id") * 17 + 3) % 97).alias("dst"),
        )
    )
    seeds = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    out = seed_distance(edges, seeds, max_hops=6)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("depth").cast("int").alias("depth"),
    )


def q_geoindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash-7 + Bing quadkey-9 per document, plus a geohash-3
    prefix rollup — pins both spatial-index encoders bit-for-bit
    (functions/geoindex.py; codegen Column math, no UDF) AND the
    prefix-aggregation pattern they exist for."""
    from xarray_spatial_spark.functions import geoindex as gx

    d = _docs(spark, sf_dir).select(
        "doc_id",
        gx.geohash_col(F.col("lat"), F.col("lon"), 7).alias("gh"),
        gx.quadkey_col(F.col("lat"), F.col("lon"), 9).alias("qk"),
    )
    per_doc = d.select(
        F.lit("doc").alias("variant"),
        F.col("doc_id").cast("long").alias("k"),
        F.col("gh").alias("a"),
        F.col("qk").alias("b"),
    )
    rollup = (
        d.groupBy(F.substring("gh", 1, 3).alias("a"))
        .agg(F.count(F.lit(1)).alias("k"), F.min("qk").alias("b"))
        .select(F.lit("gh3").alias("variant"), "k", "a", "b")
    )
    return per_doc.unionByName(rollup)


def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of + interval joins (plans/asof.py) against DuckDB's NATIVE
    ASOF JOIN and range-join engines — an independent third-party
    implementation of both semantics.  Three variants in one tagged
    union: 'asof' = each event matched to the newest click snapshot
    at-or-before it per user (timestamp ordering, union-window plan —
    ONE exchange, no join); 'fwd' = forward direction on epoch-micros
    with a 6h tolerance voiding far matches; 'ival' = points-in-
    intervals via the bucketed equi-join (never BroadcastNestedLoop),
    aggregated per point so multi-match rows stay deterministic."""
    from xarray_spatial_spark.plans.asof import asof_join, interval_join

    def _us(c):
        # events.ts is TIMESTAMP_NTZ; the session tz is pinned UTC, so
        # the LTZ reinterpretation is epoch-faithful (== DuckDB
        # epoch_us on the naive value)
        return F.unix_micros(F.col(c).cast("timestamp_ltz"))

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap"))
    )
    # unmatched lefts keep the row (how="left") but the harness's row
    # sort can't order NULLs — sentinel-fill with -1 on both engines
    back = asof_join(left, clicks, on="ts", by="user_id").select(
        F.lit("asof").alias("variant"),
        F.col("event_id").cast("long").alias("k"),
        F.coalesce(_us("ts_r"), F.lit(-1)).alias("a"),
        F.coalesce(F.col("snap"), F.lit(-1.0)).alias("b"),
    )

    lu = left.select("event_id", "user_id", _us("ts").alias("us"))
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", _us("ts").alias("us"))
        .agg(F.max("value").alias("snap"))
    )
    fwd = asof_join(
        lu, purch, on="us", by="user_id",
        direction="forward", tolerance=6 * 3600 * 1_000_000,
    ).select(
        F.lit("fwd").alias("variant"),
        F.col("event_id").cast("long").alias("k"),
        F.coalesce(F.col("us_r"), F.lit(-1)).alias("a"),
        F.coalesce(F.col("snap"), F.lit(-1.0)).alias("b"),
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        "doc_id", "lang", ((F.col("doc_id") * 7919) % 100000).alias("p")
    )
    ivals = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("iv_id"),
        "lang",
        ((F.col("doc_id") * 13) % 100000).alias("lo"),
        ((F.col("doc_id") * 13) % 100000 + F.col("n_chars") % 2000).alias("hi"),
    )
    ij = interval_join(
        pts, ivals, point_col="p", lo_col="lo", hi_col="hi",
        by="lang", bin_width=512, how="left",
    )
    ival = ij.groupBy("doc_id").agg(
        F.count("iv_id").alias("a"),
        F.coalesce(F.sum("iv_id"), F.lit(0)).cast("double").alias("b"),
    ).select(
        F.lit("ival").alias("variant"),
        F.col("doc_id").cast("long").alias("k"),
        "a", "b",
    )
    return back.unionByName(fwd).unionByName(ival)


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trec_eval metrics (functions/retrieval.py) — per-query P@10 /
    R@10 / RR / AP / nDCG@10 plus the macro means, over deterministic
    arithmetic runs (heavy score ties broken by doc_id, the operator's
    tiebreak rule) and graded qrels with unretrieved-relevant docs so
    recall < 1.  The DuckDB twin replays the metric formulas through
    its own window engine."""
    from xarray_spatial_spark.functions.retrieval import (
        macro_metrics,
        retrieval_metrics,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        "doc_id", (F.col("doc_id") % 20).alias("query_id")
    )
    runs = base.filter(F.col("doc_id") % 5 != 0).select(
        "query_id",
        "doc_id",
        ((F.col("doc_id") * 37) % 100).cast("double").alias("score"),
    )
    qrels = base.filter(F.col("doc_id") % 2 == 0).select(
        "query_id",
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, 2)
        .when(F.col("doc_id") % 7 == 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("rel"),
    )
    pq = retrieval_metrics(runs, qrels, k=10)
    per_query = pq.select(
        F.lit("q").alias("variant"),
        F.col("query_id").cast("long").alias("k"),
        F.col("n_ret").cast("long").alias("n_ret"),
        F.col("n_rel").cast("long").alias("n_rel"),
        "p_at_k", "r_at_k", "rr", "ap", "ndcg",
    )
    macro = macro_metrics(pq).select(
        F.lit("macro").alias("variant"),
        F.lit(-1).cast("long").alias("k"),
        F.col("n_queries").cast("long").alias("n_ret"),
        F.lit(-1).cast("long").alias("n_rel"),
        F.col("mean_p_at_k").alias("p_at_k"),
        F.col("mean_r_at_k").alias("r_at_k"),
        F.col("mrr").alias("rr"),
        F.col("map").alias("ap"),
        F.col("mean_ndcg").alias("ndcg"),
    )
    return per_query.unionByName(macro)


def q_ip_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 parse/format + interval-join geolocation (functions/ip.py
    over plans/asof.interval_join).  Deterministic IPs render to
    dotted quads with long_to_ipv4, RE-PARSE through the strict
    ipv4_to_long regex inside geolocate_ipv4, and bucket-join against
    an arithmetic range table (overlaps allowed — matches aggregate
    per doc so fan-out stays deterministic).  The projected ip string
    pins BOTH conversion directions cross-engine."""
    from xarray_spatial_spark.functions.ip import geolocate_ipv4, long_to_ipv4

    docs = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    ips = docs.select(
        "doc_id",
        long_to_ipv4(
            (F.col("doc_id") * 2654435761) % 4294967296
        ).alias("ip"),
    )
    lo = (F.col("doc_id") * 1103515245) % 4294967296
    ranges = docs.filter(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("range_id"),
        lo.alias("ip_lo"),
        F.least(
            lo + ((F.col("doc_id") * 97) % 65536) * 16,
            F.lit(4294967295),
        ).alias("ip_hi"),
    )
    hit = geolocate_ipv4(ips, ranges, ip_col="ip")
    return hit.groupBy("doc_id", "ip").agg(
        F.count("range_id").alias("n"),
        F.coalesce(F.sum("range_id"), F.lit(-1)).alias("s"),
    ).select(F.col("doc_id").alias("k"), "ip", "n", "s")


def q_spatial_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive KD spatial partitioner (plans/partitioner.py): fit
    median splits on a deterministic bounded sample of the geocoded
    docs, Arrow-assign leaf ids, report per-leaf loads plus a
    'summary' row with the max/mean balance ratio — the number a
    fixed grid can't hold under population skew.  Rows-only: the fit
    is a recursive median tree, not SQL-expressible."""
    from xarray_spatial_spark.plans.partitioner import fit_kdtree

    d = _docs(spark, sf_dir)
    tree = fit_kdtree(
        d, x_col="lon", y_col="lat", num_partitions=32, sample_rows=50000
    )
    per = (
        tree.assign(d, "lon", "lat")
        .groupBy("spatial_pid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("double").alias("v"),
        )
    )
    leaves = per.select(
        F.lit("leaf").alias("variant"),
        F.col("spatial_pid").cast("long").alias("k"),
        "n",
        "v",
    )
    summary = per.agg(
        F.lit("summary").alias("variant"),
        F.lit(-1).cast("long").alias("k"),
        F.sum("n").alias("n"),
        (F.max("n") / F.avg("n")).alias("v"),
    )
    return leaves.unionByName(summary)


def q_spatial_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I + Geary's C (+ normality z-score) over the
    z4 occupied-cell grid of geocoded docs, value = per-cell total
    chars — queen AND rook contiguity unioned under one tagged slot
    (operators/spatialstats.py).  The corpus-level "is anything
    spatially clustered?" statistic the reference's per-cell hotspots
    (xrspatial/focal.py:hotspots) can't answer."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 4
    cells = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(F.sum("n_chars").cast("double").alias("value"))
    )
    outs = []
    for cont in ("queen", "rook"):
        outs.append(
            sps.global_autocorrelation(cells, contiguity=cont).select(
                F.lit(cont).alias("variant"),
                "n",
                "s0",
                # float32: the raw double differs between engines at the
                # 16th digit (var_pop merge order); the statistics are
                # scale-free and agree to ~1e-12
                F.col("mean").cast("float").alias("mean"),
                "morans_i",
                "expected_i",
                "z_i",
                "gearys_c",
            )
        )
    return outs[0].unionByName(outs[1])


DBSCAN_EPS = 8.0  # degrees, planar on the geocode plane
DBSCAN_MIN_PTS = 3


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed DBSCAN (operators/dbscan.py: eps-grid 3x3
    equi-join + CCL) over the geocoded docs on the planar degree
    plane — every float in the distance predicate is integer-derived
    arithmetic both engines compute bit-identically, so the oracle's
    brute-force self-join + recursive closure must agree exactly."""
    from xarray_spatial_spark.operators.dbscan import dbscan

    pts = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    out = dbscan(pts, eps=DBSCAN_EPS, min_pts=DBSCAN_MIN_PTS)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("is_core").cast("int").alias("is_core"),
        F.col("cluster").alias("cluster"),
    )


def q_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian KDE heatmap over z5 doc-count cells
    (operators/spatialstats.kde_smooth): sparse-raster convolution,
    kernel weights precomputed driver-side as shared literals."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 5
    cells = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return sps.kde_smooth(cells, radius=2, sigma=1.5)


def q_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I / LISA (operators/spatialstats.local_moran) over
    the z4 char-sum grid — the per-cell WHERE answer to
    spatial_autocorr's global IS question, Anselin randomization
    z-scores included.  Statistics ship as float32: the engines'
    mean/var/kurtosis merge orders differ at the 16th digit while the
    values agree to ~1e-12 (the spatial_autocorr convention)."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 4
    cells = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(F.sum("n_chars").cast("double").alias("value"))
    )
    out = sps.local_moran(cells, contiguity="queen")
    return out.select(
        "tile_x",
        "tile_y",
        "deg",
        F.col("lag").cast("float").alias("lag"),
        F.col("local_i").cast("float").alias("local_i"),
        F.col("z_i").cast("float").alias("z_i"),
        "quadrant",
    )


VARIOGRAM_BIN_W = 5.0
VARIOGRAM_BINS = 4
RIPLEY_RADII = [5.0, 10.0, 20.0]


def q_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram of per-doc n_chars on the planar degree
    plane (operators/spatialstats.empirical_variogram).  Values are
    integers, so the (v_i - v_j)^2 sums are exact in float64 and gamma
    is bit-identical to the oracle's brute-force pair join."""
    from xarray_spatial_spark.operators import spatialstats as sps

    pts = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        F.col("n_chars").cast("double").alias("value"),
    )
    return sps.empirical_variogram(
        pts, bin_width=VARIOGRAM_BIN_W, n_bins=VARIOGRAM_BINS
    )


def q_ripley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K/L at three radii over the geocoded docs
    (operators/spatialstats.ripley_k) — pair counts are integers and
    the K/L arithmetic is one literal flop sequence, so the oracle's
    brute-force count replays it bit-for-bit."""
    from xarray_spatial_spark.operators import spatialstats as sps

    pts = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"), F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    return sps.ripley_k(pts, RIPLEY_RADII, area=360.0 * 170.0)


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW interpolation of n_chars onto the z3 occupied-tile centers
    (operators/spatialstats.idw_interpolate): the vector -> raster
    bridge.  predicted ships float32 (neighbor sum order differs
    across engines at the 16th digit)."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 3
    n = 1 << z
    targets = (
        _doc_tiles(spark, sf_dir, z)
        .select("tile_x", "tile_y")
        .distinct()
        .select(
            ((F.col("tile_x") + 0.5) / n * 360.0 - 180.0).alias("x"),
            (90.0 - (F.col("tile_y") + 0.5) / n * 180.0).alias("y"),
        )
    )
    known = _docs(spark, sf_dir).select(
        F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        F.col("n_chars").cast("double").alias("value"),
    )
    out = sps.idw_interpolate(known, targets, power=2.0, radius=15.0)
    return out.select(
        "x", "y", "n_neighbors", F.col("predicted").cast("float").alias("predicted")
    )


def q_cross_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Ripley's K between English and Chinese pages
    (operators/spatialstats.cross_ripley_k): do two languages'
    geotagged documents co-locate or avoid each other at scale r?
    Integer cross-pair counts -> bit-exact oracle."""
    from xarray_spatial_spark.operators import spatialstats as sps

    d = _docs(spark, sf_dir)
    a = d.where(F.col("lang") == "en").select(
        F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    b = d.where(F.col("lang") == "zh").select(
        F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    return sps.cross_ripley_k(a, b, RIPLEY_RADII, area=360.0 * 170.0)


def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-scores over the z4 char-sum grid
    (operators/spatialstats.getis_ord), queen AND rook unioned under
    one tagged slot — the inferential version of the reference's
    hotspots (xrspatial/focal.py), per-cell variance included.
    gi_star ships float32 (mean/var merge-order noise); deg/wi exact."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 4
    cells = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(F.sum("n_chars").cast("double").alias("value"))
    )
    outs = []
    for cont in ("queen", "rook"):
        outs.append(
            sps.getis_ord(cells, contiguity=cont).select(
                F.lit(cont).alias("variant"),
                "tile_x",
                "tile_y",
                "deg",
                "wi",
                F.col("gi_star").cast("float").alias("gi_star"),
            )
        )
    return outs[0].unionByName(outs[1])


def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-count statistics (operators/spatialstats.join_counts) on
    the binary z4 grid b = (doc count odd) — the categorical Moran.
    Counts are exact integers; the free-sampling moments are rational
    functions of those integers (float32 belt-and-braces on z)."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 4
    cells = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg((F.count(F.lit(1)) % 2).cast("double").alias("value"))
    )
    outs = []
    for cont in ("queen", "rook"):
        outs.append(
            sps.join_counts(cells, contiguity=cont).select(
                F.lit(cont).alias("variant"),
                "n",
                "n1",
                "joins",
                "bb",
                "bw",
                "ww",
                F.col("e_bw").cast("float").alias("e_bw"),
                F.col("var_bw").cast("float").alias("var_bw"),
                F.col("z_bw").cast("float").alias("z_bw"),
            )
        )
    return outs[0].unionByName(outs[1])


def q_centrography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrographic summary (operators/spatialstats.centrography) of
    the geocoded corpus: mean center, standard distance, standard
    deviational ellipse — uniform AND n_chars-weighted variants.  ONE
    scalar aggregate each; float32 (sum merge-order noise)."""
    from xarray_spatial_spark.operators import spatialstats as sps

    pts = _docs(spark, sf_dir).select(
        F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        F.col("n_chars").cast("double").alias("w"),
    )
    outs = []
    for name, wcol in (("uniform", None), ("weighted", "w")):
        outs.append(
            sps.centrography(pts, weight_col=wcol).select(
                F.lit(name).alias("variant"),
                "n",
                F.col("w_sum").cast("float").alias("w_sum"),
                F.col("mean_x").cast("float").alias("mean_x"),
                F.col("mean_y").cast("float").alias("mean_y"),
                F.col("std_distance").cast("float").alias("std_distance"),
                F.col("sigma_x").cast("float").alias("sigma_x"),
                F.col("sigma_y").cast("float").alias("sigma_y"),
                F.col("theta").cast("float").alias("theta"),
            )
        )
    return outs[0].unionByName(outs[1])


def q_geoparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Toponym extraction + resolution (functions/geoparse.py): each
    document's text is augmented with a synthetic travel sentence
    mentioning one gazetteer place (every 3rd doc also mentions that
    place's country, exercising the context boost), then the pure-
    Catalyst pipeline tokenizes, candidate-joins the broadcast
    gazetteer, and resolves ambiguous names by (boost, population,
    -place_id).  The oracle replays gazetteer construction, the
    tokenizer, and the resolution rule verbatim in SQL."""
    from xarray_spatial_spark.functions import geoparse as gp

    docs = _spread(spark.read.parquet(f"{sf_dir}/documents.parquet")).select(
        "doc_id", "text")
    gaz = gp.make_gazetteer(spark, 200)
    m = gaz.select(
        F.col("place_id").alias("pid"), F.col("name").alias("mname"),
        F.col("country").alias("mcountry"))
    aug = docs.join(F.broadcast(m), docs.doc_id % 200 == m.pid).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" travel to "), F.col("mname"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit(" in "), F.col("mcountry")))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    res = gp.resolve_toponyms(aug, gaz)
    return res.select(
        "doc_id", "name", "place_id", "country", "population",
        "boosted", "n_mentions",
        F.col("lat").cast("float").alias("lat"),
        F.col("lon").cast("float").alias("lon"),
    )


def q_kanon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial k-anonymity (functions/privacy.py): geocoded documents
    -> bottom-up quadtree coarsening from z6 with k=5; published cells
    all hold >= 5 docs, the zoom-0 residue below k is emitted as
    zoom=-1.  The oracle unrolls the identical merge rule, one CTE per
    zoom level (pure integer arithmetic both engines)."""
    from xarray_spatial_spark.functions import privacy

    return privacy.anonymize_cells(
        _docs(spark, sf_dir).select("lon", "lat"),
        k=5, max_zoom=6, include_suppressed=True,
    )


def q_od_gravity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperlink geography (functions/linkgeo.py): a deterministic
    web-graph (src=doc_id, dst=(doc_id*37+11)%499 — every dst exists
    at all SFs) over geocoded pages -> od_matrix at z4 (per-cell-pair
    flows + great-circle distance between cell centers) joined back to
    the origin/destination marginal masses — every distributed stage
    of gravity_fit short of the driver-side 4x4 OLS solve (which is
    numpy-lstsq-pinned in tests/test_linkgeo.py).  dist_m float32
    (trig last-ulp)."""
    from xarray_spatial_spark.functions import linkgeo

    d = _docs(spark, sf_dir)
    locs = d.select("doc_id", "lon", "lat")
    edges = d.select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 37 + 11) % 499).alias("dst"),
    )
    od = linkgeo.od_matrix(edges, locs, zoom=4, id_col="doc_id")
    o = od.groupBy("src_x", "src_y").agg(F.sum("flow").alias("o_mass"))
    dm = od.groupBy("dst_x", "dst_y").agg(F.sum("flow").alias("d_mass"))
    return (
        od.join(o, ["src_x", "src_y"])
        .join(dm, ["dst_x", "dst_y"])
        .select(
            "src_x", "src_y", "dst_x", "dst_y", "flow",
            F.col("dist_m").cast("float").alias("dist_m"),
            "o_mass", "d_mass",
        )
    )


def _kanon_oracle(k: int = 5, max_zoom: int = 6) -> str:
    """Unrolled bottom-up merge: c{z} = below-threshold counts rolled
    to zoom z; p{z} = cells published at z."""
    parts = [
        f"c{max_zoom} AS (SELECT {_sql_tile_x(max_zoom)} AS tile_x, "
        f"{_sql_tile_y(max_zoom)} AS tile_y, "
        f"CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1, 2)"
    ]
    sel = []
    for z in range(max_zoom, 0, -1):
        sel.append(
            f"SELECT tile_x, tile_y, {z} AS zoom, n FROM c{z} WHERE n >= {k}")
        parts.append(
            f"c{z - 1} AS (SELECT tile_x // 2 AS tile_x, "
            f"tile_y // 2 AS tile_y, CAST(sum(n) AS BIGINT) AS n "
            f"FROM c{z} WHERE n < {k} GROUP BY 1, 2)")
    sel.append(f"SELECT tile_x, tile_y, 0 AS zoom, n FROM c0 WHERE n >= {k}")
    sel.append(f"SELECT tile_x, tile_y, -1 AS zoom, n FROM c0 WHERE n < {k}")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(sel)


def q_krige(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary kriging of per-doc n_chars onto the z3 occupied-tile
    centers under a variogram fitted from the data itself
    (empirical_variogram -> variogram_fit -> ordinary_krige) — the
    full geostatistics path in one query.  Rows-only: the per-target
    k x k solves are not SQL-expressible; semantics are pinned by
    tests/test_spatialstats.py's brute-force OK reference (exactness
    at known coordinates, constant-field reproduction)."""
    from xarray_spatial_spark.operators import spatialstats as sps

    pts = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.col("lon").alias("x"),
        F.col("lat").alias("y"),
        F.col("n_chars").cast("double").alias("value"),
    )
    vg = sps.empirical_variogram(
        pts, bin_width=VARIOGRAM_BIN_W, n_bins=VARIOGRAM_BINS
    )
    params = sps.variogram_fit(vg, model="spherical")
    z = 3
    n = 1 << z
    targets = (
        _doc_tiles(spark, sf_dir, z)
        .select("tile_x", "tile_y")
        .distinct()
        .select(
            ((F.col("tile_x") + 0.5) / n * 360.0 - 180.0).alias("x"),
            (90.0 - (F.col("tile_y") + 0.5) / n * 180.0).alias("y"),
        )
    )
    out = sps.ordinary_krige(
        pts.drop("id"), targets, params, radius=15.0, k=12
    )
    return out.select(
        "x",
        "y",
        "n_neighbors",
        F.round("predicted", 4).alias("predicted"),
        F.round("variance", 4).alias("variance"),
    )


def q_spacetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-hotspot trend core (operators/spatialstats.
    mann_kendall_trend): per-z3-cell Mann-Kendall S + tie-corrected z
    + Theil-Sen slope over daily event counts, events geocoded on the
    deterministic lattice.  S and the tie groups are exact integers,
    so the oracle replays the statistic bit-for-bit; z/slope ship
    float32 (sqrt/median on identical doubles — belt and braces)."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 3
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .withColumn("lat", geocode_lat(F.col("event_id")))
        .withColumn("lon", geocode_lon(F.col("event_id")))
    )
    cube = (
        ev.withColumn("tile_x", grid.tile_x_col(F.col("lon"), z))
        .withColumn("tile_y", grid.tile_y_col(F.col("lat"), z))
        .groupBy(
            "tile_x",
            "tile_y",
            F.floor(F.unix_timestamp("ts") / 86400).alias("t"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    out = sps.mann_kendall_trend(cube)
    return out.select(
        "tile_x",
        "tile_y",
        "n_periods",
        "s",
        F.col("z").cast("float").alias("z"),
        F.col("slope").cast("float").alias("slope"),
        "trend",
    )


# --- vector-geometry tier (operators/geometry.py) -------------------------
#
# Deterministic star rings over documents, built with NO trig: each
# doc_id contributes one vertex whose direction comes from an
# exact-rational square-perimeter parametrization and whose radius is a
# hash in [0.5, 2.0), around a geocoded per-geometry center.  Every
# float op (mult/add/div of exactly-representable-ish doubles) is the
# IDENTICAL expression in Spark and DuckDB, so vertex coordinates are
# bit-exact in both engines; only per-ring SUM order differs (float32 /
# round ship, the spatial_autocorr convention).

VEC_GEOMS = 61
_VEC_U_MULT = 40503
_VEC_R_MULT = 69069


def _vector_vertices(
    spark: SparkSession, sf_dir: str, scale: float = 1.0
) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    g = F.col("doc_id") % VEC_GEOMS
    u = ((F.col("doc_id") * _VEC_U_MULT) % 360000) / F.lit(360000.0)
    p = F.lit(4.0) * u
    side = F.floor(p).cast("int")
    sx = (
        F.when(side == 0, F.lit(-1.0) + F.lit(2.0) * p)
        .when(side == 1, F.lit(1.0))
        .when(side == 2, F.lit(1.0) - F.lit(2.0) * (p - F.lit(2.0)))
        .otherwise(F.lit(-1.0))
    )
    sy = (
        F.when(side == 0, F.lit(-1.0))
        .when(side == 1, F.lit(-1.0) + F.lit(2.0) * (p - F.lit(1.0)))
        .when(side == 2, F.lit(1.0))
        .otherwise(F.lit(1.0) - F.lit(2.0) * (p - F.lit(3.0)))
    )
    r = ((F.col("doc_id") * _VEC_R_MULT) % 15000) / F.lit(10000.0) + F.lit(0.5)
    if scale != 1.0:  # identity multiply skipped so the scale-1 oracles
        r = r * F.lit(scale)  # stay textually minimal
    return d.select(
        g.alias("geom_id"),
        u.alias("u"),
        (geocode_lon(g) + r * sx).alias("x"),
        (geocode_lat(g) + r * sy).alias("y"),
    )


def _vector_rings(
    spark: SparkSession, sf_dir: str, scale: float = 1.0
) -> DataFrame:
    from xarray_spatial_spark.operators import geometry as geo

    return geo.rings_from_points(
        _vector_vertices(spark, sf_dir, scale), "geom_id", "u", "x", "y"
    )


def q_vector_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ring metrics THROUGH the codec chain: rings -> WKT -> parse ->
    WKB -> parse -> Catalyst shoelace folds.  Both codecs format floats
    shortest-round-trip, so if either ever loses a bit the areas stop
    matching the oracle's direct LEAD-window shoelace (the round-trip
    is inside the hash-compared path, not alongside it)."""
    from xarray_spatial_spark.operators import geometry as geo

    rings = _vector_rings(spark, sf_dir)
    chain = geo.from_wkb(geo.to_wkb(geo.from_wkt(geo.to_wkt(rings))))
    return chain.select(
        "geom_id",
        F.size("xs").alias("n_vertices"),
        geo.ring_area().cast("float").alias("area"),
        geo.ring_perimeter().cast("float").alias("perimeter"),
        geo.ring_centroid_x().cast("float").alias("cx"),
        geo.ring_centroid_y().cast("float").alias("cy"),
    )


def q_hull_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed convex hull (hull-of-hulls) over ALL geocoded doc
    points, then per-direction support values over 16 integer
    directions.  The oracle computes the same maxima over the RAW
    point set — equal iff the hull retained every directional extreme.
    Real dot-value gaps on the 1e-4 geocode lattice are >= 1e-4, so
    float32 absorbs the only fp hazard (sub-ulp collinear ties)."""
    from xarray_spatial_spark.operators.geometry import convex_hull

    d = _docs(spark, sf_dir).select(
        F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    hull = convex_hull(d)
    dirs = spark.createDataFrame(
        [(i, dx, dy) for i, (dx, dy) in enumerate(HULL_DIRS)],
        "dir_id int, dx int, dy int",
    )
    return (
        hull.crossJoin(F.broadcast(dirs))
        .groupBy("dir_id", "dx", "dy")
        .agg(
            F.max(F.col("dx") * F.col("x") + F.col("dy") * F.col("y"))
            .cast("float")
            .alias("max_dot")
        )
    )


HULL_DIRS = [
    (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1),
    (2, 1), (1, 2), (-1, 2), (-2, 1), (-2, -1), (-1, -2), (1, -2), (2, -1),
]


def q_clip_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sutherland-Hodgman overlay of the star rings onto 1-degree tiles
    (operators/geometry.clip_to_tiles), checked by CONSERVATION: the
    per-tile clipped areas of each ring must sum back to its shoelace
    area (exact for concave rings too — bridge edges cancel).  The
    ratio rounds at 1e-6 (clip intersections carry ~1e-12 rounding);
    the oracle's side is the constant 1.0 plus the direct shoelace."""
    from xarray_spatial_spark.operators import geometry as geo

    rings = _vector_rings(spark, sf_dir)
    clipped = geo.clip_to_tiles(rings, tile_size=1.0)
    tot = clipped.groupBy("geom_id").agg(F.sum("area").alias("clip_area"))
    base = rings.select("geom_id", geo.ring_area().alias("area"))
    return base.join(tot, "geom_id").select(
        "geom_id",
        F.round(F.col("clip_area") / F.col("area"), 6).alias("conservation"),
        F.col("area").cast("float").alias("area_f32"),
    )


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-bucketed point-in-polygon join WITHOUT broadcast
    (operators/geometry.pip_join): star rings scaled 8x so ~1/3 of the
    geocoded docs land inside one, bucketed with the points onto
    4-degree tiles, shuffle equi-join on the tile key, division-free
    ray-cast in pure Catalyst (zero Python, zero broadcast — the scale
    path when the polygon table itself is huge).  Oracle: the identical
    cross-multiplied crossing test as a SQL join.  Integer crossing
    parity on bit-exact inputs — ids exact, nothing to round."""
    from xarray_spatial_spark.operators.geometry import pip_join

    rings = _vector_rings(spark, sf_dir, scale=8.0)
    pts = _docs(spark, sf_dir).select(
        "doc_id", F.col("lon").alias("x"), F.col("lat").alias("y")
    )
    return pip_join(pts, rings, tile_size=4.0)


def q_hex_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hexagonal cell index (functions/hexgrid.py — the H3-analog):
    three variants in one tagged union.  'doc' pins per-point axial
    assignment (codegen cube rounding), the packed bigint cell id,
    and the hex grid distance to the origin cell; 'cell' pins the
    per-cell rollup plus the inverse map (cell -> center coords,
    bit-exact doubles — products of integers with shared constants);
    'smooth' pins hex focal smoothing (7-cell isotropic neighbourhood
    via a literal-offset explode + co-partitioned join-back, ONE
    cell-scale exchange).  The oracle replays the identical float
    arithmetic (floor(v+0.5) rounding, CAST(… AS DOUBLE) literals so
    DuckDB doesn't fall into DECIMAL) — every value is either an
    exact integer or a bit-reproducible double, nothing rounded."""
    hx = hexgrid
    d = _docs(spark, sf_dir)
    q, r = hx.hex_cell_cols(F.col("lon"), F.col("lat"), 7.0)
    h = d.select("doc_id", q.alias("hq"), r.alias("hr")).withColumn(
        "c", hx.hex_pack(F.col("hq"), F.col("hr"))
    )
    doc = h.select(
        F.lit("doc").alias("variant"),
        F.col("doc_id").cast("long").alias("k"),
        F.col("c"),
        hx.hex_distance(F.col("hq"), F.col("hr"), F.lit(0), F.lit(0))
        .cast("double")
        .alias("v1"),
        F.lit(0.0).alias("v2"),
    )
    cells = h.groupBy("hq", "hr", "c").agg(F.count(F.lit(1)).alias("n"))
    cx, cy = hx.hex_center_cols(F.col("hq"), F.col("hr"), 7.0)
    cell = cells.select(
        F.lit("cell").alias("variant"),
        F.col("n").cast("long").alias("k"),
        "c",
        cx.alias("v1"),
        cy.alias("v2"),
    )
    sm = hx.hex_smooth(
        cells.select("hq", "hr", "c", F.col("n").cast("double").alias("value"))
    )
    smooth = sm.select(
        F.lit("smooth").alias("variant"),
        F.col("n_nb").cast("long").alias("k"),
        "c",
        F.col("smooth").alias("v1"),
        F.lit(0.0).alias("v2"),
    )
    return doc.unionByName(cell).unionByName(smooth)


def q_hex_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded kNN on the hex graph (hexgrid.hex_knn_join): docs
    against the 5 broadcast cities, size 20 deg / ring 2 — the disk
    cover guarantees exactness within 50 deg, and points with no city
    in their 19-cell disk drop out in BOTH engines, so the oracle pins
    the BOUNDED semantics (cell assignment, disk cover, join, ranking),
    not just the distances.  Zero Python in the plan (pinned by
    tests/test_hexgrid.py); one equi-join exchange."""
    import pandas as pd

    d = _docs(spark, sf_dir).select("doc_id", "lon", "lat")
    cities = spark.createDataFrame(
        pd.DataFrame({"target_id": range(1, 6), "lon": CITY_LON, "lat": CITY_LAT}),
        schema="target_id long, lon double, lat double",
    )
    return hexgrid.hex_knn_join(
        d, cities, k=2, size=20.0, ring=2, point_id="doc_id"
    ).select(
        "doc_id", "target_id",
        F.round("dist", 6).alias("dist"), "knn_rank",
    )


def q_simplify_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker over the star rings (eps=0.05 deg) — fully
    deterministic but DP recursion has no SQL twin; kernel is pinned
    against a recursive reference implementation in
    tests/test_geometry.py.  Returns per-ring kept-vertex count and
    the simplified shoelace area."""
    from xarray_spatial_spark.operators import geometry as geo

    simp = geo.simplify_dp(_vector_rings(spark, sf_dir), epsilon=0.05)
    return simp.select(
        "geom_id",
        F.size("xs").alias("n_kept"),
        geo.ring_area().cast("float").alias("area_simplified"),
    )


# iso levels of the z5 doc-count field, shared by q_contour and its
# oracle — fractional so the strict-> corner test never sees a tie on
# the integer-valued counts (divisors on crossing edges are nonzero).
CONTOUR_LEVELS = (0.5, 4.5, 24.5)


def _z5_dense_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 32x32 zoom-5 doc-count field, zero-densified — the shared
    scalar field q_contour and q_flow operate on (integer-derived
    doubles, so downstream divisions are bit-identical cross-engine)."""
    z = 5
    n = 1 << z
    counts = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
    )
    return (
        spark.range(n * n)
        .select(
            (F.col("id") % n).cast("int").alias("x"),
            (F.col("id") / n).cast("int").alias("y"),
        )
        .join(
            counts,
            (F.col("x") == F.col("tile_x")) & (F.col("y") == F.col("tile_y")),
            "left",
        )
        .select("x", "y", F.coalesce(F.col("v"), F.lit(0.0)).alias("value"))
    )


def q_contour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares iso-lines (operators/contour.py) of the z5
    doc-count field, zero-densified over the full 32x32 zoom-5 grid so
    the 0.5 level outlines the corpus "landmass".  Pure Catalyst: ONE
    corner-scatter exchange, literal case table, codegen interpolation
    — the oracle replays every expression verbatim; counts are
    integer-derived doubles, so both engines divide identical bits."""
    from xarray_spatial_spark.operators.contour import marching_squares

    segs = marching_squares(_z5_dense_grid(spark, sf_dir), CONTOUR_LEVELS)
    return segs.select(
        "level", "sx", "sy", "seg",
        F.round("x1", 6).alias("x1"), F.round("y1", 6).alias("y1"),
        F.round("x2", 6).alias("x2"), F.round("y2", 6).alias("y2"),
    )


def q_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-set compact/uncompact (operators/tiling.compact_cells —
    the H3 ``compact`` / S2 ``CellUnion::Normalize`` verb): the
    occupied z6 doc-tile set compacts into the minimal
    mixed-resolution covering (complete sibling quadruples cascade
    into parents), and the 'restore' variant uncompacts the result
    back to z6 — which must reproduce the original set EXACTLY, so
    the tagged union pins both directions in one hash.  The DuckDB
    twin replays the cascade as six unrolled CTE levels on
    (x, y)-pair arithmetic (x // 2 is the sibling key — the same
    bits the Morton parent shift inspects)."""
    from xarray_spatial_spark.operators.tiling import (
        compact_cells,
        uncompact_cells,
    )

    z = 6
    tiles = _doc_tiles(spark, sf_dir, z).select("tile_x", "tile_y").distinct()
    cells = tiles.select(
        grid.cell_from_tiles_col(
            F.col("tile_x"), F.col("tile_y"), z).alias("cell"))
    comp = compact_cells(cells)
    zc, xc, yc = grid.cell_decode_cols(F.col("cell"))
    compact_rows = comp.select(
        F.lit("compact").alias("variant"), zc.alias("zoom"),
        xc.alias("tile_x"), yc.alias("tile_y"))
    restored = uncompact_cells(comp, z)
    restore_rows = restored.select(
        F.lit("restore").alias("variant"), zc.alias("zoom"),
        xc.alias("tile_x"), yc.alias("tile_y"))
    return compact_rows.unionByName(restore_rows)


def _compact_oracle(z6x: str, z6y: str) -> str:
    """DuckDB twin of q_compact: six unrolled quad-merge levels; the
    'restore' variant is the original z6 set by the round-trip
    identity."""
    sql = f"WITH lvl6 AS (SELECT DISTINCT {z6x} AS x, {z6y} AS y FROM documents)"
    for z in range(6, 0, -1):
        sql += f""",
        q{z} AS (SELECT x // 2 AS px, y // 2 AS py FROM lvl{z}
                 GROUP BY 1, 2 HAVING count(*) = 4),
        keep{z} AS (SELECT l.x, l.y FROM lvl{z} l
                    LEFT JOIN q{z} ON q{z}.px = l.x // 2
                                  AND q{z}.py = l.y // 2
                    WHERE q{z}.px IS NULL),
        lvl{z - 1} AS (SELECT px AS x, py AS y FROM q{z})"""
    keeps = " UNION ALL ".join(
        f"SELECT 'compact' AS variant, {z} AS zoom, x AS tile_x, y AS tile_y "
        f"FROM keep{z}" for z in range(6, 0, -1))
    return f"""{sql}
        {keeps}
        UNION ALL SELECT 'compact', 0, x, y FROM lvl0
        UNION ALL SELECT 'restore', 6, x, y FROM lvl6
    """


def q_s2_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compact verb on the GENUINE S2 index
    (operators/tiling.s2_compact_cells — sentinel-bit parent/level
    ops from s2.py).  Input cells are built by integer arithmetic
    (face = doc_id % 4, position = Knuth-hashed doc_id//4 in a
    4^3 slot space with every 7th q dropped — 63/64 slots and 15/16
    complete quadruples per face at sf0.01, so the cascade genuinely
    mixes merged and unmerged levels; a multiplicative hash MOD a
    power of two over consecutive q is a three-distance lattice with
    NO 4-run, the trap the first cut of this query fell into) so
    the DuckDB twin replays cell construction AND the eight unrolled
    quad-merge levels in exact BIGINT arithmetic — the sentinel
    parent is ``(id // 2L) * 2L + L`` for the coarser level's lsb L,
    no bit operators needed.  The 'restore' variant uncompacts back
    to level 8 and must reproduce the input set exactly."""
    from xarray_spatial_spark.operators.tiling import (
        s2_compact_cells,
        s2_uncompact_cells,
    )

    L = 8
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    q = (F.col("doc_id") / 4).cast("long")
    cell = (
        (F.col("doc_id") % 4) * F.lit(1 << 61)
        + ((q * F.lit(2654435761)) % F.lit(4 ** 3))
        * F.lit(1 << (61 - 2 * L))
        + F.lit(1 << (60 - 2 * L))
    )
    cells = (
        d.where(q % 7 != 0)
        .select(cell.cast("long").alias("cell")).distinct()
    )
    comp = s2_compact_cells(cells)
    out = comp.select(F.lit("compact").alias("variant"), "cell")
    restored = s2_uncompact_cells(comp, L).select(
        F.lit("restore").alias("variant"), "cell")
    return out.unionByName(restored)


def _s2_compact_oracle() -> str:
    """DuckDB twin of q_s2_compact: integer cell construction + eight
    unrolled sentinel quad-merge levels."""
    L = 8
    sql = (
        "WITH lvl8 AS (SELECT DISTINCT"
        f" (doc_id % 4) * {1 << 61}"
        f" + (((doc_id // 4) * 2654435761) % {4 ** 3}) * {1 << (61 - 2 * L)}"
        f" + {1 << (60 - 2 * L)} AS cell FROM documents"
        " WHERE (doc_id // 4) % 7 != 0)"
    )
    for lev in range(L, 0, -1):
        lsb = 1 << (2 * (30 - (lev - 1)))   # coarser level's sentinel
        two = 2 * lsb
        par = f"(cell // {two}) * {two} + {lsb}"
        sql += f""",
        q{lev} AS (SELECT {par} AS p FROM lvl{lev}
                   GROUP BY 1 HAVING count(*) = 4),
        keep{lev} AS (SELECT l.cell FROM lvl{lev} l
                      LEFT JOIN q{lev} ON q{lev}.p = {par.replace('cell', 'l.cell')}
                      WHERE q{lev}.p IS NULL),
        lvl{lev - 1} AS (SELECT p AS cell FROM q{lev})"""
    keeps = " UNION ALL ".join(
        f"SELECT 'compact' AS variant, cell FROM keep{lev}"
        for lev in range(L, 0, -1))
    return f"""{sql}
        {keeps}
        UNION ALL SELECT 'compact', cell FROM lvl0
        UNION ALL SELECT 'restore', cell FROM lvl8
    """


def q_basin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→hydrology→zonal COMPOSITION: watershed basins of the z5
    doc-count field become the ZONES of a zonal.stats pass over the
    same field — per drainage basin, cell count / total docs / max
    elevation / max accumulation (the outlet's upstream count).  One
    operator family's output is another's zone raster, the exact
    composition contract SURVEY §1.3 promises; the oracle replays the
    drainage walk (recursive CTE) and the aggregate in one statement.
    Exact integers end to end."""
    from xarray_spatial_spark.operators import zonal
    from xarray_spatial_spark.operators.hydrology import (
        flow_accumulation,
        flow_direction,
        watershed,
    )

    fd = flow_direction(_z5_dense_grid(spark, sf_dir)).localCheckpoint()
    basins = watershed(fd)
    acc = flow_accumulation(fd)
    zv = (
        fd.join(basins, ["x", "y"]).join(acc, ["x", "y"])
        .select(
            (F.col("basin_x") * 1000 + F.col("basin_y")).alias("zone"),
            F.col("value"), F.col("acc"),
        )
    )
    out = zonal.stats(
        zv,
        stats_funcs={
            "n_cells": F.count(F.lit(1)),
            "sum_docs": F.sum("value"),
            "max_docs": F.max("value"),
            "max_acc": F.max("acc"),
        },
    )
    return out.select(
        F.col("zone").cast("long").alias("zone"),
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("sum_docs").cast("long").alias("sum_docs"),
        F.col("max_docs").cast("long").alias("max_docs"),
        F.col("max_acc").cast("long").alias("max_acc"),
    )


def _basin_stats_oracle(z5x: str, z5y: str) -> str:
    """DuckDB twin of q_basin_stats: the flow oracle's direction +
    walk CTEs feeding one GROUP BY on the basin key."""
    from xarray_spatial_spark.operators.hydrology import (
        d8_case_sql,
        d8_values_sql,
    )

    return f"""
        WITH RECURSIVE g AS ({_z5_grid_sql(z5x, z5y)}),
        n(code, dx, dy, dist) AS (VALUES {d8_values_sql()}),
        d AS (
          SELECT a.x, a.y, n.code, (a.v - b.v) / n.dist AS drop
          FROM g a CROSS JOIN n
          JOIN g b ON b.x = a.x + n.dx AND b.y = a.y + n.dy
        ),
        best AS (
          SELECT x, y, code, drop,
                 row_number() OVER (PARTITION BY x, y
                                    ORDER BY drop DESC, code ASC) AS rn
          FROM d
        ),
        dir AS (
          SELECT g.x, g.y, g.v,
                 coalesce(CASE WHEN b.drop > 0 THEN b.code ELSE 0 END,
                          0) AS direction
          FROM g LEFT JOIN best b ON b.x = g.x AND b.y = g.y AND b.rn = 1
        ),
        e AS (
          SELECT x AS sx, y AS sy,
                 x + {d8_case_sql(0)} AS tx,
                 y + {d8_case_sql(1)} AS ty
          FROM dir WHERE direction > 0
        ),
        reach(sx, sy, cx, cy) AS (
          SELECT sx, sy, tx, ty FROM e
          UNION ALL
          SELECT r.sx, r.sy, e.tx, e.ty
          FROM reach r JOIN e ON e.sx = r.cx AND e.sy = r.cy
        ),
        acc AS (SELECT cx AS x, cy AS y, count(*) AS a
                FROM reach GROUP BY 1, 2),
        walk(x0, y0, cx, cy) AS (
          SELECT x, y, x, y FROM dir
          UNION ALL
          SELECT w.x0, w.y0,
                 w.cx + {d8_case_sql(0, 'd.direction')},
                 w.cy + {d8_case_sql(1, 'd.direction')}
          FROM walk w JOIN dir d ON d.x = w.cx AND d.y = w.cy
          WHERE d.direction > 0
        ),
        term AS (
          SELECT w.x0 AS x, w.y0 AS y, w.cx AS bx, w.cy AS by
          FROM walk w JOIN dir d ON d.x = w.cx AND d.y = w.cy
          WHERE d.direction = 0
        )
        SELECT term.bx * 1000 + term.by AS zone,
               count(*) AS n_cells,
               CAST(sum(dir.v) AS BIGINT) AS sum_docs,
               CAST(max(dir.v) AS BIGINT) AS max_docs,
               max(coalesce(acc.a, 0)) AS max_acc
        FROM dir
        JOIN term ON term.x = dir.x AND term.y = dir.y
        LEFT JOIN acc ON acc.x = dir.x AND acc.y = dir.y
        GROUP BY 1
    """


LANDFORM_EPS = 100000.0


def q_landform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPI landform classification (operators/spatialstats.tpi_landform)
    over the OCCUPIED z4 char-sum grid — irregular neighborhoods and
    genuinely isolated cells exercise the full class ladder.  The
    oracle replays the one-mail-pass disk mean + adjacent max-drop and
    the Weiss ladder verbatim; tpi and sd round to 6 dp before
    thresholding in BOTH engines (the perplexity_buckets convention),
    and the char-sum field is integer-derived, so the disk means are
    exact."""
    from xarray_spatial_spark.operators import spatialstats as sps

    z = 4
    cells = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(F.sum("n_chars").cast("double").alias("value"))
    )
    out = sps.tpi_landform(cells, radius=2, flat_eps=LANDFORM_EPS)
    return out.select(
        "x", "y", "value", "tpi", "max_drop", "landform")


def q_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 hydrology (operators/hydrology.py) over the z5 doc-count
    field read as terrain: per-cell steepest-descent direction (ESRI
    codes, ties to the smallest code) and Kahn-peeled upstream-cell
    accumulation, plus the watershed basin label (pointer-doubling to
    the terminal pit).  The oracle replays the identical drop
    arithmetic (same repr'd sqrt(2), same tie order) and closes the
    drainage forest with recursive CTEs — everything is exact
    integers, so the hash pins the argmax routing, the transitive
    closure, AND the basin partition."""
    from xarray_spatial_spark.operators.hydrology import (
        flow_accumulation,
        flow_direction,
        watershed,
    )

    # one checkpoint: the doc-scale grid groupBy runs ONCE, not once
    # per consumer (acc, watershed, and the final join each iterate or
    # re-read fd — uncheckpointed, the 2M-doc scan re-executed 4x)
    fd = flow_direction(_z5_dense_grid(spark, sf_dir)).localCheckpoint()
    acc = flow_accumulation(fd)
    basins = watershed(fd)
    return (
        fd.join(acc, ["x", "y"])
        .join(basins, ["x", "y"])
        .select("x", "y", "direction", F.col("acc").cast("long").alias("acc"),
                "basin_x", "basin_y")
    )


def q_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-network extraction: Strahler order computed over the
    FULL z5 drainage field (operators/hydrology.strahler_order — Kahn
    peeling with an associative (max, count-at-max) merge), then the
    network reported at accumulation >= 1 — orders on the whole field,
    display thresholded, the standard hydrology workflow (the noisy
    web-count relief has drainage depth ~2, so thresholding BEFORE
    ordering would disconnect every confluence).  Rows-only:
    Strahler's per-node inflow aggregation has no recursive-SQL twin;
    the operator is pinned against a recursive textbook reference
    (tests/test_hydrology.py) and its inputs (direction, acc) are
    oracle-backed in the `flow` slot."""
    from xarray_spatial_spark.operators.hydrology import (
        flow_accumulation,
        flow_direction,
        strahler_order,
    )

    # checkpoint: acc and the Strahler loop both consume fd (see q_flow)
    fd = flow_direction(_z5_dense_grid(spark, sf_dir)).localCheckpoint()
    acc = flow_accumulation(fd)
    so = strahler_order(fd.select("x", "y", "direction"))
    return (
        fd.join(acc, ["x", "y"]).join(so, ["x", "y"])
        .where(F.col("acc") >= 1)
        .select("x", "y", "direction",
                F.col("acc").cast("long").alias("acc"),
                F.col("order").cast("int").alias("strahler"))
    )


def q_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planchon-Darboux depression filling
    (operators/hydrology.fill_depressions) of the z5 doc-count field
    — the standard DEM preprocessing before flow routing; interior
    depressions rise exactly to their pour points.  Rows-only: the
    fixpoint is min-over-paths-of-path-max, which has no bounded SQL
    twin; the operator is pinned against a scalar-loop PD reference
    (tests/test_hydrology.py) and its input field is oracle-backed
    (contour/flow share the construction)."""
    from xarray_spatial_spark.operators.hydrology import fill_depressions

    out = fill_depressions(_z5_dense_grid(spark, sf_dir))
    return out.select(
        "x", "y", "value", "filled",
        (F.col("filled") > F.col("value")).cast("int").alias("raised"),
    )


def q_xyz_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slippy-map tile rendering end to end (sources/xyz_tiles.py):
    the z10 doc-count field becomes an RGBA heatmap (pure-Catalyst
    intensity ramp via viz.pack_rgba), renders to PNG tiles at tile
    zooms 2..0 through the from-scratch encoder, and each row
    SELF-CHECKS by decoding its own PNG (the codec tier's libpng-
    validated decoder) and re-counting the opaque pixels against the
    n_px the renderer reported.  Rows-only: PNG bytes have no SQL
    twin; pixel-exact reassembly is pytest-pinned
    (tests/test_xyz_tiles.py)."""
    import pandas as pd

    from xarray_spatial_spark.functions.viz import pack_rgba
    from xarray_spatial_spark.sources.xyz_tiles import render_xyz_tiles

    z = 10
    cells = (
        _doc_tiles(spark, sf_dir, z)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inten = F.least(F.col("n") * F.lit(32), F.lit(255))
    pixels = cells.select(
        F.col("tile_x").alias("x"), F.col("tile_y").alias("y"),
        pack_rgba(inten, F.lit(32), F.lit(255) - inten, F.lit(255))
        .alias("rgba"),
    )
    tiles = render_xyz_tiles(pixels, pixel_zoom=z)

    def _check(batches):
        from xarray_spatial_spark.operators.multimodal import decode_png

        for b in batches:
            opaque = []
            for png in b["png"]:
                img = decode_png(bytes(png))
                opaque.append(int((img[..., 3] > 0).sum()))
            yield pd.DataFrame({
                "z": b["z"], "tx": b["tx"], "ty": b["ty"],
                "n_px": b["n_px"], "decoded_opaque": opaque,
            })

    out = tiles.mapInPandas(
        _check, "z int, tx long, ty long, n_px long, decoded_opaque long")
    return out.select(
        "z", "tx", "ty", "n_px",
        (F.col("decoded_opaque") == F.col("n_px")).cast("int").alias("ok"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ORDER MATTERS: the driver's correctness run evaluates the first
    50 entries.  Every oracle-backed query (an ``oracle_sql()`` key)
    comes first so each one gets a hard hash-compare row in
    CORRECTNESS_r{N}.json; the rows-only checks (seeded-hash /
    probabilistic / tie-broken-geometry queries whose deterministic
    projections ARE oracle-backed above) trail at the end.

    Round-6 WINDOW ROTATION (round-5 verdict item #3): the driver's
    window held the same 50 veterans for five rounds, so the entire
    round-5 tier (spatial statistics, hydrology, contour, cell-set
    compact) had no driver-record hash evidence.  18 long-stable
    veterans (every one window-green in CORRECTNESS_r01..r05, none
    touched by this round's optimizations) moved below the window and
    the 18 never-windowed round-5-tier oracle slots moved in.  Every
    query keeps its name and its oracle; only dict ORDER changed —
    scripts/check_oracles.py still sweeps all 93 oracle-backed slots
    regardless of position."""
    return {
        # --- oracle-backed window (first 50: driver hash-compares) ---
        "knn": q_knn,
        "hotspots": q_hotspots,
        "regions": q_regions,
        "polygonize_area": q_polygonize_area,
        "a_star_cost": q_a_star_cost,
        "viewshed_vis": q_viewshed_vis,
        "text_stats": q_text_stats,
        "langid": q_langid,
        "quality_score": q_quality_score,
        "extract_text": q_extract_text,
        "snapshot_dedup": q_snapshot_dedup,
        "dedup_clusters": q_dedup_clusters,
        "exact_substr": q_exact_substr,
        "decontaminate": q_decontaminate,
        "redact": q_redact,
        "gopher": q_gopher,
        "corpus": q_corpus,
        "pack": q_pack,
        "quota": q_quota,
        "pagerank": q_pagerank,
        "components": q_components,
        "lm_score": q_lm_score,
        "tfidf": q_tfidf,
        "bm25": q_bm25,
        "similarity_topk": q_similarity_topk,
        "ivf_topk": q_ivf_topk,
        "cdx": q_cdx,
        "host_agg": q_host_agg,
        "host_cap": q_host_cap,
        "chunk_docs": q_chunk_docs,
        "strat_sample": q_strat_sample,
        "weighted_sample": q_weighted_sample,
        # round-5 tier, first driver-window appearance:
        "spatial_autocorr": q_spatial_autocorr,
        "dbscan": q_dbscan,
        "kde": q_kde,
        "local_moran": q_local_moran,
        "variogram": q_variogram,
        "ripley": q_ripley,
        "idw": q_idw,
        "spacetime": q_spacetime,
        "cross_k": q_cross_k,
        "getis_ord": q_getis_ord,
        "join_counts": q_join_counts,
        "centrography": q_centrography,
        "contour": q_contour,
        "flow": q_flow,
        "landform": q_landform,
        "compact": q_compact,
        "s2_compact": q_s2_compact,
        "basin_stats": q_basin_stats,
        # --- oracle-backed, below the 50-slot window this round -----
        # (rotated-out veterans: window-green in r01..r05 records)
        "tile_assign": q_tile_assign,
        "zonal_stats": q_zonal_stats,
        "zonal_crosstab": q_zonal_crosstab,
        "zonal_apply": q_zonal_apply,
        "zonal_stats_tiled": q_zonal_stats_tiled,
        "classify_maps": q_classify_maps,
        "multispectral": q_multispectral,
        "local_cellstats": q_local_cellstats,
        "proximity_nn": q_proximity_nn,
        "surface_slope": q_surface_slope,
        "focal_mean": q_focal_mean,
        "resample_down": q_resample_down,
        "color_viz": q_color_viz,
        "pyramid": q_pyramid,
        "pip_assign": q_pip_assign,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "line_dedup": q_line_dedup,
        "repetition": q_repetition,
        "window_events": q_window_events,
        "warc_roundtrip": q_warc_roundtrip,
        "substring_dedup": q_substring_dedup,
        "geoindex": q_geoindex,
        "search_index": q_search_index,
        "crawl_depth": q_crawl_depth,
        "asof": q_asof,
        "retrieval_eval": q_retrieval_eval,
        "ip_geo": q_ip_geo,
        "geoparse": q_geoparse,
        "kanon": q_kanon,
        "od_gravity": q_od_gravity,
        "vector_metrics": q_vector_metrics,
        "hull_extremes": q_hull_extremes,
        "clip_tiles": q_clip_tiles,
        "spatial_join": q_spatial_join,
        "hex_index": q_hex_index,
        "hex_knn": q_hex_knn,
        # --- rows-only (no SQL twin; deterministic projections above) ---
        "knn_ring": q_knn_ring,
        "minhash_pairs": q_minhash_pairs,
        "simhash_groups": q_simhash_groups,
        "simhash_neardup": q_simhash_neardup,
        "polygonize": q_polygonize,
        "a_star": q_a_star,
        "viewshed": q_viewshed,
        "terrain": q_terrain,
        "embedding_neardup": q_embedding_neardup,
        "semantic_dedup": q_semantic_dedup,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "pca_ann": q_pca_ann,
        "host_cap_salted": q_host_cap_salted,
        "link_graph": q_link_graph,
        "hits": q_hits,
        "anchor_text": q_anchor_text,
        "bpe": q_bpe,
        "quality_clf": q_quality_clf,
        "phash_neardup": q_phash_neardup,
        "audio_neardup": q_audio_neardup,
        "video_neardup": q_video_neardup,
        "unigram": q_unigram,
        "wordpiece": q_wordpiece,
        "pdf_extract": q_pdf_extract,
        "lpa": q_lpa,
        "revisit": q_revisit,
        "redirects": q_redirects,
        "exif_geotag": q_exif_geotag,
        "kmv_overlap": q_kmv_overlap,
        "profile": q_profile,
        "traps": q_traps,
        "spatial_part": q_spatial_part,
        "krige": q_krige,
        "simplify_rings": q_simplify_rings,
        "xyz_tiles": q_xyz_tiles,
        "streams": q_streams,
        "fill": q_fill,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------


# Kneser-Ney trigram CTE chain (D = 0.75), shared by the lm_score and
# quality_score oracles.  Requires a preceding CTE `t(doc_id, toks)`;
# ends at kagg(doc_id, n_grams, h).
_KN_SQL = """
            vkn AS (
              SELECT count(DISTINCT w) AS V
              FROM (SELECT unnest(toks) AS w FROM t)
            ),
            bt AS (
              SELECT DISTINCT w1, w3 FROM (
                SELECT
                  unnest(list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i])) AS w1,
                  unnest(list_transform(generate_series(1, len(toks) - 1),
                                        i -> toks[i + 1])) AS w3
                FROM t WHERE len(toks) >= 2)
            ),
            ucont AS (SELECT w3, count(*)::DOUBLE AS n1w3
                      FROM bt GROUP BY w3),
            utot AS (SELECT sum(n1w3) AS n1all, count(*)::DOUBLE AS W1
                     FROM ucont),
            tri AS (
              SELECT w1, w2, w3, count(*)::DOUBLE AS c123 FROM (
                SELECT
                  unnest(list_transform(generate_series(1, len(toks) - 2),
                                        i -> toks[i])) AS w1,
                  unnest(list_transform(generate_series(1, len(toks) - 2),
                                        i -> toks[i + 1])) AS w2,
                  unnest(list_transform(generate_series(1, len(toks) - 2),
                                        i -> toks[i + 2])) AS w3
                FROM t WHERE len(toks) >= 3)
              GROUP BY w1, w2, w3
            ),
            ctx AS (SELECT w1, w2, sum(c123) AS c12,
                           count(*)::DOUBLE AS f12
                    FROM tri GROUP BY w1, w2),
            mid AS (SELECT w2, w3, count(*)::DOUBLE AS n1mid
                    FROM tri GROUP BY w2, w3),
            midw2 AS (SELECT w2, sum(n1mid) AS midctx,
                             count(*)::DOUBLE AS midf
                      FROM mid GROUP BY w2),
            dt AS (
              SELECT doc_id,
                unnest(list_transform(generate_series(1, len(toks) - 2),
                                      i -> toks[i])) AS w1,
                unnest(list_transform(generate_series(1, len(toks) - 2),
                                      i -> toks[i + 1])) AS w2,
                unnest(list_transform(generate_series(1, len(toks) - 2),
                                      i -> toks[i + 2])) AS w3
              FROM t WHERE len(toks) >= 3
            ),
            kj0 AS (
              SELECT d.doc_id, tr.c123, c.c12, c.f12, m.n1mid,
                     mw.midctx, mw.midf, u.n1w3,
                     ut.n1all, ut.W1, vk.V
              FROM dt d
              LEFT JOIN tri tr ON tr.w1 = d.w1 AND tr.w2 = d.w2
                              AND tr.w3 = d.w3
              LEFT JOIN ctx c ON c.w1 = d.w1 AND c.w2 = d.w2
              LEFT JOIN mid m ON m.w2 = d.w2 AND m.w3 = d.w3
              LEFT JOIN midw2 mw ON mw.w2 = d.w2
              LEFT JOIN ucont u ON u.w3 = d.w3, utot ut, vkn vk
            ),
            kj1 AS (
              SELECT *, CASE WHEN n1all > 0 THEN
                  greatest(COALESCE(n1w3, 0) - 0.75, 0) / n1all
                  + 0.75 * W1 / n1all / (V + 1)
                ELSE 1.0 / (COALESCE(V, 0) + 1) END AS p1
              FROM kj0
            ),
            kj2 AS (
              SELECT *, CASE WHEN midctx IS NOT NULL THEN
                  greatest(COALESCE(n1mid, 0) - 0.75, 0) / midctx
                  + 0.75 * midf / midctx * p1
                ELSE p1 END AS p2
              FROM kj1
            ),
            kj3 AS (
              SELECT doc_id, -ln(CASE WHEN c12 IS NOT NULL THEN
                  greatest(COALESCE(c123, 0) - 0.75, 0) / c12
                  + 0.75 * f12 / c12 * p2
                ELSE p2 END) AS nll
              FROM kj2
            ),
            kagg AS (SELECT doc_id, count(*) AS n_grams, avg(nll) AS h
                     FROM kj3 GROUP BY doc_id)"""


def _bm25_sql(k: int) -> str:
    """Okapi BM25 top-k oracle over documents for BM25_QUERIES —
    shared by `bm25` (corpus-side Spark path, k=5) and `search_index`
    (postings-artifact Spark path, k=7)."""
    return f"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE string_split_regex(trim(text), '\\s+') END AS toks
              FROM documents
            ),
            terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
            tf AS (SELECT doc_id, term, count(*) AS tfc
                   FROM terms GROUP BY doc_id, term),
            dl AS (SELECT doc_id, count(*) AS dln
                   FROM terms GROUP BY doc_id),
            st AS (SELECT CAST(count(*) AS DOUBLE) AS N,
                          avg(dln) AS avgdl FROM dl),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS dfc
                    FROM terms GROUP BY term),
            qs(query_id, query) AS (VALUES
              {", ".join(f"({i}, '{q}')" for i, q in BM25_QUERIES)}),
            qt AS (SELECT DISTINCT query_id,
                          unnest(string_split_regex(trim(query), '\\s+'))
                            AS term
                   FROM qs),
            sc AS (
              SELECT qt.query_id, tf.doc_id,
                sum(ln(1.0 + (st.N - dfq.dfc + 0.5) / (dfq.dfc + 0.5))
                    * tf.tfc * 2.2
                    / (tf.tfc + 1.2 * (1.0 - 0.75
                         + 0.75 * dl.dln / st.avgdl))) AS score,
                count(*) AS n_terms_hit
              FROM tf JOIN qt USING (term) JOIN dfq USING (term)
                   JOIN dl USING (doc_id), st
              GROUP BY qt.query_id, tf.doc_id
            ),
            r AS (
              SELECT query_id, doc_id, score, n_terms_hit,
                CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id ASC) AS INT) AS rank
              FROM sc
            )
            SELECT query_id, doc_id, round(score, 6) AS score, n_terms_hit,
                   rank
            FROM r WHERE rank <= {k}
        """


# Shared star-ring CTE chain for the vector-geometry oracles: verts ->
# pts (bit-exact mirror of _vector_vertices: identical float exprs) ->
# ordered (ring order = (u, x, y), the rings_from_points sort key) ->
# edges (wraparound via rn join).  Ends at edges(geom_id, x1, y1, x2, y2).
def _sql_vec_edges(scale: str | None = None) -> str:
    r = f"((doc_id * {_VEC_R_MULT}) % 15000) / 10000.0 + 0.5"
    if scale is not None:  # mirror of _vector_vertices' conditional scale
        r = f"({r}) * {scale}"
    return f"""
            verts AS (
              SELECT doc_id % {VEC_GEOMS} AS geom_id,
                     ((doc_id * {_VEC_U_MULT}) % 360000) / 360000.0 AS u,
                     {r} AS r
              FROM documents
            ),
            pts AS (
              SELECT geom_id, u,
                ((((geom_id) * 2246822519) % 3600000) / 10000.0 - 180.0)
                  + r * (CASE CAST(floor(4.0 * u) AS INT)
                      WHEN 0 THEN -1.0 + 2.0 * (4.0 * u)
                      WHEN 1 THEN 1.0
                      WHEN 2 THEN 1.0 - 2.0 * ((4.0 * u) - 2.0)
                      ELSE -1.0 END) AS x,
                ((((geom_id) * 2654435761) % 1700000) / 10000.0 - 85.0)
                  + r * (CASE CAST(floor(4.0 * u) AS INT)
                      WHEN 0 THEN -1.0
                      WHEN 1 THEN -1.0 + 2.0 * ((4.0 * u) - 1.0)
                      WHEN 2 THEN 1.0
                      ELSE 1.0 - 2.0 * ((4.0 * u) - 3.0) END) AS y
              FROM verts
            ),
            ordered AS (
              SELECT geom_id, x, y,
                row_number() OVER (PARTITION BY geom_id
                                   ORDER BY u, x, y) AS rn,
                count(*) OVER (PARTITION BY geom_id) AS n
              FROM pts
            ),
            edges AS (
              SELECT a.geom_id, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
              FROM ordered a
              JOIN ordered b ON a.geom_id = b.geom_id
               AND b.rn = CASE WHEN a.rn = a.n THEN 1 ELSE a.rn + 1 END
            )
"""


_SQL_VEC_EDGES = _sql_vec_edges()


def _hex_index_oracle() -> str:
    """DuckDB twin of q_hex_index: axial assignment via
    hexgrid.hex_cell_sql (identical double constants + floor(v+0.5)
    cube rounding), the same bigint pack, hex distance as the even
    integer (|q|+|r|+|q+r|)/2, per-cell rollup with hex_center_sql
    centers, and 7-offset focal smoothing replayed as a literal-offset
    join (avg over exact-integer doubles — order-independent)."""
    hq, hr = hexgrid.hex_cell_sql(SQL_LON, SQL_LAT, 7.0)
    cx, cy = hexgrid.hex_center_sql("hq", "hr", 7.0)
    off = hexgrid._PACK_OFF
    mul = hexgrid._PACK_MUL
    dirs = ", ".join(f"({dq},{dr})" for dq, dr in [(0, 0), *hexgrid.HEX_DIRS])
    return f"""
        WITH h AS (
          SELECT doc_id, {hq} AS hq, {hr} AS hr FROM documents
        ),
        hc AS (
          SELECT doc_id, hq, hr,
                 (hq + {off}) * {mul} + (hr + {off}) AS c
          FROM h
        ),
        doc AS (
          SELECT 'doc' AS variant, CAST(doc_id AS BIGINT) AS k, c,
                 CAST(CAST((abs(hq) + abs(hr) + abs(hq + hr)) / 2
                      AS BIGINT) AS DOUBLE) AS v1,
                 CAST(0.0 AS DOUBLE) AS v2
          FROM hc
        ),
        cells AS (
          SELECT hq, hr, c, count(*) AS n FROM hc GROUP BY 1, 2, 3
        ),
        cell AS (
          SELECT 'cell' AS variant, CAST(n AS BIGINT) AS k, c,
                 {cx} AS v1, {cy} AS v2
          FROM cells
        ),
        ofs(dq, dr) AS (VALUES {dirs}),
        sm AS (
          SELECT a.c AS c, avg(CAST(b.n AS DOUBLE)) AS smooth,
                 count(*) AS n_nb
          FROM cells a CROSS JOIN ofs JOIN cells b
            ON b.hq = a.hq + ofs.dq AND b.hr = a.hr + ofs.dr
          GROUP BY 1
        ),
        smooth AS (
          SELECT 'smooth' AS variant, CAST(n_nb AS BIGINT) AS k, c,
                 smooth AS v1, CAST(0.0 AS DOUBLE) AS v2
          FROM sm
        )
        SELECT * FROM doc
        UNION ALL SELECT * FROM cell
        UNION ALL SELECT * FROM smooth
    """


def _hex_knn_oracle() -> str:
    """DuckDB twin of q_hex_knn: replays the BOUNDED kNN — identical
    hex assignment (hex_cell_sql, size 20), the same 19-cell ring-2
    disk as a literal offset table, the same euclidean expression
    order, row_number ranked by (dist, target_id).  Points whose disk
    holds no city drop out in both engines."""
    pq, pr = hexgrid.hex_cell_sql("lon", "lat", 20.0)
    tq, tr = hexgrid.hex_cell_sql("clon", "clat", 20.0)
    disk = ", ".join(
        f"({int(dq)},{int(dr)})" for dq, dr in hexgrid.hex_disk_offsets(2)
    )
    cities = ", ".join(
        f"({i + 1}, CAST({CITY_LON[i]!r} AS DOUBLE), "
        f"CAST({CITY_LAT[i]!r} AS DOUBLE))" for i in range(5)
    )
    return f"""
        WITH g AS (SELECT doc_id, {SQL_LON} AS lon, {SQL_LAT} AS lat
                   FROM documents),
        c(target_id, clon, clat) AS (VALUES {cities}),
        tc AS (SELECT target_id, clon, clat, {tq} AS tq, {tr} AS tr
               FROM c),
        pc AS (SELECT doc_id, lon, lat, {pq} AS pq, {pr} AS pr FROM g),
        ofs(dq, dr) AS (VALUES {disk}),
        cand AS (
          SELECT p.doc_id, t.target_id,
                 sqrt((p.lon - t.clon) * (p.lon - t.clon)
                    + (p.lat - t.clat) * (p.lat - t.clat)) AS dist
          FROM pc p CROSS JOIN ofs JOIN tc t
            ON t.tq = p.pq + ofs.dq AND t.tr = p.pr + ofs.dr
        ),
        rk AS (
          SELECT doc_id, target_id, dist,
                 CAST(row_number() OVER (PARTITION BY doc_id
                      ORDER BY dist ASC, target_id ASC) AS INT) AS knn_rank
          FROM cand
        )
        SELECT doc_id, CAST(target_id AS BIGINT) AS target_id,
               round(dist, 6) AS dist, knn_rank
        FROM rk WHERE knn_rank <= 2
    """


def oracle_sql() -> dict[str, str]:
    from xarray_spatial_spark.operators.spatialstats import _offsets, kde_weights

    z8x, z8y = _sql_tile_x(8), _sql_tile_y(8)
    z5x, z5y = _sql_tile_x(5), _sql_tile_y(5)
    z4x, z4y = _sql_tile_x(4), _sql_tile_y(4)
    z3x, z3y = _sql_tile_x(3), _sql_tile_y(3)
    z2x, z2y = _sql_tile_x(2), _sql_tile_y(2)

    # spatial_autocorr: one CTE block per contiguity variant (only the
    # literal offset table differs), identical mean-free partials to
    # operators/spatialstats.global_autocorrelation
    def _autocorr_variant(sfx: str, variant: str) -> str:
        offs = ", ".join(f"({dx},{dy})" for dx, dy in _offsets(variant))
        return f"""
        ofs{sfx}(dx, dy) AS (VALUES {offs}),
        pc{sfx} AS (
          SELECT a.x, a.y, a.v, CAST(count(*) AS DOUBLE) AS deg,
                 sum(b.v) AS sum_vn,
                 sum((a.v - b.v) * (a.v - b.v)) AS sum_d2
          FROM c a CROSS JOIN ofs{sfx} JOIN c b
            ON b.x = a.x + ofs{sfx}.dx AND b.y = a.y + ofs{sfx}.dy
          GROUP BY 1, 2, 3
        ),
        pg{sfx} AS (
          SELECT coalesce(sum(deg), 0) AS s0,
                 coalesce(sum(v * sum_vn), 0) AS pa,
                 coalesce(sum(v * deg), 0) AS pb,
                 coalesce(sum(sum_vn), 0) AS pcv,
                 coalesce(sum(sum_d2), 0) AS num_c,
                 coalesce(sum(deg * deg), 0) AS sum_deg2
          FROM pc{sfx}
        ),
        g{sfx} AS (
          SELECT st.n, st.mean, st.m2, pg{sfx}.*,
                 pa - st.mean * (pb + pcv) + st.mean * st.mean * s0 AS num_i,
                 CASE WHEN st.n > 1 THEN -1.0 / (st.n - 1) END AS e_i
          FROM pg{sfx}, st
        ),
        h{sfx} AS (
          SELECT *,
                 CASE WHEN m2 > 0 AND s0 > 0 AND n > 1
                      THEN n / s0 * num_i / m2 END AS i_stat,
                 CASE WHEN m2 > 0 AND s0 > 0 AND n > 2
                      THEN (n * n * (2 * s0) - n * (4 * sum_deg2)
                            + 3 * s0 * s0)
                           / (s0 * s0 * (n * n - 1)) - e_i * e_i
                 END AS var_i
          FROM g{sfx}
        )"""

    def _autocorr_select(sfx: str, variant: str) -> str:
        return f"""
          SELECT '{variant}' AS variant, CAST(n AS BIGINT) AS n,
                 CAST(s0 AS BIGINT) AS s0, CAST(mean AS FLOAT) AS mean,
                 i_stat AS morans_i, e_i AS expected_i,
                 CASE WHEN m2 > 0 AND s0 > 0 AND n > 1 AND var_i > 0
                      THEN (i_stat - e_i) / sqrt(var_i) END AS z_i,
                 CASE WHEN m2 > 0 AND s0 > 0 AND n > 1
                      THEN (n - 1) * num_c / (2 * s0 * m2) END AS gearys_c
          FROM h{sfx}"""

    # getis_ord: neighbor join + left-join-back, Gi* closed form —
    # mirrors operators/spatialstats.getis_ord expression-for-expression
    def _gi_variant(sfx: str, variant: str) -> str:
        offs = ", ".join(f"({dx},{dy})" for dx, dy in _offsets(variant))
        return f"""
        gofs{sfx}(dx, dy) AS (VALUES {offs}),
        gpc{sfx} AS (
          SELECT a.x, a.y, CAST(count(*) AS DOUBLE) AS deg,
                 sum(b.v) AS sum_vn
          FROM c a CROSS JOIN gofs{sfx} JOIN c b
            ON b.x = a.x + gofs{sfx}.dx AND b.y = a.y + gofs{sfx}.dy
          GROUP BY 1, 2
        ),
        gj{sfx} AS (
          SELECT c.x, c.y, c.v,
                 coalesce(p.deg, 0) AS deg,
                 coalesce(p.sum_vn, 0) AS sum_vn,
                 st.n, st.mean, st.varp,
                 (st.n * (coalesce(p.deg, 0) + 1.0)
                  - (coalesce(p.deg, 0) + 1.0) * (coalesce(p.deg, 0) + 1.0))
                 / (st.n - 1.0) AS den2
          FROM c LEFT JOIN gpc{sfx} p ON p.x = c.x AND p.y = c.y, st
        )"""

    def _gi_select(sfx: str, variant: str) -> str:
        return f"""
          SELECT '{variant}' AS variant, x AS tile_x, y AS tile_y,
                 CAST(deg AS INT) AS deg, CAST(deg + 1 AS INT) AS wi,
                 CAST(CASE WHEN varp > 0 AND n > 1 AND den2 > 0
                      THEN (sum_vn + v - mean * (deg + 1.0))
                           / (sqrt(varp) * sqrt(den2)) END AS FLOAT)
                   AS gi_star
          FROM gj{sfx}"""

    # join_counts: exact pair counts + the derived free-sampling moments
    def _jc_variant(sfx: str, variant: str) -> str:
        offs = ", ".join(f"({dx},{dy})" for dx, dy in _offsets(variant))
        return f"""
        jofs{sfx}(dx, dy) AS (VALUES {offs}),
        jpr{sfx} AS (
          SELECT a.x, a.y, a.v AS va, b.v AS vb
          FROM c a CROSS JOIN jofs{sfx} JOIN c b
            ON b.x = a.x + jofs{sfx}.dx AND b.y = a.y + jofs{sfx}.dy
        ),
        jpg{sfx} AS (
          SELECT CAST(count(*) AS DOUBLE) AS s0,
                 coalesce(sum(va * vb), 0) AS bb2,
                 coalesce(sum(va + vb - 2.0 * va * vb), 0) AS bw2
          FROM jpr{sfx}
        ),
        jdg{sfx} AS (
          SELECT coalesce(sum(deg * (deg - 1.0)) / 2.0, 0) AS t
          FROM (SELECT CAST(count(*) AS DOUBLE) AS deg
                FROM jpr{sfx} GROUP BY x, y)
        ),
        jg{sfx} AS (
          SELECT st.n, st.n1, s0, bb2, bw2, t,
                 s0 / 2.0 AS m, st.n1 / st.n AS pp,
                 1.0 - st.n1 / st.n AS qq
          FROM jpg{sfx}, jdg{sfx}, st
        ),
        jh{sfx} AS (
          SELECT *,
                 2.0 * m * pp * qq AS e_bw,
                 (2.0 * m * pp * qq
                  + 2.0 * (t * pp * qq
                           + (m * (m - 1.0) / 2.0 - t)
                             * 4.0 * pp * pp * qq * qq))
                 - (2.0 * m * pp * qq) * (2.0 * m * pp * qq) AS var_bw
          FROM jg{sfx}
        )"""

    def _jc_select(sfx: str, variant: str) -> str:
        return f"""
          SELECT '{variant}' AS variant, CAST(n AS BIGINT) AS n,
                 CAST(n1 AS BIGINT) AS n1, CAST(m AS BIGINT) AS joins,
                 CAST(bb2 / 2.0 AS BIGINT) AS bb,
                 CAST(bw2 / 2.0 AS BIGINT) AS bw,
                 CAST(m - bb2 / 2.0 - bw2 / 2.0 AS BIGINT) AS ww,
                 CAST(CASE WHEN m > 0 THEN e_bw END AS FLOAT) AS e_bw,
                 CAST(CASE WHEN m > 0 AND var_bw > 0
                      THEN var_bw END AS FLOAT) AS var_bw,
                 CAST(CASE WHEN m > 0 AND var_bw > 0
                      THEN (bw2 / 2.0 - e_bw) / sqrt(var_bw) END AS FLOAT)
                   AS z_bw
          FROM jh{sfx}"""

    # centrography: closed forms over one scalar aggregate
    def _centro_select(variant: str, src: str) -> str:
        return f"""
          SELECT '{variant}' AS variant, n,
                 CAST(ws AS FLOAT) AS w_sum,
                 CAST(wx / ws AS FLOAT) AS mean_x,
                 CAST(wy / ws AS FLOAT) AS mean_y,
                 CAST(sqrt(greatest(
                      (wxx / ws - (wx / ws) * (wx / ws))
                      + (wyy / ws - (wy / ws) * (wy / ws)), 0.0))
                   AS FLOAT) AS std_distance,
                 CAST(sqrt(2.0 * greatest(
                      ((wxx / ws - (wx / ws) * (wx / ws))
                       + (wyy / ws - (wy / ws) * (wy / ws))) / 2.0
                      + sqrt(((wxx / ws - (wx / ws) * (wx / ws))
                              - (wyy / ws - (wy / ws) * (wy / ws)))
                             * ((wxx / ws - (wx / ws) * (wx / ws))
                                - (wyy / ws - (wy / ws) * (wy / ws))) / 4.0
                             + (wxy / ws - (wx / ws) * (wy / ws))
                               * (wxy / ws - (wx / ws) * (wy / ws))), 0.0))
                   AS FLOAT) AS sigma_x,
                 CAST(sqrt(2.0 * greatest(
                      ((wxx / ws - (wx / ws) * (wx / ws))
                       + (wyy / ws - (wy / ws) * (wy / ws))) / 2.0
                      - sqrt(((wxx / ws - (wx / ws) * (wx / ws))
                              - (wyy / ws - (wy / ws) * (wy / ws)))
                             * ((wxx / ws - (wx / ws) * (wx / ws))
                                - (wyy / ws - (wy / ws) * (wy / ws))) / 4.0
                             + (wxy / ws - (wx / ws) * (wy / ws))
                               * (wxy / ws - (wx / ws) * (wy / ws))), 0.0))
                   AS FLOAT) AS sigma_y,
                 CAST(atan2(2.0 * (wxy / ws - (wx / ws) * (wy / ws)),
                            (wxx / ws - (wx / ws) * (wx / ws))
                            - (wyy / ws - (wy / ws) * (wy / ws))) / 2.0
                   AS FLOAT) AS theta
          FROM {src}"""

    kde_lits = ", ".join(
        f"({dx}, {dy}, {w!r})" for dx, dy, w in kde_weights(2, 1.5)
    )

    docs_geo = f"SELECT doc_id, n_chars, lang, text, {SQL_LAT} AS lat, {SQL_LON} AS lon FROM documents"

    city_dist = " , ".join(
        f"sqrt((lon - ({CITY_LON[i]}))*(lon - ({CITY_LON[i]})) + "
        f"(lat - ({CITY_LAT[i]}))*(lat - ({CITY_LAT[i]}))) AS d{i + 1}"
        for i in range(5)
    )

    sq = PIP_SQUARE
    tr = PIP_TRIANGLE

    def _half_plane(p0, p1):
        # cross((p1-p0), (pt-p0)) >= 0 for CCW interior
        return (
            f"(({p1[0]} - ({p0[0]})) * (lat - ({p0[1]})) - "
            f"({p1[1]} - ({p0[1]})) * (lon - ({p0[0]}))) >= 0"
        )

    tri_test = " AND ".join(
        _half_plane(tr[i], tr[(i + 1) % 3]) for i in range(3)
    )

    ORACLE_ZONAL_STATS = f"""
            WITH zv AS (
              SELECT ({z4x}) * 16 + ({z4y}) AS zone,
                     CAST(n_chars AS DOUBLE) AS value
              FROM documents
            ),
            stats AS (
              SELECT zone, round(avg(value), 4) AS mean, max(value) AS max,
                     min(value) AS min, sum(value) AS sum,
                     round(stddev_pop(value), 4) AS std,
                     round(var_pop(value), 4) AS var,
                     count(value) AS count
              FROM zv GROUP BY zone
            ),
            counts AS (
              SELECT zone, value, count(*) AS c FROM zv GROUP BY 1, 2
            ),
            mj AS (
              SELECT zone, value AS majority,
                     row_number() OVER (PARTITION BY zone ORDER BY c DESC, value ASC) AS rn
              FROM counts
            )
            SELECT s.zone, s.mean, s.max, s.min, s.sum, s.std, s.var, s.count,
                   m.majority
            FROM stats s JOIN mj m ON s.zone = m.zone AND m.rn = 1
    """

    return {
        "tile_assign": f"""
            WITH RECURSIVE {_sql_s2_cells(12)}
            SELECT 'z8' AS variant, {z8x} AS tile_x, {z8y} AS tile_y,
                   count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM documents GROUP BY 2, 3
            UNION ALL
            SELECT 's2', s2_cell, CAST(face AS BIGINT),
                   count(*), CAST(sum(n_chars) AS BIGINT)
            FROM s2cells GROUP BY 2, 3
        """,
        # both entry variants (agg / fused) against the SAME stats,
        # tagged — the union hash breaks if either plan diverges
        "zonal_stats": f"""
            SELECT v.variant, s.*
            FROM ({ORACLE_ZONAL_STATS}) s
            CROSS JOIN (VALUES ('agg'), ('fused')) v(variant)
        """,
                "zonal_crosstab": f"""
            SELECT ({z3x}) * 8 + ({z3y}) AS zone,
                   CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS "en",
                   CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS "de",
                   CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS "fr",
                   CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS "es",
                   CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS "zh"
            FROM documents GROUP BY 1
        """,
        # apply + crop variants under one tagged slot
        "zonal_apply": f"""
            WITH r AS ({SQL_EVENTS_RASTER}),
            rz AS (
              SELECT y, x,
                     CAST(floor(y / 20) * 5 + floor(x / 20) AS BIGINT) AS zone,
                     value
              FROM r
            ),
            box AS (
              SELECT min(y) y0, max(y) y1, min(x) x0, max(x) x1
              FROM rz WHERE zone = 7
            )
            SELECT 'apply' AS variant, doc_id,
                   CAST(NULL AS INT) AS y, CAST(NULL AS INT) AS x,
                   CAST(({z2x}) * 4 + ({z2y}) AS BIGINT) AS zone,
                   CASE WHEN ({z2x}) * 4 + ({z2y}) <> 5
                        THEN CAST(n_chars AS DOUBLE) * 2
                        ELSE CAST(n_chars AS DOUBLE) END AS value
            FROM documents
            UNION ALL
            SELECT 'crop', CAST(NULL AS BIGINT), rz.y, rz.x, rz.zone, rz.value
            FROM rz, box
            WHERE rz.y BETWEEN box.y0 AND box.y1 AND rz.x BETWEEN box.x0 AND box.x1
        """,
        "classify_maps": """
            WITH r AS (SELECT value FROM events),
            mm AS (SELECT min(value) lo, max(value) hi,
                          (max(value) - min(value)) / 5 AS w FROM r),
            qq AS (SELECT quantile_cont(value, 0.25) q1, quantile_cont(value, 0.5) q2,
                          quantile_cont(value, 0.75) q3, quantile_cont(value, 1.0) q4
                   FROM r),
            s AS (SELECT avg(value) m, stddev_pop(value) sd, max(value) mx FROM r),
            sb AS (SELECT m - 2*sd AS b0, m - sd AS b1, m + sd AS b2,
                          m + 2*sd AS b3, mx AS b4 FROM s),
            pp AS (SELECT quantile_cont(value, 0.10) p1, quantile_cont(value, 0.50) p2,
                          quantile_cont(value, 0.90) p3, max(value) mx FROM r),
            bq AS (SELECT quantile_cont(value, 0.25) q1, quantile_cont(value, 0.5) q2,
                          quantile_cont(value, 0.75) q3, max(value) mx FROM r),
            bb AS (SELECT q1 - 1.5*(q3-q1) AS b0, q1 AS b1, q2 AS b2, q3 AS b3,
                          least(q3 + 1.5*(q3-q1), mx) AS b4,
                          greatest(q3 + 1.5*(q3-q1), mx) AS b5 FROM bq)
            SELECT 'equal_interval' AS method,
                   CASE WHEN value <= lo + w THEN 0.0
                        WHEN value <= lo + 2*w THEN 1.0
                        WHEN value <= lo + 3*w THEN 2.0
                        WHEN value <= lo + 4*w THEN 3.0
                        WHEN value <= hi THEN 4.0 END AS cls,
                   count(*) AS n
            FROM r, mm GROUP BY 1, 2
            UNION ALL
            SELECT 'quantile' AS method,
                   CASE WHEN value <= q1 THEN 0.0
                        WHEN value <= q2 THEN 1.0
                        WHEN value <= q3 THEN 2.0
                        WHEN value <= q4 THEN 3.0 END AS cls,
                   count(*) AS n
            FROM r, qq GROUP BY 1, 2
            UNION ALL
            SELECT 'reclassify' AS method,
                   CASE WHEN l_quantity <= 10 THEN 1.0
                        WHEN l_quantity <= 25 THEN 2.0
                        WHEN l_quantity <= 50 THEN 3.0 END AS cls,
                   count(*) AS n
            FROM lineitem GROUP BY 1, 2
            UNION ALL
            SELECT 'std_mean' AS method,
                   CASE WHEN value <= b0 THEN 0.0
                        WHEN value <= b1 THEN 1.0
                        WHEN value <= b2 THEN 2.0
                        WHEN value <= b3 THEN 3.0
                        WHEN value <= b4 THEN 4.0 END AS cls,
                   count(*) AS n
            FROM r, sb GROUP BY 1, 2
            UNION ALL
            SELECT 'percentiles' AS method,
                   CASE WHEN value <= p1 THEN 0.0
                        WHEN value <= p2 THEN 1.0
                        WHEN value <= p3 THEN 2.0
                        WHEN value <= mx THEN 3.0 END AS cls,
                   count(*) AS n
            FROM r, pp GROUP BY 1, 2
            UNION ALL
            SELECT 'box_plot' AS method,
                   CASE WHEN value <= b0 THEN 0.0
                        WHEN value <= b1 THEN 1.0
                        WHEN value <= b2 THEN 2.0
                        WHEN value <= b3 THEN 3.0
                        WHEN value <= b4 THEN 4.0
                        WHEN value <= b5 THEN 5.0 END AS cls,
                   count(*) AS n
            FROM r, bb GROUP BY 1, 2
        """,
        "host_cap": """
            WITH u AS (
              SELECT doc_id, n_chars,
                'https://'
                || CASE WHEN doc_id % 11 = 0 THEN 'user@' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END
                || 'site' || CAST(doc_id % 50 AS VARCHAR)
                || CASE WHEN doc_id % 3 = 0 THEN '.example.com'
                        WHEN doc_id % 3 = 1 THEN '.example.co.uk'
                        ELSE '.org' END
                || CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END
                || '/a/b/' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            ),
            h AS (
              SELECT doc_id, n_chars,
                     lower(regexp_replace(regexp_replace(
                       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                       '^.*@', ''), ':[0-9]+$', '')) AS host
              FROM u
            ),
            r AS (
              SELECT doc_id, host, n_chars,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY n_chars DESC, doc_id ASC)
                       AS host_rank
              FROM h
            ),
            fu AS (
              SELECT 'https://site' || CAST(doc_id % 50 AS VARCHAR)
                       || '.org/p' || CAST(doc_id AS VARCHAR) AS url,
                     'site' || CAST(doc_id % 50 AS VARCHAR) || '.org'
                       AS host,
                     CAST(n_chars AS DOUBLE) AS pri
              FROM documents
            ),
            fr AS (
              SELECT url, host, pri,
                     row_number() OVER (PARTITION BY host
                                        ORDER BY pri DESC, url ASC) AS rk
              FROM fu
            )
            SELECT 'cap' AS variant, CAST(doc_id AS VARCHAR) AS key,
                   host, CAST(n_chars AS DOUBLE) AS val,
                   CAST(host_rank AS INT) AS rnk
            FROM r WHERE host_rank <= 3
            UNION ALL
            SELECT 'frontier' AS variant, url AS key, host,
                   pri AS val, CAST(rk - 1 AS INT) AS rnk
            FROM fr WHERE rk <= 3
        """,
        "chunk_docs": """
            WITH t AS (
              SELECT doc_id,
                     string_split_regex(coalesce(trim(text), ''), '\\s+')
                       AS toks,
                     coalesce(trim(text), '') = '' AS _empty
              FROM documents
            ),
            n AS (SELECT doc_id, toks,
                         CASE WHEN _empty THEN 0 ELSE len(toks) END AS n
                  FROM t),
            st AS (
              SELECT doc_id, toks, n,
                     unnest(range(0, greatest(n - 1, 0) + 1, 16)) AS start
              FROM n
            )
            SELECT doc_id,
                   CAST(start / 16 AS INT) AS chunk_id,
                   array_to_string(toks[start + 1:start + 24], ' ')
                     AS chunk_text,
                   CAST(greatest(least(n - start, 24), 0) AS INT)
                     AS chunk_tokens
            FROM st
        """,
        "strat_sample": """
            WITH r AS (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY (((doc_id % 1000000007 + 1000000007)
                                   % 1000000007) * 2654435761)
                                  % 1000000007 ASC,
                                doc_id ASC) AS sample_rank
              FROM documents
            ),
            -- DSIR variant: hashed unigram+bigram buckets (portable
            -- modular hash), add-1 bag-of-words models on target
            -- (doc_id%11==0) vs raw, Gumbel top-40
            t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE string_split_regex(trim(text), '\\s+') END AS toks
              FROM documents
            ),
            fd AS (
              SELECT doc_id, unnest(list_concat(
                list_transform(toks,
                  tk -> (ascii(tk)::BIGINT * 31 + length(tk)) % 2048),
                CASE WHEN len(toks) >= 2 THEN
                  list_transform(generate_series(1, len(toks) - 1),
                    i -> ((ascii(toks[i])::BIGINT * 31 + length(toks[i]))
                            * 131
                          + ascii(toks[i + 1])::BIGINT * 31
                          + length(toks[i + 1])) % 2048)
                ELSE []::BIGINT[] END)) AS bucket
              FROM t
            ),
            ft AS (SELECT f.doc_id, f.bucket FROM fd f
                   WHERE f.doc_id % 11 = 0),
            tc AS (SELECT bucket, count(*)::DOUBLE AS c
                   FROM ft GROUP BY bucket),
            rc AS (SELECT bucket, count(*)::DOUBLE AS c
                   FROM fd GROUP BY bucket),
            tt AS (SELECT sum(c) AS T FROM tc),
            rt AS (SELECT sum(c) AS R FROM rc),
            ratio AS (
              SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
                     ln((COALESCE(tc.c, 0) + 1.0) / (tt.T + 2048.0))
                     - ln((COALESCE(rc.c, 0) + 1.0) / (rt.R + 2048.0))
                       AS lr
              FROM tc FULL JOIN rc USING (bucket), tt, rt
            ),
            dw AS (SELECT f.doc_id, sum(r.lr) AS w
                   FROM fd f LEFT JOIN ratio r USING (bucket)
                   GROUP BY f.doc_id),
            ids AS (SELECT DISTINCT doc_id FROM documents),
            w2 AS (SELECT i.doc_id, COALESCE(d.w, 0.0) AS log_w
                   FROM ids i LEFT JOIN dw d USING (doc_id)),
            keyed AS (
              SELECT doc_id, log_w,
                log_w - ln(-ln(
                  (((((doc_id + 7) % 1000000007 + 1000000007)
                      % 1000000007) * 2654435761 % 1000000007)
                   + 1)::DOUBLE / 1000000008)) AS key
              FROM w2
            ),
            sel AS (
              SELECT doc_id, log_w,
                     row_number() OVER (ORDER BY key DESC, doc_id ASC)
                       AS rank
              FROM keyed
            )
            SELECT 'strat' AS variant, doc_id, source AS strata,
                   CAST(n_chars AS DOUBLE) AS metric,
                   CAST(sample_rank AS INT) AS rank
            FROM r WHERE sample_rank <= 25
            UNION ALL
            SELECT 'dsir' AS variant, doc_id, '_all' AS strata,
                   round(log_w, 6) AS metric, CAST(rank AS INT) AS rank
            FROM sel WHERE rank <= 40
            UNION ALL
            -- 'split': host-disjoint train/eval over the synth urls —
            -- domain -> portable char hash -> Knuth remix (seed 2) ->
            -- threshold at int(0.3 * P)
            SELECT 'split' AS variant, doc_id,
                   CASE WHEN ((hh + 2) * 2654435761) % 1000000007
                          < 300000002
                        THEN 'eval' ELSE 'train' END AS strata,
                   CAST(-1.0 AS DOUBLE) AS metric,
                   CAST(-1 AS INT) AS rank
            FROM (
              SELECT doc_id,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(list_filter(string_split(dom, ''),
                    c -> c <> ''),
                  c -> CAST(ascii(c) AS BIGINT))),
                  (h, x) -> (h * 131 + x) % 1000000007) AS hh
              FROM (
                SELECT doc_id,
                  CASE WHEN n >= 3 AND parts[n-1] IN
                         ('co','com','ac','gov','edu','org','net')
                       AND length(parts[n]) = 2
                       THEN array_to_string(parts[n-2:n], '.')
                       ELSE array_to_string(parts[greatest(n-1,1):n], '.')
                  END AS dom
                FROM (
                  SELECT doc_id, string_split(host, '.') AS parts,
                         len(string_split(host, '.')) AS n
                  FROM (
                    SELECT doc_id,
                      lower(regexp_replace(regexp_replace(
                        regexp_extract(
                          'https://'
                          || CASE WHEN doc_id % 11 = 0 THEN 'user@'
                                  ELSE '' END
                          || CASE WHEN doc_id % 7 = 0 THEN 'WWW.'
                                  ELSE '' END
                          || 'site' || CAST(doc_id % 50 AS VARCHAR)
                          || CASE WHEN doc_id % 3 = 0 THEN '.example.com'
                                  WHEN doc_id % 3 = 1 THEN '.example.co.uk'
                                  ELSE '.org' END
                          || CASE WHEN doc_id % 13 = 0 THEN ':8080'
                                  ELSE '' END
                          || '/a/b/' || CAST(doc_id AS VARCHAR),
                          '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                        '^.*@', ''), ':[0-9]+$', '')) AS host
                    FROM documents
                  )
                )
              )
            )
            UNION ALL
            -- 'shuffle': deterministic training shuffle — shard by
            -- Knuth-hash(id, seed=5), order within shard by the
            -- independent seed-6 hash (same any-int64-safe form)
            SELECT 'shuffle' AS variant, doc_id,
                   CAST(shard AS VARCHAR) AS strata,
                   CAST(-1.0 AS DOUBLE) AS metric,
                   CAST(row_number() OVER (
                     PARTITION BY shard ORDER BY h2 ASC, doc_id ASC)
                   AS INT) AS rank
            FROM (
              SELECT doc_id,
                (((doc_id + 5) % 1000000007 + 1000000007) % 1000000007
                  * 2654435761) % 1000000007 % 8 AS shard,
                (((doc_id + 6) % 1000000007 + 1000000007) % 1000000007
                  * 2654435761) % 1000000007 AS h2
              FROM documents
            )
        """,
        "weighted_sample": """
            -- A-ES weighted sample: deterministic u from the same
            -- Knuth hash (seed 11), key = ln(u)/w, top-40 by key desc
            WITH k AS (
              SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS weight,
                     ln( ((((doc_id + 11) % 1000000007 + 1000000007)
                            % 1000000007 * 2654435761) % 1000000007
                          + 0.5) / 1000000007.0 )
                       / CAST(n_chars AS DOUBLE) AS es_key
              FROM documents
              WHERE n_chars > 0
            )
            SELECT doc_id, source, weight, round(es_key, 6) AS es_key
            FROM k
            ORDER BY es_key DESC, doc_id ASC
            LIMIT 40
        """,
        "extract_text": """
            WITH h AS (
              SELECT doc_id, text,
                     '<html><head><meta charset="utf-8"/></head><body><p>'
                       || text || '</p></body></html>' AS html
              FROM documents
            ),
            c AS (
              SELECT doc_id,
                     CASE WHEN length(trim(regexp_replace(
                              text, '\\s+', ' ', 'g'))) >= 25
                          THEN trim(regexp_replace(text, '\\s+', ' ', 'g'))
                          ELSE '' END AS expected
              FROM documents
            )
            SELECT 'strip' AS variant, doc_id,
                   CAST(length(regexp_replace(html, '<[^>]*>', '', 'g'))
                        AS BIGINT) AS n_extracted,
                   regexp_replace(html, '<[^>]*>', '', 'g') = text
                     AS byte_identical
            FROM h
            UNION ALL
            SELECT 'content' AS variant, doc_id,
                   CAST(length(expected) AS BIGINT) AS n_extracted,
                   TRUE AS byte_identical
            FROM c
            UNION ALL
            SELECT 'markdown' AS variant, doc_id,
                   CAST(length(
                     '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || chr(10)
                     || trim(regexp_replace(text, '\\s+', ' ', 'g'))
                     || chr(10) || chr(10) || '- alpha' || chr(10) || '- beta'
                     || chr(10) || chr(10) || 'See [link '
                     || CAST(doc_id AS VARCHAR) || '](https://ex.com/'
                     || CAST(doc_id AS VARCHAR) || ').'
                   ) AS BIGINT) AS n_extracted,
                   TRUE AS byte_identical
            FROM documents
        
            UNION ALL
            SELECT 'imgpairs' AS variant, doc_id,
                   CAST(length(
                     'http://cdn.ex.com/a' || CAST(doc_id AS VARCHAR)
                     || '.jpg|Fox & hound ' || CAST(doc_id AS VARCHAR)
                     || ';http://site' || CAST(doc_id % 7 AS VARCHAR)
                     || '.ex.com/i/b.png|pic of doc '
                     || CAST(doc_id AS VARCHAR)
                   ) AS BIGINT) AS n_extracted,
                   TRUE AS byte_identical
            FROM documents
        """,
        "multispectral": """
            WITH b AS (
              SELECT event_id, value + 1.0 AS nir, value/2 + 2.0 AS red,
                     value/3 + 3.0 AS blue, value/4 + 4.0 AS green
              FROM events
            )
            SELECT event_id,
              round(CASE WHEN nir + red <> 0 THEN (nir - red)/(nir + red) END, 6) AS ndvi,
              round(CASE WHEN (nir + red + 1.0) * 2.0 <> 0
                         THEN (nir - red)/((nir + red + 1.0) * 2.0) END, 6) AS savi,
              round(CASE WHEN nir + 2*red + blue <> 0
                         THEN (nir - 2*red + blue)/(nir + 2*red + blue) END, 6) AS arvi,
              round(CASE WHEN nir + 6.0*red - 7.5*blue + 1.0 <> 0
                         THEN 2.5 * (nir - red)/(nir + 6.0*red - 7.5*blue + 1.0) END, 6) + 0.0 AS evi,
              round(CASE WHEN green <> 0 THEN nir/green - 1.0 END, 6) AS gci
            FROM b
        """,
        "local_cellstats": """
            WITH t AS (
              SELECT l_orderkey, l_linenumber,
                     CAST(l_quantity AS DOUBLE) AS a,
                     l_discount * 100 AS b, l_tax * 100 AS c
              FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   round(a + b + c - greatest(a, b, c) - least(a, b, c), 6) AS med,
                   round(a + b + c, 6) AS total,
                   CAST(CASE WHEN a <= b AND a <= c THEN 1
                             WHEN b <= c THEN 2 ELSE 3 END AS DOUBLE) AS lowpos
            FROM t
        """,
        "proximity_nn": f"""
            WITH g AS ({docs_geo}),
            d AS (SELECT doc_id, {city_dist} FROM g),
            m AS (SELECT doc_id, d1, d2, d3, d4, d5,
                         least(d1, d2, d3, d4, d5) AS dmin FROM d)
            SELECT doc_id, round(dmin, 6) AS dist,
                   CASE WHEN d1 = dmin THEN 1 WHEN d2 = dmin THEN 2
                        WHEN d3 = dmin THEN 3 WHEN d4 = dmin THEN 4
                        ELSE 5 END AS city
            FROM m
        """,
        "regions": """
            -- connected-component labeling as a bounded recursive
            -- min-label push (converges at K~400 on this raster;
            -- K=600 verified equal to K=800): each iteration pushes
            -- every cell's label to its 4-neighbors of equal value;
            -- the final label of a cell is the min ever received =
            -- the region's min y*2^32+x key, then dense-ranked in
            -- scan order exactly like operators/regions.py
            WITH RECURSIVE r AS (
              SELECT CAST(floor(event_id / 100) AS INT) AS y,
                     CAST(event_id % 100 AS INT) AS x,
                     floor(value / 100) AS v
              FROM events
            ),
            g AS (SELECT y, x, v,
                         CAST(y AS BIGINT) * 4294967296 + x AS lab FROM r),
            offs(dy, dx) AS (VALUES (0,0),(0,1),(0,-1),(1,0),(-1,0)),
            prop AS (
              SELECT y, x, v, lab, 0 AS it FROM g
              UNION ALL
              SELECT t.ny AS y, t.nx AS x, t.v, min(t.lab) AS lab, t.it + 1
              FROM (
                SELECT p.y + o.dy AS ny, p.x + o.dx AS nx, p.v, p.lab, p.it
                FROM prop p, offs o
                WHERE p.it < 600
              ) t JOIN g ON g.y = t.ny AND g.x = t.nx AND g.v = t.v
              GROUP BY t.ny, t.nx, t.v, t.it
            ),
            final AS (SELECT y, x, min(lab) AS lab FROM prop GROUP BY y, x),
            ranked AS (
              SELECT lab,
                     CAST(dense_rank() OVER (ORDER BY lab) - 1 AS DOUBLE)
                       AS region
              FROM (SELECT DISTINCT lab FROM final)
            )
            SELECT r2.region, CAST(count(*) AS BIGINT) AS n_cells
            FROM final f JOIN ranked r2 USING (lab) GROUP BY 1
        """,
        "color_viz": """
            WITH b AS (
              SELECT event_id,
                ((CAST(floor(value) AS BIGINT) % 256) + 256) % 256 AS r,
                ((CAST(floor(value * 7) AS BIGINT) % 256) + 256) % 256 AS g,
                ((CAST(floor(value * 13) AS BIGINT) % 256) + 256) % 256 AS b,
                ((CAST(floor(value) AS BIGINT) % 4) + 4) % 4 AS cls
              FROM events
            )
            SELECT event_id,
              r + g * 256 + b * 65536
                + (CASE WHEN r <= 10 THEN 0 ELSE CAST(255 AS BIGINT) END) * 16777216 AS rgba,
              CASE WHEN cls = 0 THEN 255 + CAST(255 AS BIGINT) * 16777216
                   WHEN cls = 1 THEN 255 * 256 + CAST(255 AS BIGINT) * 16777216
                   WHEN cls = 2 THEN 12 + 34 * 256 + 56 * 65536
                        + CAST(255 AS BIGINT) * 16777216
                   ELSE CAST(0 AS BIGINT) END AS cls_rgba
            FROM b
        """,
        # both kNN strategies (broadcast knn3 / beyond-broadcast ring)
        # under one tagged union — either plan diverging breaks the hash
        "knn": f"""
            WITH g AS ({docs_geo}),
            c(target_id, clon, clat) AS (VALUES
                (1, {CITY_LON[0]}, {CITY_LAT[0]}), (2, {CITY_LON[1]}, {CITY_LAT[1]}),
                (3, {CITY_LON[2]}, {CITY_LAT[2]}), (4, {CITY_LON[3]}, {CITY_LAT[3]}),
                (5, {CITY_LON[4]}, {CITY_LAT[4]})),
            d AS (
              SELECT doc_id, target_id,
                     sqrt((lon - clon)*(lon - clon) + (lat - clat)*(lat - clat)) AS dist
              FROM g CROSS JOIN c
            ),
            rk AS (
              SELECT doc_id, target_id, dist,
                     CAST(row_number() OVER (PARTITION BY doc_id
                          ORDER BY dist ASC, target_id ASC) AS INT) AS knn_rank
              FROM d
            ),
            p AS (SELECT doc_id, lat, lon FROM g),
            t AS (SELECT doc_id AS target_id, lat, lon FROM g
                  WHERE doc_id % 13 = 0),
            ring AS (
              SELECT p.doc_id,
                     min(sqrt((p.lon - t.lon)*(p.lon - t.lon)
                            + (p.lat - t.lat)*(p.lat - t.lat))) AS dmin
              FROM p CROSS JOIN t GROUP BY p.doc_id
            )
            SELECT 'knn3' AS variant, doc_id,
                   CAST(target_id AS BIGINT) AS target_id,
                   round(dist, 6) AS dist, knn_rank
            FROM rk WHERE knn_rank <= 3
            UNION ALL
            SELECT 'ring', doc_id, CAST(NULL AS BIGINT),
                   round(dmin, 6), CAST(NULL AS INT)
            FROM ring WHERE dmin <= 12.0
        """,
        "surface_slope": f"""
            WITH r AS ({SQL_EVENTS_RASTER}),
            nb AS (
              SELECT a.y, a.x,
                sum(CASE WHEN b.y = a.y + 1 AND b.x = a.x - 1 THEN b.value END) AS am,
                sum(CASE WHEN b.y = a.y + 1 AND b.x = a.x     THEN b.value END) AS bm,
                sum(CASE WHEN b.y = a.y + 1 AND b.x = a.x + 1 THEN b.value END) AS cm,
                sum(CASE WHEN b.y = a.y     AND b.x = a.x - 1 THEN b.value END) AS dm,
                sum(CASE WHEN b.y = a.y     AND b.x = a.x + 1 THEN b.value END) AS fm,
                sum(CASE WHEN b.y = a.y - 1 AND b.x = a.x - 1 THEN b.value END) AS gm,
                sum(CASE WHEN b.y = a.y - 1 AND b.x = a.x     THEN b.value END) AS hm,
                sum(CASE WHEN b.y = a.y - 1 AND b.x = a.x + 1 THEN b.value END) AS im,
                count(*) AS cnt
              FROM r a JOIN r b
                ON b.y BETWEEN a.y - 1 AND a.y + 1 AND b.x BETWEEN a.x - 1 AND a.x + 1
              GROUP BY a.y, a.x
            )
            SELECT y, x,
                   round(atan(sqrt(
                     pow(((cm + 2*fm + im) - (am + 2*dm + gm)) / 8.0, 2) +
                     pow(((gm + 2*hm + im) - (am + 2*bm + cm)) / 8.0, 2)
                   )) * 57.29578, 6) AS slope
            FROM nb WHERE cnt = 9
        """,
        "focal_mean": f"""
            WITH r AS ({SQL_EVENTS_RASTER})
            SELECT a.y, a.x, round(avg(b.value), 6) AS smoothed
            FROM r a JOIN r b
              ON b.y BETWEEN a.y - 1 AND a.y + 1 AND b.x BETWEEN a.x - 1 AND a.x + 1
            GROUP BY a.y, a.x
        """,
        "text_stats": f"""
            SELECT doc_id,
              CAST(CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_tokens,
              CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INT) AS n_words,
              round(CASE WHEN length(text) > 0 THEN
                CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                / length(text) ELSE 0.0 END, 6) AS punct_ratio,
              round(CASE WHEN length(text) > 0 THEN
                CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                / length(text) ELSE 0.0 END, 6) AS alpha_ratio,
              {tx.fingerprint_sql('text')} AS fingerprint,
              CAST({tx.mojibake_hits_sql(
                  "CASE WHEN " + _MOJI_ROW
                  + " AND regexp_matches(text, '" + _ASCII_RE + "')"
                  + " THEN text || ' " + _MOJI_BAD
                  + "' ELSE text END")} AS INT) AS moji_hits,
              CASE WHEN {_MOJI_ROW}
                   AND regexp_matches(text, '{_ASCII_RE}')
                   THEN text || ' {_MOJI_CLEAN}'
                   ELSE text END AS moji_fixed
            FROM documents
        """,
        "langid": _langid_oracle(),
        "dedup_exact": """
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
            ),
            g AS (
              SELECT text, count(*) AS n_dups, min(doc_id) AS first_id,
                     max(doc_id) AS last_id
              FROM u GROUP BY text HAVING count(*) > 1
            )
            SELECT first_id, last_id, n_dups FROM g
        """,
        "ngram_jaccard": """
            WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
            idx AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i
              FROM d
            ),
            sh AS (
              SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS s
              FROM idx
            ),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.4
        """,
        "dedup_clusters": """
            -- jaccard pairs (same CTE as 'ngram_jaccard') -> recursive
            -- min-label CC (12 bounded rounds, fixed point is
            -- round-count independent) -> survivor = longest text,
            -- tie smallest id -> per-doc audit row
            WITH RECURSIVE
            d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
            idx AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text) - 4, 0))) AS i
              FROM d
            ),
            sh AS (
              SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 5) AS s
              FROM idx
            ),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            pairs AS (
              SELECT id_a, id_b FROM inter
              JOIN sz sa ON sa.doc_id = id_a
              JOIN sz sb ON sb.doc_id = id_b
              WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.4
            ),
            sym AS (SELECT id_a AS s, id_b AS t FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
            nodes AS (SELECT DISTINCT s AS node FROM sym),
            adj AS (SELECT s, t FROM sym
                    UNION SELECT node, node FROM nodes),
            cc AS (
              SELECT 0 AS it, node, node AS label FROM nodes
              UNION ALL
              SELECT c.it + 1, a.t AS node, MIN(c.label) AS label
              FROM cc c JOIN adj a ON a.s = c.node
              WHERE c.it < 12
              GROUP BY c.it, a.t
            ),
            grp AS (SELECT node AS doc_id, label AS group_id
                    FROM cc WHERE it = 12),
            nm AS (SELECT group_id, count(*) AS n_members
                   FROM grp GROUP BY 1),
            lens AS (SELECT doc_id, length(text) AS L FROM d),
            mx AS (
              SELECT g.group_id, max(l.L) AS mL
              FROM grp g JOIN lens l USING (doc_id) GROUP BY 1
            ),
            win AS (
              SELECT g.group_id, min(g.doc_id) AS survivor
              FROM grp g JOIN lens l USING (doc_id)
              JOIN mx ON mx.group_id = g.group_id
              WHERE l.L = mx.mL GROUP BY g.group_id
            )
            SELECT d.doc_id,
                   coalesce(g.group_id, d.doc_id) AS group_id,
                   coalesce(nm.n_members, 1) AS n_members,
                   (g.group_id IS NULL OR d.doc_id = w.survivor) AS kept
            FROM d
            LEFT JOIN grp g ON g.doc_id = d.doc_id
            LEFT JOIN nm ON nm.group_id = g.group_id
            LEFT JOIN win w ON w.group_id = g.group_id
        """,
        "window_events": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
                   event_type, count(*) AS n, round(avg(value), 6) AS avg_value
            FROM events GROUP BY 1, 2
        """,
        "similarity_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id = 7),
            s AS (
              SELECT vec_id,
                     list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv) AS cos
              FROM embeddings, q
            )
            SELECT vec_id, round(cos, 6) AS cosine
            FROM s ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "pip_assign": f"""
            WITH RECURSIVE {_sql_s2_cells(30)},
            g AS ({docs_geo}),
            capranges(lo, hi) AS (VALUES {_sql_cap_ranges()}),
            capdist AS (
              SELECT doc_id,
                degrees(acos(least(1.0,
                  sin(radians(lat)) * sin(radians({CAP_LAT}))
                  + cos(radians(lat)) * cos(radians({CAP_LAT}))
                    * cos(radians(lon - ({CAP_LON})))))) AS d
              FROM g
            )
            SELECT 'poly' AS variant, doc_id,
              CASE WHEN lon > {sq[0][0]} AND lon < {sq[1][0]}
                    AND lat > {sq[0][1]} AND lat < {sq[2][1]} THEN 1
                   WHEN {tri_test} THEN 2
              END AS zone
            FROM g
            UNION ALL
            SELECT 's2cap', c.doc_id,
              CASE WHEN r.lo IS NOT NULL AND round(cd.d, 6) <= {CAP_RAD}
                   THEN 1 END
            FROM s2cells c
            LEFT JOIN capranges r ON c.s2_cell BETWEEN r.lo AND r.hi
            JOIN capdist cd ON cd.doc_id = c.doc_id
        """,
        "resample_down": f"""
            WITH r AS ({SQL_EVENTS_RASTER})
            SELECT CAST(floor(y / 10) AS INT) AS y, CAST(floor(x / 10) AS INT) AS x,
                   round(avg(value), 6) AS value
            FROM r GROUP BY 1, 2
        """,
        "quality_score": f"""
            WITH qt AS (
              SELECT doc_id, text,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
                CASE WHEN length(text) > 0 THEN
                  CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
                  / length(text) ELSE 0.0 END AS pr,
                (len(regexp_extract_all(text, '\\bthe\\b')) + len(regexp_extract_all(text, '\\band\\b')) + len(regexp_extract_all(text, '\\bof\\b')) + len(regexp_extract_all(text, '\\bto\\b')) + len(regexp_extract_all(text, '\\bin\\b')) + len(regexp_extract_all(text, '\\bis\\b')) + len(regexp_extract_all(text, '\\bthat\\b')) + len(regexp_extract_all(text, '\\bfor\\b'))) AS hits,
                CASE WHEN trim(text) = '' THEN CAST([] AS BIGINT[])
                     ELSE list_transform(string_split_regex(trim(text), '\\s+'),
                                         s -> CAST(length(s) AS BIGINT)) END AS tlens
              FROM documents
            ),
            sc AS (
              SELECT doc_id,
                least(n_tok / 64.0, 1.0) AS len_score,
                greatest(0.0, 1.0 - 4.0 * pr) AS punct_score,
                CASE WHEN n_tok > 0
                     THEN least(4.0 * hits / n_tok, 1.0) ELSE 0.0 END AS stop_score,
                CASE WHEN n_tok > 0 THEN CAST(list_sum(tlens) AS DOUBLE) / n_tok
                     ELSE 0.0 END AS mwl
              FROM qt
            ),
            -- ccnet variant: KN self-perplexity -> exact-percentile
            -- head/middle/tail buckets (round BEFORE thresholding,
            -- same as the Spark side)
            t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE string_split_regex(trim(text), '\\s+') END AS toks
              FROM documents
            ),
            {_KN_SQL},
            hb AS (
              SELECT i.doc_id, round(k.h, 6) AS ce
              FROM (SELECT DISTINCT doc_id FROM documents) i
              LEFT JOIN kagg k USING (doc_id)
            ),
            thr AS (SELECT round(quantile_cont(ce, 1.0/3), 6) AS t1,
                           round(quantile_cont(ce, 2.0/3), 6) AS t2
                    FROM hb)
            SELECT 'signals' AS variant, doc_id,
                   round((len_score + punct_score + stop_score +
                          CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.25 END
                         ) / 4.0, 6) AS metric,
                   '_' AS label
            FROM sc
            UNION ALL
            SELECT 'ccnet' AS variant, doc_id,
                   COALESCE(ce, -1.0) AS metric,
                   CASE WHEN ce IS NULL THEN 'unscored'
                        WHEN ce <= thr.t1 THEN 'head'
                        WHEN ce <= thr.t2 THEN 'middle'
                        ELSE 'tail' END AS label
            FROM hb, thr
        """,
        "line_dedup": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0
                          THEN text || chr(10) || 'subscribe to our newsletter'
                          ELSE text END AS text
              FROM documents
            ),
            p AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d),
            l AS (
              SELECT doc_id, parts[s.i] AS line, s.i AS pos
              FROM p, LATERAL unnest(generate_series(1, len(parts))) AS s(i)
            ),
            hot AS (SELECT line FROM l GROUP BY line
                    HAVING count(DISTINCT doc_id) >= 2),
            kept AS (SELECT doc_id, line, pos FROM l
                     WHERE line NOT IN (SELECT line FROM hot)),
            agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos)
                      AS text FROM kept GROUP BY doc_id)
            SELECT d.doc_id, coalesce(a.text, '') AS text
            FROM d LEFT JOIN agg a USING (doc_id)
        """,
        "exact_substr": """
            -- duplicated-position definition replayed literally: a
            -- 40-gram (exact text) occurring >= 2 times anywhere
            -- marks its 40-char coverage; covered positions merge
            -- into maximal islands.  Both engine strategies must
            -- produce THIS result, so it is emitted under both tags.
            WITH pidx AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, length(text) - 39)) AS pos
              FROM documents WHERE length(text) >= 40
            ),
            pos AS (
              SELECT doc_id, pos, substr(text, pos, 40) AS gram FROM pidx
            ),
            dup AS (SELECT gram FROM pos GROUP BY gram
                    HAVING count(*) >= 2),
            dpos AS (SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (gram)),
            ord AS (
              SELECT doc_id, pos,
                     max(pos + 39) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_end
              FROM dpos
            ),
            isl AS (
              SELECT doc_id, pos,
                     CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                          THEN 1 ELSE 0 END AS brk
              FROM ord
            ),
            grp AS (
              SELECT doc_id, pos,
                     sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
              FROM isl
            ),
            spans AS (
              SELECT doc_id,
                     CAST(min(pos) - 1 AS INT) AS span_start,
                     CAST(max(pos) + 39 AS INT) AS span_end
              FROM grp GROUP BY doc_id, g
            )
            SELECT 'exact' AS variant, doc_id, span_start, span_end
            FROM spans
            UNION ALL
            SELECT 'anchored' AS variant, doc_id, span_start, span_end
            FROM spans
        """,
        "decontaminate": """
            WITH tok AS (SELECT doc_id,
                                string_split_regex(trim(text), '\\s+') AS t
                         FROM documents),
            ng AS (
              SELECT DISTINCT doc_id, array_to_string(t[s.i:s.i+7], ' ') AS g
              FROM tok, LATERAL unnest(generate_series(1, len(t) - 7)) AS s(i)
              WHERE len(t) >= 8
            ),
            ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 3)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
            FROM ng JOIN ev USING (g) GROUP BY doc_id
        """,
        "polygonize_area": """
            -- same bounded recursive min-label CCL as the `regions`
            -- oracle (value class floor(v/150)); area == cell count on
            -- grid polygons (holes subtract), region ids = scan-order
            -- dense rank of min y*2^32+x labels
            WITH RECURSIVE r AS (
              SELECT CAST(floor(event_id / 100) AS INT) AS y,
                     CAST(event_id % 100 AS INT) AS x,
                     floor(value / 150) AS v
              FROM events
            ),
            g AS (SELECT y, x, v,
                         CAST(y AS BIGINT) * 4294967296 + x AS lab FROM r),
            offs(dy, dx) AS (VALUES (0,0),(0,1),(0,-1),(1,0),(-1,0)),
            prop AS (
              SELECT y, x, v, lab, 0 AS it FROM g
              UNION ALL
              SELECT t.ny AS y, t.nx AS x, t.v, min(t.lab) AS lab, t.it + 1
              FROM (
                SELECT p.y + o.dy AS ny, p.x + o.dx AS nx, p.v, p.lab, p.it
                FROM prop p, offs o
                WHERE p.it < 600
              ) t JOIN g ON g.y = t.ny AND g.x = t.nx AND g.v = t.v
              GROUP BY t.ny, t.nx, t.v, t.it
            ),
            final AS (SELECT y, x, v, min(lab) AS lab FROM prop GROUP BY y, x, v),
            ranked AS (
              SELECT lab,
                     CAST(dense_rank() OVER (ORDER BY lab) - 1 AS BIGINT)
                       AS region
              FROM (SELECT DISTINCT lab FROM final)
            )
            SELECT r2.region, f.v AS value,
                   CAST(count(*) AS DOUBLE) AS area
            FROM final f JOIN ranked r2 USING (lab)
            GROUP BY r2.region, f.v
        """,
        "viewshed_vis": """
            -- R3 line-of-sight twin: same dominant-axis stepping,
            -- same bilinear interpolation, same strict gradient
            -- comparison, in the same IEEE expression order as
            -- operators/viewshed.py — doubles match bit-for-bit
            WITH r AS ({SQL_EVENTS_RASTER}),
            dims AS (SELECT max(y) AS my, max(x) AS mx FROM r),
            o AS (SELECT least(5, my) AS oy, 50 AS ox, my, mx FROM dims),
            vp AS (SELECT o.oy, o.ox, o.my, o.mx, r.value + 50.0 AS vpe
                   FROM o JOIN r ON r.y = o.oy AND r.x = o.ox),
            t AS (SELECT r.y, r.x, r.value AS tz, vp.oy, vp.ox, vp.my,
                         vp.mx, vp.vpe,
                         greatest(abs(r.y - vp.oy), abs(r.x - vp.ox)) AS n,
                         sqrt(CAST((r.x - vp.ox)*(r.x - vp.ox)
                                 + (r.y - vp.oy)*(r.y - vp.oy) AS DOUBLE))
                           AS dist
                  FROM r, vp),
            tg AS (SELECT *, (tz + 0.0 - vpe) / greatest(dist, 1e-300)
                     AS tgrad FROM t),
            st AS (
              SELECT tg.*, s.k,
                     CAST(tg.oy AS DOUBLE)
                       + (CAST(tg.y - tg.oy AS DOUBLE) / greatest(tg.n, 1))
                         * s.k AS py,
                     CAST(tg.ox AS DOUBLE)
                       + (CAST(tg.x - tg.ox AS DOUBLE) / greatest(tg.n, 1))
                         * s.k AS px
              FROM tg, LATERAL unnest(generate_series(1, tg.n - 1)) AS s(k)
              WHERE tg.n > 1
            ),
            ip AS (
              SELECT st.y, st.x, st.tgrad, st.vpe,
                     CAST(floor(st.py) AS INT) AS y0,
                     CAST(floor(st.px) AS INT) AS x0,
                     st.py - floor(st.py) AS wy, st.px - floor(st.px) AS wx,
                     least(CAST(floor(st.py) AS INT) + 1, st.my) AS y1,
                     least(CAST(floor(st.px) AS INT) + 1, st.mx) AS x1,
                     sqrt((CAST(st.y - st.oy AS DOUBLE) / greatest(st.n,1)
                            * st.k)
                        * (CAST(st.y - st.oy AS DOUBLE) / greatest(st.n,1)
                            * st.k)
                        + (CAST(st.x - st.ox AS DOUBLE) / greatest(st.n,1)
                            * st.k)
                        * (CAST(st.x - st.ox AS DOUBLE) / greatest(st.n,1)
                            * st.k)) AS ds
              FROM st
            ),
            zs AS (
              SELECT ip.y, ip.x, ip.tgrad, ip.ds, ip.vpe,
                     a.value * (1 - ip.wy) * (1 - ip.wx)
                   + b.value * (1 - ip.wy) * ip.wx
                   + c.value * ip.wy * (1 - ip.wx)
                   + d.value * ip.wy * ip.wx AS z
              FROM ip
              JOIN r a ON a.y = ip.y0 AND a.x = ip.x0
              JOIN r b ON b.y = ip.y0 AND b.x = ip.x1
              JOIN r c ON c.y = ip.y1 AND c.x = ip.x0
              JOIN r d ON d.y = ip.y1 AND d.x = ip.x1
            ),
            blocked AS (
              SELECT DISTINCT y, x FROM zs
              WHERE (z - vpe) / greatest(ds, 1e-300) > tgrad
            )
            SELECT t.y, t.x,
                   CASE WHEN b.y IS NOT NULL THEN 0 ELSE 1 END AS visible
            FROM t LEFT JOIN blocked b ON b.y = t.y AND b.x = t.x
        """.replace("{SQL_EVENTS_RASTER}", SQL_EVENTS_RASTER),
        "repetition": """
            WITH d AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0
                          THEN text || chr(10) || 'repeat me'
                               || chr(10) || 'repeat me'
                          ELSE text END AS text
              FROM documents
            ),
            t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
            m AS (
              SELECT doc_id, len(ls) AS n, len(list_distinct(ls)) AS nd,
                     list_sum(list_transform(ls,
                       x -> CAST(length(x) AS BIGINT))) AS total,
                     list_sum(list_transform(list_distinct(ls),
                       x -> CAST(length(x) AS BIGINT))) AS dtotal
              FROM t
            )
            SELECT doc_id,
              round(CASE WHEN n > 1
                         THEN (n - nd) / CAST(n AS DOUBLE)
                         ELSE 0.0 END, 6) AS dup_line_frac,
              round(CASE WHEN total > 0
                         THEN (total - dtotal) / CAST(total AS DOUBLE)
                         ELSE 0.0 END, 6) AS dup_char_frac
            FROM m
        """,
        "zonal_stats_tiled": """
            WITH r AS ({SQL_EVENTS_RASTER}),
            z AS (SELECT CAST(floor(y / 20) * 5 + floor(x / 20) AS BIGINT)
                    AS zone, value FROM r),
            h AS (SELECT zone, value AS v, count(*) AS c
                  FROM z GROUP BY zone, value),
            -- two-pass var: mean first, then sum((v-mean)^2 * c).
            -- Mirrors _finals_from_hist (operators/zonal.py) so the
            -- round(...,6) projection is ~1e-11 from the Spark value
            -- instead of a summation-order midpoint lottery.
            m2 AS (SELECT zone, sum(v * c) / sum(c) AS mean
                   FROM h GROUP BY zone),
            f AS (
              SELECT h.zone,
                     CAST(sum(c) AS BIGINT) AS count,
                     sum(v * c) AS s, min(v) AS mn, max(v) AS mx,
                     sum((v - m2.mean) * (v - m2.mean) * c) AS wss,
                     min(struct_pack(n := -c, v := v)) AS m
              FROM h JOIN m2 ON h.zone = m2.zone GROUP BY h.zone
            )
            SELECT zone,
                   round(s / count, 6) AS mean,
                   round(mx, 6) AS max, round(mn, 6) AS min,
                   round(s, 4) AS sum,
                   round(sqrt(greatest(wss / count, 0.0)), 6) AS std,
                   round(greatest(wss / count, 0.0), 6) AS var,
                   count,
                   round(m.v, 6) AS majority
            FROM f
        """.replace("{SQL_EVENTS_RASTER}", SQL_EVENTS_RASTER),
        "ivf_topk": """
            -- n_probe = n_centroids in q_ivf_topk => every query scans
            -- every bucket => IVF is EXACT; brute-force is the oracle
            -- (same tie-break: cosine desc, vec_id asc)
            WITH q AS (SELECT vec_id AS query_id,
                              CAST(embedding AS DOUBLE[]) AS qv
                       FROM embeddings WHERE vec_id % 200 = 7),
            s AS (
              SELECT q.query_id, e.vec_id,
                     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
                       AS cos
              FROM embeddings e CROSS JOIN q
            ),
            rk AS (
              SELECT query_id, vec_id, cos,
                     CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
              FROM s
            )
            SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
            FROM rk WHERE rank <= 5
        """,
        "hotspots": f"""
            -- focal.hotspots: plus-kernel weighted mean, z vs global
            -- mean/std, 90/95/99 ladder.  The numpy conv propagates
            -- NaN through ZERO-weight corners too, so any cell whose
            -- full 3x3 window leaves the raster classifies as 0 —
            -- purely geometric on this dense rectangle.
            WITH r AS ({SQL_EVENTS_RASTER}),
            dims AS (SELECT max(y) AS my, max(x) AS mx FROM r),
            g AS (SELECT avg(value) AS gm, stddev_pop(value) AS gs FROM r),
            offs(dy, dx) AS (VALUES (0,0),(0,1),(0,-1),(1,0),(-1,0)),
            conv AS (
              SELECT p.y, p.x, sum(n.value * 0.2) AS c
              FROM r p JOIN offs o ON TRUE
                   JOIN r n ON n.y = p.y + o.dy AND n.x = p.x + o.dx
              GROUP BY p.y, p.x
            ),
            z AS (
              SELECT CASE WHEN c.y >= 1 AND c.y <= d.my - 1
                           AND c.x >= 1 AND c.x <= d.mx - 1
                          THEN (c.c - g.gm) / g.gs END AS z
              FROM conv c, dims d, g
            ),
            k AS (
              SELECT CASE WHEN z IS NULL THEN 0.0
                          WHEN abs(z) > 2.58 THEN 99.0 * sign(z)
                          WHEN abs(z) > 1.96 THEN 95.0 * sign(z)
                          WHEN abs(z) > 1.65 THEN 90.0 * sign(z)
                          ELSE 0.0 END AS cls
              FROM z
            )
            SELECT cls, CAST(count(*) AS BIGINT) AS n FROM k GROUP BY cls
        """,
        "a_star_cost": f"""
            -- bounded Bellman-Ford over the passable grid graph
            -- (8-conn, steps 1 / sqrt(2) like math.hypot): each
            -- iteration relaxes every reached cell through its
            -- neighbors (self-offset keeps the incumbent), min per
            -- cell; shortest-path total converges well inside the
            -- iteration bound (path is ~O(H+W) steps on this raster)
            WITH RECURSIVE r AS ({SQL_EVENTS_RASTER}),
            dims AS (SELECT max(y) AS my FROM r),
            p AS (
              SELECT y, x FROM r, dims
              WHERE NOT (CAST(floor(value) AS BIGINT) % 5 = 0
                         AND NOT (y = 0 AND x = 0)
                         AND NOT (y = my AND x = 80))
            ),
            offs(dy, dx, w) AS (VALUES
              (0,1,1.0),(0,-1,1.0),(1,0,1.0),(-1,0,1.0),
              (1,1,sqrt(2.0)),(1,-1,sqrt(2.0)),
              (-1,1,sqrt(2.0)),(-1,-1,sqrt(2.0)),(0,0,0.0)),
            bf AS (
              SELECT 0 AS y, 0 AS x, CAST(0.0 AS DOUBLE) AS dist, 0 AS it
              UNION ALL
              SELECT t.ny AS y, t.nx AS x, min(t.d) AS dist, t.it + 1
              FROM (
                SELECT b.y + o.dy AS ny, b.x + o.dx AS nx,
                       b.dist + o.w AS d, b.it
                FROM bf b, offs o WHERE b.it < 400
              ) t JOIN p ON p.y = t.ny AND p.x = t.nx
              GROUP BY t.ny, t.nx, t.it
            )
            SELECT round(min(dist), 6) AS total_cost
            FROM bf, dims WHERE y = my AND x = 80
        """,
        "pyramid": _pyramid_oracle(),
        "redact": f"""
            WITH p AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 = 0 THEN text || ' contact bob@example.com'
                     WHEN doc_id % 4 = 1 THEN text || ' from 10.0.42.7 today'
                     WHEN doc_id % 4 = 2 THEN text || ' call +1 (555) 123-4567 now'
                     WHEN doc_id % 8 = 3 THEN text || ' pay 4111 1111 1111 1111 now'
                     ELSE text || ' ref 4111-1111-1111-1112 x' END AS text
              FROM documents
            )
            SELECT doc_id, {tx.redact_pii_sql("text")} AS redacted,
                   {tx.redact_cards_sql("text")} AS card_redacted
            FROM p
        """,
        "gopher": _gopher_oracle(),
        "corpus": _corpus_oracle(),
        "pagerank": _pagerank_oracle(),
        "tfidf": """
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE string_split_regex(trim(text), '\\s+') END AS toks
              FROM documents
            ),
            terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
            tf AS (SELECT doc_id, term, count(*) AS tc
                   FROM terms GROUP BY doc_id, term),
            dl AS (SELECT doc_id, count(*) AS dln
                   FROM terms GROUP BY doc_id),
            dfq AS (SELECT term, count(DISTINCT doc_id) AS dfc
                    FROM terms GROUP BY term),
            n AS (SELECT count(DISTINCT doc_id) AS N FROM documents),
            s AS (
              SELECT tf.doc_id, tf.term,
                (tf.tc / CAST(dl.dln AS DOUBLE))
                  * (ln((n.N + 1) / CAST(dfq.dfc + 1 AS DOUBLE)) + 1.0)
                  AS tfidf
              FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term), n
            ),
            r AS (
              SELECT doc_id, term, tfidf,
                CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY tfidf DESC, term ASC) AS INT) AS rank
              FROM s
            )
            SELECT doc_id, term, round(tfidf, 6) AS tf_idf, rank
            FROM r WHERE rank <= 3
        """,
        # the whole rolling-window pipeline in SQL, grouped on the
        # window STRING (Spark groups on xxhash64 of it — results
        # agree unless xxhash collides, which the hash check would
        # expose); same planting, owner rule, and interval merge
        "geoindex": f"""
            WITH d AS (
              SELECT doc_id, {SQL_LAT} AS la, {SQL_LON} AS lo FROM documents
            ),
            t AS (
              SELECT doc_id, la, lo,
                     {_sql_tile_x(9, "lo")} AS tx,
                     {_sql_tile_y(9, "la")} AS ty
              FROM d
            ),
            e AS (
              SELECT doc_id,
                     {geoindex.geohash_sql("la", "lo", 7)} AS gh,
                     {geoindex.quadkey_sql("tx", "ty", 9)} AS qk
              FROM t
            )
            SELECT 'doc' AS variant, CAST(doc_id AS BIGINT) AS k,
                   gh AS a, qk AS b
            FROM e
            UNION ALL
            SELECT 'gh3' AS variant, CAST(count(*) AS BIGINT) AS k,
                   substr(gh, 1, 3) AS a, min(qk) AS b
            FROM e GROUP BY substr(gh, 1, 3)
        """,
        "substring_dedup": f"""
            WITH p AS (
              SELECT doc_id,
                text
                  || {" || ".join(
                        "' g' || CAST(doc_id % 40 AS VARCHAR) || 't"
                        + str(j) + "'" for j in range(12))}
                  || CASE WHEN doc_id % 5 = 0
                          THEN '{SUBSTR_BOILER}' ELSE '' END AS text
              FROM documents
            ),
            t AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\\s+') AS toks
              FROM p
            ),
            idx AS (
              SELECT doc_id, toks,
                     unnest(range(0, len(toks) - 7)) AS pos
              FROM t WHERE len(toks) >= 8
            ),
            w AS (
              SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                     array_to_string(toks[pos + 1 : pos + 8], ' ') AS wstr
              FROM idx
            ),
            s AS (
              SELECT wstr, min(doc_id * 1048576 + pos) AS owner
              FROM w GROUP BY wstr HAVING count(*) >= 2
            ),
            d AS (
              SELECT w.doc_id, w.pos
              FROM w JOIN s USING (wstr)
              WHERE w.doc_id * 1048576 + w.pos <> s.owner
            ),
            m AS (
              SELECT doc_id, pos,
                CASE WHEN pos > coalesce(max(pos + 8) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       -1)
                     THEN 1 ELSE 0 END AS newg
              FROM d
            ),
            g AS (
              SELECT doc_id, pos,
                     sum(newg) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
              FROM m
            )
            SELECT doc_id, min(pos) AS start_tok,
                   max(pos) + 8 AS end_tok, count(*) AS n_windows
            FROM g GROUP BY doc_id, grp
        """,
        # warc_roundtrip parses what it rendered, so the oracle is the
        # synthesized source itself — any render/parse byte drift
        # breaks the hash
        "warc_roundtrip": """
            SELECT
              'https://'
                || CASE WHEN doc_id % 11 = 0 THEN 'user@' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END
                || 'site' || CAST(doc_id % 50 AS VARCHAR)
                || CASE WHEN doc_id % 3 = 0 THEN '.example.com'
                        WHEN doc_id % 3 = 1 THEN '.example.co.uk'
                        ELSE '.org' END
                || CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END
                || '/a/b/' || CAST(doc_id AS VARCHAR) AS url,
              '2026-06-01T00:00:'
                || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || 'Z'
                AS warc_ts,
              CAST(strlen('<html><body>' || text || '</body></html>')
                   AS INT) AS n_bytes,
              text
            FROM documents
        """,
        "bm25": _bm25_sql(5),
        # same corpus-side BM25 math at k=7 — the Spark side answers it
        # from the postings ARTIFACT (build->encode->prune->decode)
        "search_index": _bm25_sql(7),
        # asof oracle: DuckDB's NATIVE ASOF JOIN operator (an
        # independent engine implementation of the semantics, not a
        # replay of our union-window plan) + its IEJoin range join.
        # 'fwd' tolerance is a post-match CASE: the nearest candidate
        # is by definition the closest, so match-then-void equals
        # match-within-tolerance exactly (pandas merge_asof rule).
        "asof": """
            WITH l AS (SELECT event_id, user_id, ts FROM events),
            clk AS (
              SELECT user_id, ts, max(value) AS snap
              FROM events WHERE event_type = 'click'
              GROUP BY user_id, ts
            ),
            pur AS (
              SELECT user_id, epoch_us(ts) AS us, max(value) AS snap
              FROM events WHERE event_type = 'purchase'
              GROUP BY user_id, epoch_us(ts)
            ),
            lu AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM l),
            p AS (SELECT doc_id, lang, (doc_id * 7919) % 100000 AS p
                  FROM documents),
            iv AS (
              SELECT doc_id AS iv_id, lang,
                     (doc_id * 13) % 100000 AS lo,
                     (doc_id * 13) % 100000 + (n_chars % 2000) AS hi
              FROM documents WHERE doc_id % 10 = 0
            )
            SELECT 'asof' AS variant, CAST(l.event_id AS BIGINT) AS k,
                   coalesce(epoch_us(clk.ts), -1) AS a,
                   coalesce(clk.snap, -1.0) AS b
            FROM l ASOF LEFT JOIN clk
              ON l.user_id = clk.user_id AND l.ts >= clk.ts
            UNION ALL
            SELECT 'fwd', CAST(lu.event_id AS BIGINT),
                   coalesce(CASE WHEN pur.us - lu.us
                                      <= CAST(21600000000 AS BIGINT)
                                 THEN pur.us END, -1),
                   coalesce(CASE WHEN pur.us - lu.us
                                      <= CAST(21600000000 AS BIGINT)
                                 THEN pur.snap END, -1.0)
            FROM lu ASOF LEFT JOIN pur
              ON lu.user_id = pur.user_id AND lu.us <= pur.us
            UNION ALL
            SELECT 'ival', CAST(p.doc_id AS BIGINT),
                   count(iv.iv_id),
                   CAST(coalesce(sum(iv.iv_id), 0) AS DOUBLE)
            FROM p LEFT JOIN iv
              ON p.lang = iv.lang AND p.p BETWEEN iv.lo AND iv.hi
            GROUP BY p.doc_id
        """,
        # retrieval_eval oracle: the trec_eval formulas replayed
        # through DuckDB's own window engine (row_number + running
        # sum), same (score DESC, doc_id ASC) tiebreak; queries with
        # no relevant judgment drop via the truth inner join.
        "retrieval_eval": """
            WITH d AS (
              SELECT doc_id, doc_id % 20 AS query_id FROM documents
            ),
            runs AS (
              SELECT query_id, doc_id,
                     CAST((doc_id * 37) % 100 AS DOUBLE) AS score
              FROM d WHERE doc_id % 5 <> 0
            ),
            qrels AS (
              SELECT query_id, doc_id,
                     CASE doc_id % 7 WHEN 0 THEN 2 WHEN 1 THEN 1
                          ELSE 0 END AS rel
              FROM d WHERE doc_id % 2 = 0
            ),
            ranked AS (
              SELECT r.query_id, r.doc_id, coalesce(s.rel, 0) AS rel,
                     row_number() OVER (
                       PARTITION BY r.query_id
                       ORDER BY r.score DESC, r.doc_id ASC) AS rnk,
                     sum(CASE WHEN coalesce(s.rel, 0) > 0
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY r.query_id
                       ORDER BY r.score DESC, r.doc_id ASC
                       ROWS UNBOUNDED PRECEDING) AS cumhits
              FROM runs r
              LEFT JOIN qrels s USING (query_id, doc_id)
            ),
            truth AS (
              SELECT query_id, count(*) AS n_rel,
                     sum(CASE WHEN irank <= 10 THEN
                           (pow(2.0, rel) - 1) / log2(irank + 1)
                         ELSE 0 END) AS idcg
              FROM (SELECT query_id, rel,
                           row_number() OVER (
                             PARTITION BY query_id
                             ORDER BY rel DESC, doc_id ASC) AS irank
                    FROM qrels WHERE rel > 0)
              GROUP BY query_id
            ),
            pq AS (
              SELECT g.query_id, g.n_ret, t.n_rel, g.p_at_k,
                     g.hits_k / CAST(t.n_rel AS DOUBLE) AS r_at_k,
                     g.rr, g.ap_num / t.n_rel AS ap,
                     g.dcg / t.idcg AS ndcg
              FROM (
                SELECT query_id, count(*) AS n_ret,
                       sum(CASE WHEN rnk <= 10 AND rel > 0
                                THEN 1 ELSE 0 END) / 10.0 AS p_at_k,
                       sum(CASE WHEN rnk <= 10 AND rel > 0
                                THEN 1 ELSE 0 END) AS hits_k,
                       coalesce(max(CASE WHEN rel > 0
                                         THEN 1.0 / rnk END), 0.0) AS rr,
                       sum(CASE WHEN rel > 0
                                THEN CAST(cumhits AS DOUBLE) / rnk
                                ELSE 0 END) AS ap_num,
                       sum(CASE WHEN rnk <= 10 AND rel > 0 THEN
                             (pow(2.0, rel) - 1) / log2(rnk + 1)
                           ELSE 0 END) AS dcg
                FROM ranked GROUP BY query_id
              ) g JOIN truth t USING (query_id)
            )
            SELECT 'q' AS variant, CAST(query_id AS BIGINT) AS k,
                   CAST(n_ret AS BIGINT) AS n_ret,
                   CAST(n_rel AS BIGINT) AS n_rel,
                   p_at_k, r_at_k, rr, ap, ndcg
            FROM pq
            UNION ALL
            SELECT 'macro', -1, count(*), -1, avg(p_at_k),
                   avg(r_at_k), avg(rr), avg(ap), avg(ndcg)
            FROM pq
        """,
        # ip_geo oracle: plain BETWEEN range join on the numeric value
        # + the integer-division dotted-quad render, so it pins both
        # string directions AND the interval-join containment.
        "ip_geo": """
            WITH ips AS (
              SELECT doc_id,
                     (doc_id * 2654435761) % 4294967296 AS ipn
              FROM documents
            ),
            fmt AS (
              SELECT doc_id, ipn,
                     concat_ws('.', (ipn // 16777216) % 256,
                               (ipn // 65536) % 256,
                               (ipn // 256) % 256, ipn % 256) AS ip
              FROM ips
            ),
            rg AS (
              SELECT doc_id AS range_id,
                     (doc_id * 1103515245) % 4294967296 AS lo,
                     least((doc_id * 1103515245) % 4294967296
                           + ((doc_id * 97) % 65536) * 16,
                           4294967295) AS hi
              FROM documents WHERE doc_id % 11 = 0
            )
            SELECT f.doc_id AS k, f.ip, count(r.range_id) AS n,
                   coalesce(sum(r.range_id), -1) AS s
            FROM fmt f LEFT JOIN rg r ON f.ipn BETWEEN r.lo AND r.hi
            GROUP BY f.doc_id, f.ip
        """,
        "spatial_autocorr": f"""
            WITH c AS (
              SELECT {z4x} AS x, {z4y} AS y,
                     CAST(sum(n_chars) AS DOUBLE) AS v
              FROM documents GROUP BY 1, 2
            ),
            st AS (
              SELECT CAST(count(*) AS DOUBLE) AS n, avg(v) AS mean,
                     var_pop(v) * count(*) AS m2
              FROM c
            ),{_autocorr_variant('q', 'queen')},{_autocorr_variant('r', 'rook')}
            {_autocorr_select('q', 'queen')}
            UNION ALL
            {_autocorr_select('r', 'rook')}
        """,
        "dbscan": f"""
            WITH RECURSIVE pts AS (
              SELECT doc_id AS id, {SQL_LON} AS x, {SQL_LAT} AS y
              FROM documents
            ),
            pairs AS (
              SELECT a.id AS ai, b.id AS bi
              FROM pts a JOIN pts b ON a.id <> b.id
               AND (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) <= {DBSCAN_EPS * DBSCAN_EPS!r}
            ),
            core AS (
              SELECT ai AS id FROM pairs
              GROUP BY 1 HAVING count(*) + 1 >= {DBSCAN_MIN_PTS}
            ),
            ce AS (
              SELECT p.ai, p.bi FROM pairs p
              JOIN core c1 ON p.ai = c1.id JOIN core c2 ON p.bi = c2.id
            ),
            reach(ai, bi) AS (
              SELECT id, id FROM core
              UNION
              SELECT r.ai, e.bi FROM reach r JOIN ce e ON r.bi = e.ai
            ),
            lbl AS (SELECT ai AS id, min(bi) AS cluster FROM reach GROUP BY 1),
            border AS (
              SELECT p.ai AS id, min(l.cluster) AS cluster
              FROM pairs p
              JOIN core c ON p.bi = c.id
              JOIN lbl l ON l.id = p.bi
              WHERE p.ai NOT IN (SELECT id FROM core)
              GROUP BY 1
            )
            SELECT p.id AS doc_id,
                   CASE WHEN p.id IN (SELECT id FROM core)
                        THEN 1 ELSE 0 END AS is_core,
                   CAST(coalesce(l.cluster, b.cluster) AS BIGINT) AS cluster
            FROM pts p
            LEFT JOIN lbl l ON l.id = p.id
            LEFT JOIN border b ON b.id = p.id
        """,
        "kde": f"""
            WITH c AS (
              SELECT {z5x} AS x, {z5y} AS y,
                     CAST(count(*) AS DOUBLE) AS v
              FROM documents GROUP BY 1, 2
            ),
            k(dx, dy, w) AS (VALUES {kde_lits})
            SELECT x + dx AS tile_x, y + dy AS tile_y,
                   sum(v * w) AS density
            FROM c CROSS JOIN k GROUP BY 1, 2
        """,
        # local_moran: identical Anselin formulas; b2 computed directly
        # from central sums (Spark rides kurtosis()+3 — same value to
        # ~1e-12, absorbed by the float32 casts)
        "local_moran": f"""
            WITH c AS (
              SELECT {z4x} AS x, {z4y} AS y,
                     CAST(sum(n_chars) AS DOUBLE) AS v
              FROM documents GROUP BY 1, 2
            ),
            st AS (
              SELECT CAST(count(*) AS DOUBLE) AS n, avg(v) AS mean,
                     var_pop(v) * count(*) AS m2s
              FROM c
            ),
            b2t AS (
              SELECT (sum(power(c.v - st.mean, 4)) / st.n)
                     / power(st.m2s / st.n, 2) AS b2
              FROM c, st GROUP BY st.n, st.m2s
            ),
            ofs(dx, dy) AS (VALUES {', '.join(f'({dx},{dy})' for dx, dy in _offsets('queen'))}),
            pc AS (
              SELECT a.x, a.y, CAST(count(*) AS DOUBLE) AS deg,
                     sum(b.v) AS sum_vn
              FROM c a CROSS JOIN ofs JOIN c b
                ON b.x = a.x + ofs.dx AND b.y = a.y + ofs.dy
              GROUP BY 1, 2
            ),
            j AS (
              SELECT c.x, c.y, c.v,
                     coalesce(pc.deg, 0) AS deg,
                     coalesce(pc.sum_vn, 0) AS sum_vn,
                     st.n, st.mean, st.m2s, b2t.b2
              FROM c LEFT JOIN pc ON pc.x = c.x AND pc.y = c.y, st, b2t
            ),
            e AS (
              SELECT *,
                     m2s / n AS m2,
                     v - mean AS z,
                     sum_vn - deg * mean AS lag,
                     CASE WHEN deg > 0 THEN -deg / (n - 1.0) END AS e_i,
                     deg * (n - b2) / (n - 1.0)
                       + (deg * deg - deg) * (2.0 * b2 - n)
                         / ((n - 1.0) * (n - 2.0))
                       - (deg * deg) / ((n - 1.0) * (n - 1.0)) AS var_i
              FROM j
            )
            SELECT x AS tile_x, y AS tile_y, CAST(deg AS INT) AS deg,
                   CAST(lag AS FLOAT) AS lag,
                   CAST(CASE WHEN m2s > 0 THEN z / m2 * lag END AS FLOAT)
                     AS local_i,
                   CAST(CASE WHEN m2s > 0 AND deg > 0 AND n > 2 AND var_i > 0
                        THEN (z / m2 * lag - e_i) / sqrt(var_i) END AS FLOAT)
                     AS z_i,
                   CASE WHEN deg = 0 THEN NULL
                        WHEN z >= 0 AND lag >= 0 THEN 'HH'
                        WHEN z < 0 AND lag < 0 THEN 'LL'
                        WHEN z >= 0 THEN 'HL'
                        ELSE 'LH' END AS quadrant
            FROM e
        """,
        # getis_ord: identical Ord & Getis 1995 Gi* formula per
        # contiguity variant; gi_star float32 (mean/var merge order)
        "getis_ord": f"""
            WITH c AS (
              SELECT {z4x} AS x, {z4y} AS y,
                     CAST(sum(n_chars) AS DOUBLE) AS v
              FROM documents GROUP BY 1, 2
            ),
            st AS (
              SELECT CAST(count(*) AS DOUBLE) AS n, avg(v) AS mean,
                     var_pop(v) AS varp
              FROM c
            ),{_gi_variant('q', 'queen')},{_gi_variant('r', 'rook')}
            {_gi_select('q', 'queen')}
            UNION ALL
            {_gi_select('r', 'rook')}
        """,
        # join_counts: exact integer BB/BW/WW counts + the first-
        # principles free-sampling moments (same rational expressions
        # of the same integers; float32 belt-and-braces)
        "join_counts": f"""
            WITH c AS (
              SELECT {z4x} AS x, {z4y} AS y,
                     CAST(count(*) % 2 AS DOUBLE) AS v
              FROM documents GROUP BY 1, 2
            ),
            st AS (
              SELECT CAST(count(*) AS DOUBLE) AS n, sum(v) AS n1 FROM c
            ),{_jc_variant('q', 'queen')},{_jc_variant('r', 'rook')}
            {_jc_select('q', 'queen')}
            UNION ALL
            {_jc_select('r', 'rook')}
        """,
        # centrography: one scalar aggregate per variant, identical
        # closed forms; float32 everywhere (sum merge-order noise)
        "centrography": f"""
            WITH p AS (
              SELECT {SQL_LON} AS x, {SQL_LAT} AS y,
                     CAST(n_chars AS DOUBLE) AS w
              FROM documents
            ),
            au AS (
              SELECT CAST(count(*) AS BIGINT) AS n, sum(1.0) AS ws,
                     sum(1.0 * x) AS wx, sum(1.0 * y) AS wy,
                     sum(1.0 * x * x) AS wxx, sum(1.0 * y * y) AS wyy,
                     sum(1.0 * x * y) AS wxy
              FROM p
            ),
            aw AS (
              SELECT CAST(count(*) AS BIGINT) AS n, sum(w) AS ws,
                     sum(w * x) AS wx, sum(w * y) AS wy,
                     sum(w * x * x) AS wxx, sum(w * y * y) AS wyy,
                     sum(w * x * y) AS wxy
              FROM p
            )
            {_centro_select('uniform', 'au')}
            UNION ALL
            {_centro_select('weighted', 'aw')}
        """,
        # geoparse: gazetteer construction, tokenizer, and the
        # (boost, population, -place_id) resolution rule replayed
        # verbatim; lat/lon float32 both sides
        "geoparse": f"""
            WITH gaz AS ({_gazetteer_cte()}),
            docs2 AS (
              SELECT d.doc_id,
                     d.text || ' travel to ' || g.name ||
                     CASE WHEN d.doc_id % 3 = 0 THEN ' in ' || g.country
                          ELSE '' END AS text
              FROM documents d JOIN gaz g ON d.doc_id % 200 = g.place_id
            ),
            toks AS (
              SELECT doc_id, t.tok
              FROM docs2, UNNEST(string_split_regex(lower(text),
                                                    '[^a-z]+')) AS t(tok)
              WHERE t.tok <> ''
            ),
            mentions AS (
              SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n_mentions
              FROM toks WHERE tok IN (SELECT name FROM gaz)
              GROUP BY doc_id, tok
            ),
            cmention AS (
              SELECT DISTINCT doc_id, tok AS country FROM toks
              WHERE tok IN (SELECT DISTINCT country FROM gaz)
            ),
            cand AS (
              SELECT m.doc_id, m.tok AS name, m.n_mentions, g.place_id,
                     g.country, g.population, g.lat, g.lon,
                     CASE WHEN c.country IS NOT NULL THEN 1 ELSE 0 END
                       AS boosted
              FROM mentions m
              JOIN gaz g ON g.name = m.tok
              LEFT JOIN cmention c
                ON c.doc_id = m.doc_id AND c.country = g.country
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                  PARTITION BY doc_id, name
                  ORDER BY boosted DESC, population DESC, place_id ASC
                ) AS rn
              FROM cand
            )
            SELECT doc_id, name, place_id, country, population,
                   boosted, n_mentions,
                   CAST(lat AS REAL) AS lat, CAST(lon AS REAL) AS lon
            FROM ranked WHERE rn = 1
        """,
        # kanon: the bottom-up k-anonymity merge rule unrolled one CTE
        # per zoom level — integer counts, bit-exact
        "kanon": _kanon_oracle(),
        # od_gravity: OD flows + haversine between z4 tile centers,
        # mirroring linkgeo.od_matrix operation-for-operation (radians
        # per endpoint, sinh via exp pair); dist float32
        "od_gravity": f"""
            WITH loc AS (
              SELECT doc_id, {_sql_tile_x(4)} AS x, {_sql_tile_y(4)} AS y
              FROM documents
            ),
            od AS (
              SELECT ls.x AS src_x, ls.y AS src_y,
                     ld.x AS dst_x, ld.y AS dst_y,
                     count(*) AS flow
              FROM documents d
              JOIN loc ls ON d.doc_id = ls.doc_id
              JOIN loc ld ON (d.doc_id * 37 + 11) % 499 = ld.doc_id
              GROUP BY 1, 2, 3, 4
            ),
            ctr AS (
              SELECT *,
                radians((src_x + 0.5) / 16.0 * 360.0 - 180.0) AS lon1,
                radians((dst_x + 0.5) / 16.0 * 360.0 - 180.0) AS lon2,
                radians(degrees(atan((exp(pi() * (1.0 - 2.0 * (src_y + 0.5) / 16.0))
                  - exp(-(pi() * (1.0 - 2.0 * (src_y + 0.5) / 16.0)))) / 2.0))) AS lat1,
                radians(degrees(atan((exp(pi() * (1.0 - 2.0 * (dst_y + 0.5) / 16.0))
                  - exp(-(pi() * (1.0 - 2.0 * (dst_y + 0.5) / 16.0)))) / 2.0))) AS lat2
              FROM od
            ),
            o AS (SELECT src_x, src_y, CAST(sum(flow) AS BIGINT) AS o_mass
                  FROM od GROUP BY 1, 2),
            dm AS (SELECT dst_x, dst_y, CAST(sum(flow) AS BIGINT) AS d_mass
                   FROM od GROUP BY 1, 2)
            SELECT c.src_x, c.src_y, c.dst_x, c.dst_y, c.flow,
              CAST(2.0 * 6378137.0 * asin(sqrt(
                pow(sin((lat2 - lat1) / 2), 2)
                + cos(lat1) * cos(lat2) * pow(sin((lon2 - lon1) / 2), 2)
              )) AS REAL) AS dist_m,
              o.o_mass, dm.d_mass
            FROM ctr c
            JOIN o USING (src_x, src_y)
            JOIN dm USING (dst_x, dst_y)
        """,
        # spacetime: Mann-Kendall per z3 cell over daily event counts —
        # S / tie groups are exact integers, slope median interpolates
        # identical doubles; z/slope float32 belt-and-braces
        "spacetime": f"""
            WITH cube AS (
              SELECT {_sql_tile_x(3, SQL_LON.replace('doc_id', 'event_id'))} AS x,
                     {_sql_tile_y(3, SQL_LAT.replace('doc_id', 'event_id'))} AS y,
                     CAST(floor(epoch(ts) / 86400) AS BIGINT) AS t,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2, 3
            ),
            p AS (
              SELECT a.x, a.y,
                     sum(sign(b.v - a.v)) AS s,
                     median((b.v - a.v) / CAST(b.t - a.t AS DOUBLE)) AS slope
              FROM cube a JOIN cube b
                ON a.x = b.x AND a.y = b.y AND a.t < b.t
              GROUP BY 1, 2
            ),
            tg AS (
              SELECT x, y, v, CAST(count(*) AS DOUBLE) AS tgc
              FROM cube GROUP BY 1, 2, 3
            ),
            ties AS (
              SELECT x, y, sum(tgc) AS n,
                     sum(tgc * (tgc - 1) * (2 * tgc + 5)) AS tie_sum
              FROM tg GROUP BY 1, 2
            ),
            j AS (
              SELECT t.x, t.y, t.n, coalesce(p.s, 0) AS s, p.slope,
                     (t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_sum) / 18.0
                       AS var_s
              FROM ties t LEFT JOIN p ON p.x = t.x AND p.y = t.y
            ),
            e AS (
              SELECT *,
                     CASE WHEN n >= 3 AND var_s > 0 THEN
                       CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                            WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                            ELSE 0.0 END
                     END AS z
              FROM j
            )
            SELECT x AS tile_x, y AS tile_y, CAST(n AS INT) AS n_periods,
                   CAST(s AS BIGINT) AS s, CAST(z AS FLOAT) AS z,
                   CAST(slope AS FLOAT) AS slope,
                   CASE WHEN z IS NULL THEN NULL
                        WHEN z > 1.959963984540054 THEN 'increasing'
                        WHEN z < -1.959963984540054 THEN 'decreasing'
                        ELSE 'none' END AS trend
            FROM e
        """,
        # variogram / ripley: brute-force pair joins — integer values
        # make gamma exact; pair counts make K/L one literal flop chain
        "variogram": f"""
            WITH pts AS (
              SELECT doc_id AS id, {SQL_LON} AS x, {SQL_LAT} AS y,
                     CAST(n_chars AS DOUBLE) AS v
              FROM documents
            ),
            p AS (
              SELECT (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) AS d2,
                     a.v - b.v AS dv
              FROM pts a JOIN pts b ON a.id < b.id
              WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                    > 0
                AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                    <= {VARIOGRAM_BIN_W * VARIOGRAM_BINS!r}
                        * {VARIOGRAM_BIN_W * VARIOGRAM_BINS!r}
            ),
            b AS (
              SELECT CAST(least(floor(sqrt(d2) / {VARIOGRAM_BIN_W!r}),
                                {VARIOGRAM_BINS - 1}) AS INT) AS bin,
                     count(*) AS n_pairs,
                     sum(dv * dv) / (2.0 * count(*)) AS gamma
              FROM p GROUP BY 1
            )
            SELECT bin, bin * {VARIOGRAM_BIN_W!r} AS h_lo,
                   (bin + 1) * {VARIOGRAM_BIN_W!r} AS h_hi, n_pairs, gamma
            FROM b
        """,
        "cross_k": f"""
            WITH a AS (
              SELECT {SQL_LON} AS x, {SQL_LAT} AS y FROM documents
              WHERE lang = 'en'
            ),
            b AS (
              SELECT {SQL_LON} AS x, {SQL_LAT} AS y FROM documents
              WHERE lang = 'zh'
            ),
            na AS (SELECT CAST(count(*) AS DOUBLE) AS na FROM a),
            nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM b),
            p AS (
              SELECT (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) AS d2
              FROM a CROSS JOIN b
            ),
            c AS (
              SELECT {', '.join(
                  f"coalesce(sum(CASE WHEN d2 <= {r * r!r} THEN 1 END), 0)"
                  f" AS c{i}"
                  for i, r in enumerate(RIPLEY_RADII))}
              FROM p
            )
            {' UNION ALL '.join(
                f"SELECT {r!r} AS r, CAST(c{i} AS BIGINT) AS n_pairs, "
                f"{360.0 * 170.0!r} * c{i} / (na.na * nb.nb) AS k "
                f"FROM c, na, nb"
                for i, r in enumerate(RIPLEY_RADII))}
        """,
        "ripley": f"""
            WITH pts AS (
              SELECT doc_id AS id, {SQL_LON} AS x, {SQL_LAT} AS y
              FROM documents
            ),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pts),
            p AS (
              SELECT (a.x - b.x) * (a.x - b.x)
                     + (a.y - b.y) * (a.y - b.y) AS d2
              FROM pts a JOIN pts b ON a.id < b.id
            ),
            c AS (
              SELECT {', '.join(
                  f"coalesce(sum(CASE WHEN d2 > 0 AND d2 <= {r * r!r} "
                  f"THEN 1 END), 0) AS c{i}"
                  for i, r in enumerate(RIPLEY_RADII))}
              FROM p
            )
            {' UNION ALL '.join(
                f"SELECT {r!r} AS r, CAST(c{i} AS BIGINT) AS n_pairs, "
                f"{360.0 * 170.0!r} * 2.0 * c{i} / (n.n * (n.n - 1.0)) AS k, "
                f"sqrt({360.0 * 170.0!r} * 2.0 * c{i} / (n.n * (n.n - 1.0))"
                f" / pi()) AS l FROM c, n"
                for i, r in enumerate(RIPLEY_RADII))}
        """,
        "idw": f"""
            WITH tiles AS (
              SELECT DISTINCT {z3x} AS tx, {z3y} AS ty FROM documents
            ),
            tgt AS (
              SELECT (tx + 0.5) / 8 * 360.0 - 180.0 AS x,
                     90.0 - (ty + 0.5) / 8 * 180.0 AS y
              FROM tiles
            ),
            known AS (
              SELECT {SQL_LON} AS kx, {SQL_LAT} AS ky,
                     CAST(n_chars AS DOUBLE) AS kv
              FROM documents
            ),
            cand AS (
              SELECT t.x, t.y, k.kv,
                     (t.x - k.kx) * (t.x - k.kx)
                     + (t.y - k.ky) * (t.y - k.ky) AS d2
              FROM tgt t JOIN known k
                ON (t.x - k.kx) * (t.x - k.kx)
                   + (t.y - k.ky) * (t.y - k.ky) <= {15.0 * 15.0!r}
            ),
            agg AS (
              SELECT x, y, count(*) AS n_neighbors,
                     sum(CASE WHEN d2 = 0 THEN 1 END) AS nhit,
                     avg(CASE WHEN d2 = 0 THEN kv END) AS vhit,
                     sum(CASE WHEN d2 > 0 THEN power(d2, -1.0) * kv END)
                       AS wv,
                     sum(CASE WHEN d2 > 0 THEN power(d2, -1.0) END) AS w
              FROM cand GROUP BY 1, 2
            )
            SELECT t.x, t.y,
                   CAST(coalesce(a.n_neighbors, 0) AS INT) AS n_neighbors,
                   CAST(CASE WHEN a.nhit > 0 THEN a.vhit
                             ELSE a.wv / a.w END AS FLOAT) AS predicted
            FROM tgt t LEFT JOIN agg a ON a.x = t.x AND a.y = t.y
        """,
        "crawl_depth": """
            WITH RECURSIVE e AS (
              SELECT doc_id % 1000 AS src, (doc_id * 31 + 7) % 1000 AS dst
              FROM documents
              UNION ALL
              SELECT doc_id % 1000, (doc_id * 17 + 3) % 97
              FROM documents
            ),
            s(node) AS (VALUES (0), (1), (2)),
            bfs(node, depth) AS (
              SELECT node, 0 FROM s
              UNION
              SELECT e.dst, bfs.depth + 1
              FROM bfs JOIN e ON e.src = bfs.node
              WHERE bfs.depth < 6
            )
            SELECT CAST(node AS BIGINT) AS node,
                   CAST(min(depth) AS INT) AS depth
            FROM bfs GROUP BY node
        """,
        "lm_score": f"""
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                     ELSE string_split_regex(trim(text), '\\s+') END AS toks
              FROM documents
            ),
            uni AS (
              SELECT w1, count(*) AS c1
              FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1
            ),
            v AS (SELECT count(*) AS V FROM uni),
            bgl AS (
              SELECT doc_id,
                list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i + 1]) AS grams,
                list_transform(generate_series(1, len(toks) - 1),
                               i -> toks[i]) AS w1s
              FROM t WHERE len(toks) >= 2
            ),
            bg AS (SELECT doc_id, unnest(grams) AS gram, unnest(w1s) AS w1
                   FROM bgl),
            bic AS (SELECT gram, count(*) AS c12 FROM bg GROUP BY gram),
            j AS (
              SELECT b.doc_id,
                -ln((COALESCE(bc.c12, 0) + 0.5)
                    / (COALESCE(u.c1, 0) + 0.5 * v.V)) AS nll
              FROM bg b LEFT JOIN bic bc USING (gram)
                        LEFT JOIN uni u ON u.w1 = b.w1, v
            ),
            agg AS (SELECT doc_id, count(*) AS n_bigrams, avg(nll) AS h
                    FROM j GROUP BY doc_id),
            -- interpolated Kneser-Ney trigram variant (D = 0.75):
            -- continuation counts at the lower orders, context totals
            -- from observed trigrams, uniform 1/(V+1) base
            {_KN_SQL},
            ids AS (SELECT DISTINCT doc_id FROM documents)
            SELECT 'bigram' AS variant, d.doc_id,
                   COALESCE(a.n_bigrams, 0) AS n_grams,
                   round(a.h, 6) AS cross_entropy
            FROM ids d LEFT JOIN agg a USING (doc_id)
            UNION ALL
            SELECT 'kn3' AS variant, d.doc_id,
                   COALESCE(k.n_grams, 0) AS n_grams,
                   round(k.h, 6) AS cross_entropy
            FROM ids d LEFT JOIN kagg k USING (doc_id)
        """,
        "components": """
            -- min-label fixed point; 12 bounded rounds >= any block
            -- diameter here, and the fixed point is round-count
            -- independent (same invariant as the regions CCL oracle)
            WITH RECURSIVE
            e0 AS (
              SELECT DISTINCT (doc_id % 300) AS src,
                     (doc_id % 300) - ((doc_id % 300) % 10)
                       + ((doc_id % 300 + doc_id) % 10) AS dst
              FROM documents
            ),
            sym AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
            nodes AS (SELECT DISTINCT src AS node FROM sym),
            adj AS (SELECT src, dst FROM sym
                    UNION SELECT node, node FROM nodes),
            cc AS (
              SELECT 0 AS it, node, node AS label FROM nodes
              UNION ALL
              SELECT c.it + 1, a.dst AS node, MIN(c.label) AS label
              FROM cc c JOIN adj a ON a.src = c.node
              WHERE c.it < 12
              GROUP BY c.it, a.dst
            )
            SELECT node, label FROM cc WHERE it = 12
        """,
        "pack": """
            -- greedy sequential packing == window prefix sum cut at
            -- the 5000-token target (doc joins the bin of its start)
            WITH t AS (
              SELECT doc_id,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END
                  AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, n_tokens,
                SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum
              FROM t
            )
            SELECT CAST(floor((cum - n_tokens) / 5000.0) AS BIGINT) AS bin_id,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM c GROUP BY 1
        """,
        "quota": """
            WITH t AS (
              SELECT doc_id, source,
                CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END
                  AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, source, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum
              FROM t
            )
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
            FROM c WHERE cum - n_tokens < 5000 GROUP BY source
        """,
        "snapshot_dedup": """
            -- 'latest': keep-latest per key == row_number twin of the
            -- max_by aggregate (ties broken by event_id, unique)
            SELECT 'latest' AS variant, user_id, event_id,
                   round(value, 6) AS value, '' AS url, '' AS status
            FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                          ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
            UNION ALL
            -- 'diff': change set of two 80%-overlap snapshots
            SELECT 'diff' AS variant, CAST(-1 AS BIGINT) AS user_id,
                   CAST(-1 AS BIGINT) AS event_id,
                   CAST(-1.0 AS DOUBLE) AS value,
                   coalesce(o.url, n.url) AS url,
                   CASE WHEN o.url IS NULL THEN 'added'
                        WHEN n.url IS NULL THEN 'gone'
                        WHEN o.d = n.d THEN 'same'
                        ELSE 'changed' END AS status
            FROM (
              SELECT 'https://h' || CAST(doc_id % 37 AS VARCHAR)
                     || '/p/' || CAST(doc_id AS VARCHAR) AS url,
                     substr(text, 1, 24) AS d
              FROM documents WHERE doc_id % 10 < 8
            ) o FULL OUTER JOIN (
              SELECT 'https://h' || CAST(doc_id % 37 AS VARCHAR)
                     || '/p/' || CAST(doc_id AS VARCHAR) AS url,
                     CASE WHEN doc_id % 5 = 0
                          THEN substr(text, 1, 24) || 'x'
                          ELSE substr(text, 1, 24) END AS d
              FROM documents WHERE doc_id % 10 > 1
            ) n ON o.url = n.url
            UNION ALL
            -- 'iceberg': logical equivalent of two appends + an
            -- equality delete (doc_id %% 9 = 4, strictly-older files
            -- only) + a re-add of half the deleted keys
            SELECT 'iceberg', doc_id, CAST(n_chars AS BIGINT),
                   CAST(-1.0 AS DOUBLE), '', lang
            FROM documents WHERE doc_id % 9 <> 4
            UNION ALL
            SELECT 'iceberg', doc_id, CAST(n_chars AS BIGINT),
                   CAST(-1.0 AS DOUBLE), '', lang
            FROM documents WHERE doc_id % 18 = 4
        """,
        "cdx": """
            -- SURT canonicalization replayed with DuckDB string
            -- functions: scheme/userinfo dropped, host lowered +
            -- www\\d* stripped + labels reversed, default ports
            -- dropped, path lowered ('' -> '/'), fragment dropped
            -- BEFORE query extraction, params lowered and sorted
            WITH caps AS (
              SELECT
                'https://'
                || CASE WHEN doc_id % 11 = 0 THEN 'user@' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN 'WWW.'
                        WHEN doc_id % 7 = 1 THEN 'www2.' ELSE '' END
                || 'Site' || CAST(doc_id % 50 AS VARCHAR)
                || CASE WHEN doc_id % 3 = 0 THEN '.example.com'
                        WHEN doc_id % 3 = 1 THEN '.Example.co.uk'
                        ELSE '.org' END
                || CASE WHEN doc_id % 13 = 0 THEN ':8080'
                        WHEN doc_id % 13 = 1 THEN ':443' ELSE '' END
                || CASE WHEN doc_id % 17 = 0 THEN ''
                        ELSE '/A/b/' || CAST(doc_id AS VARCHAR) END
                || CASE WHEN doc_id % 5 = 0 THEN '?B=2&a=1&' ELSE '' END
                || CASE WHEN doc_id % 4 = 0 THEN '#Frag?x=1' ELSE '' END
                  AS url,
                CAST(20240100000000 + doc_id AS VARCHAR) AS ts,
                text
              FROM documents
            ),
            parts AS (
              SELECT url, ts, text,
                lower(regexp_extract(url,
                  '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                  '^.*@', '') AS nouser,
                lower(regexp_extract(url,
                  '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)', 1))
                  AS rawpath,
                lower(regexp_extract(regexp_replace(url, '#.*', ''),
                  '\\?(.*)', 1)) AS rawq
              FROM caps
            ),
            keyed AS (
              SELECT url, ts, text,
                array_to_string(list_reverse(string_split(
                  regexp_replace(
                    lower(regexp_replace(nouser, ':[0-9]+$', '')),
                    '^www[0-9]*\\.', ''), '.')), ',') AS rev,
                regexp_extract(nouser, ':([0-9]+)$', 1) AS port,
                scheme,
                CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
                array_to_string(list_sort(list_filter(
                  string_split(rawq, '&'), x -> x <> '')), '&') AS sq
              FROM parts
            )
            SELECT
              rev
              || CASE WHEN port <> ''
                       AND NOT (scheme = 'http' AND port = '80')
                       AND NOT (scheme = 'https' AND port = '443')
                      THEN ':' || port ELSE '' END
              || ')' || path
              || CASE WHEN sq <> '' THEN '?' || sq ELSE '' END
                AS surt_key,
              ts, url, sha256(text) AS digest,
              CAST(length(text) AS BIGINT) AS length,
              'text/html' AS mime, CAST(200 AS INT) AS status
            FROM keyed
        """,
        "host_agg": """
            WITH u AS (
              SELECT 'https://'
                || CASE WHEN doc_id % 11 = 0 THEN 'user@' ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN 'WWW.' ELSE '' END
                || 'site' || CAST(doc_id % 50 AS VARCHAR)
                || CASE WHEN doc_id % 3 = 0 THEN '.example.com'
                        WHEN doc_id % 3 = 1 THEN '.example.co.uk'
                        ELSE '.org' END
                || CASE WHEN doc_id % 13 = 0 THEN ':8080' ELSE '' END
                || '/a/b/' || CAST(doc_id AS VARCHAR) AS url,
                n_chars
              FROM documents
            ),
            h AS (
              SELECT lower(regexp_replace(regexp_replace(
                       regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
                       '^.*@', ''), ':[0-9]+$', '')) AS host,
                     regexp_extract(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)', 1) AS p,
                     n_chars
              FROM u
            ),
            d AS (
              SELECT host, n_chars,
                     len(list_filter(string_split(p, '/'), x -> x <> '')) AS pd,
                     string_split(host, '.') AS parts, len(string_split(host, '.')) AS n
              FROM h
            ),
            e AS (
              SELECT host, pd, n_chars,
                     CASE WHEN n >= 3 AND parts[n-1] IN
                            ('co','com','ac','gov','edu','org','net')
                          AND length(parts[n]) = 2
                          THEN array_to_string(parts[n-2:n], '.')
                          ELSE array_to_string(parts[greatest(n-1,1):n], '.') END
                       AS domain
              FROM d
            )
            SELECT 'hosts' AS variant, domain, count(*) AS n_pages,
                   count(DISTINCT host) AS n_hosts,
                   CAST(sum(pd) AS BIGINT) AS sum_depth,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   '' AS lang, '' AS source,
                   CAST(-1 AS BIGINT) AS level,
                   CAST(-1 AS BIGINT) AS n_docs,
                   CAST(-1 AS BIGINT) AS n_tokens,
                   CAST(-1 AS BIGINT) AS doc_chars,
                   CAST(-1.0 AS DOUBLE) AS mean_tokens,
                   CAST(-1 AS INT) AS max_tokens
            FROM e GROUP BY domain
            UNION ALL
            SELECT 'datasheet' AS variant, '' AS domain,
                   CAST(-1 AS BIGINT) AS n_pages,
                   CAST(-1 AS BIGINT) AS n_hosts,
                   CAST(-1 AS BIGINT) AS sum_depth,
                   CAST(-1 AS BIGINT) AS sum_chars,
                   CASE WHEN GROUPING(lang) = 1 THEN '(all)'
                        ELSE coalesce(lang, '(null)') END AS lang,
                   CASE WHEN GROUPING(source) = 1 THEN '(all)'
                        ELSE coalesce(source, '(null)') END AS source,
                   CAST(GROUPING(lang, source) AS BIGINT) AS level,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                        END) AS BIGINT) AS n_tokens,
                   CAST(sum(length(text)) AS BIGINT) AS doc_chars,
                   round(avg(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                        END), 4) AS mean_tokens,
                   CAST(max(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                        END) AS INT) AS max_tokens
            FROM documents GROUP BY ROLLUP (lang, source)
            UNION ALL
            SELECT * FROM (
              WITH dr_old AS (
                SELECT lang, unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                       ELSE string_split_regex(trim(text), '\\s+') END) AS word
                FROM documents WHERE doc_id % 10 < 8
              ),
              dr_new AS (
                SELECT lang, unnest(CASE WHEN trim(t2) = '' THEN []::VARCHAR[]
                       ELSE string_split_regex(trim(t2), '\\s+') END) AS word
                FROM (
                  SELECT lang,
                         CASE WHEN doc_id % 7 = 0
                              THEN 'drift drift tokens ' || lang
                              ELSE text END AS t2
                  FROM documents WHERE doc_id % 10 > 1
                )
              ),
              ho AS (SELECT lang, word, count(*) AS n_old FROM dr_old GROUP BY 1, 2),
              hn AS (SELECT lang, word, count(*) AS n_new FROM dr_new GROUP BY 1, 2),
              jj AS (
                SELECT coalesce(ho.lang, hn.lang) AS lang,
                       coalesce(n_old, 0) AS n_old, coalesce(n_new, 0) AS n_new
                FROM ho FULL OUTER JOIN hn
                  ON ho.lang = hn.lang AND ho.word = hn.word
              ),
              tt AS (
                SELECT lang, sum(n_old) AS t_old, sum(n_new) AS t_new,
                       sum(CASE WHEN n_old > 0 THEN 1 ELSE 0 END) AS vocab_old,
                       sum(CASE WHEN n_new > 0 THEN 1 ELSE 0 END) AS vocab_new
                FROM jj GROUP BY 1
              ),
              js AS (
                SELECT jj.lang,
                  round(sum(
                    CASE WHEN n_old > 0 THEN
                      0.5 * (n_old / t_old)
                      * ln((n_old / t_old) / (((n_old / t_old) + (n_new / t_new)) / 2))
                      ELSE 0 END
                    + CASE WHEN n_new > 0 THEN
                      0.5 * (n_new / t_new)
                      * ln((n_new / t_new) / (((n_old / t_old) + (n_new / t_new)) / 2))
                      ELSE 0 END), 6) AS jsd,
                  any_value(vocab_old) AS vocab_old,
                  any_value(vocab_new) AS vocab_new
                FROM jj JOIN tt ON jj.lang = tt.lang GROUP BY 1
              ),
              dco AS (SELECT lang, count(*) AS docs_old FROM documents
                      WHERE doc_id % 10 < 8 GROUP BY 1),
              dcn AS (SELECT lang, count(*) AS docs_new FROM documents
                      WHERE doc_id % 10 > 1 GROUP BY 1)
              SELECT 'drift' AS variant, '' AS domain,
                     CAST(-1 AS BIGINT) AS n_pages, CAST(-1 AS BIGINT) AS n_hosts,
                     CAST(-1 AS BIGINT) AS sum_depth, CAST(-1 AS BIGINT) AS sum_chars,
                     js.lang, '' AS source, CAST(-1 AS BIGINT) AS level,
                     CAST(docs_old AS BIGINT) AS n_docs,
                     CAST(docs_new AS BIGINT) AS n_tokens,
                     CAST(vocab_old AS BIGINT) AS doc_chars,
                     jsd AS mean_tokens,
                     CAST(vocab_new AS INT) AS max_tokens
              FROM js JOIN dco ON js.lang = dco.lang
                      JOIN dcn ON js.lang = dcn.lang
            )
            UNION ALL
            SELECT 'heavy' AS variant, domain,
                   cnt AS n_pages,
                   CAST(-1 AS BIGINT) AS n_hosts,
                   CAST(-1 AS BIGINT) AS sum_depth,
                   CAST(-1 AS BIGINT) AS sum_chars,
                   '' AS lang, '' AS source,
                   CAST(-1 AS BIGINT) AS level,
                   CAST(1 AS BIGINT) AS n_docs,
                   CAST(-1 AS BIGINT) AS n_tokens,
                   CAST(-1 AS BIGINT) AS doc_chars,
                   CAST(-1.0 AS DOUBLE) AS mean_tokens,
                   CAST(-1 AS INT) AS max_tokens
            FROM (
              SELECT domain, count(*) AS cnt FROM e
              GROUP BY domain ORDER BY cnt DESC, domain ASC LIMIT 2
            )
            UNION ALL
            SELECT 'hll' AS variant, domain,
                   CAST(-1 AS BIGINT) AS n_pages,
                   CAST(-1 AS BIGINT) AS n_hosts,
                   CAST(-1 AS BIGINT) AS sum_depth,
                   CAST(-1 AS BIGINT) AS sum_chars,
                   '' AS lang, '' AS source,
                   CAST(-1 AS BIGINT) AS level,
                   CAST(-1 AS BIGINT) AS n_docs,
                   CAST(-1 AS BIGINT) AS n_tokens,
                   CAST(-1 AS BIGINT) AS doc_chars,
                   CAST(-1.0 AS DOUBLE) AS mean_tokens,
                   CAST(-1 AS INT) AS max_tokens
            FROM (
              SELECT domain FROM e
              GROUP BY domain HAVING count(DISTINCT host) >= 10
            )
            UNION ALL
            SELECT 'kll' AS variant, x.domain, x.n_pages,
                   CAST(-1 AS BIGINT) AS n_hosts,
                   CAST(-1 AS BIGINT) AS sum_depth,
                   CAST(-1 AS BIGINT) AS sum_chars,
                   '' AS lang, '' AS source,
                   CAST(-1 AS BIGINT) AS level,
                   CAST(-1 AS BIGINT) AS n_docs,
                   CAST(-1 AS BIGINT) AS n_tokens,
                   CAST(-1 AS BIGINT) AS doc_chars,
                   CAST(-1.0 AS DOUBLE) AS mean_tokens,
                   CAST(-1 AS INT) AS max_tokens
            FROM (
              SELECT unnest(['q=0.15', 'q=0.35', 'q=0.55',
                             'q=0.75', 'q=0.95']) AS domain,
                     unnest([q15, q35, q55, q75, q95]) AS n_pages
              FROM (
                SELECT CAST(quantile_disc(v, 0.15) AS BIGINT) AS q15,
                       CAST(quantile_disc(v, 0.35) AS BIGINT) AS q35,
                       CAST(quantile_disc(v, 0.55) AS BIGINT) AS q55,
                       CAST(quantile_disc(v, 0.75) AS BIGINT) AS q75,
                       CAST(quantile_disc(v, 0.95) AS BIGINT) AS q95
                FROM (SELECT (doc_id % 10) * 10000 AS v FROM documents)
              )
            ) x
        """,
        "lpa": _lpa_oracle_sql(),
        "revisit": """
            WITH caps AS (
              SELECT doc_id, unnest(range(0, 4)) AS cap FROM documents
            ),
            hist AS (
              SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                     1700000000 + cap * ((doc_id % 2 + 1) * 43200) AS t,
                     CASE WHEN doc_id % 3 = 0 THEN CAST(cap AS VARCHAR)
                          WHEN doc_id % 3 = 1 THEN '0'
                          ELSE CAST(CASE WHEN cap >= 2 THEN 1 ELSE 0 END
                               AS VARCHAR) END AS fp
              FROM caps
            ),
            p AS (
              SELECT url, t, fp,
                     lag(t) OVER (PARTITION BY url ORDER BY t) AS pt,
                     lag(fp) OVER (PARTITION BY url ORDER BY t) AS pfp
              FROM hist
            ),
            a AS (
              SELECT url, count(*) AS n_intervals,
                     CAST(sum(CASE WHEN fp <> pfp THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_changes,
                     avg(CAST(t - pt AS DOUBLE)) AS mean_interval_s
              FROM p WHERE pt IS NOT NULL GROUP BY url
            )
            SELECT url, n_intervals, n_changes, mean_interval_s,
                   round(-ln((n_intervals - n_changes + 0.5)
                             / (n_intervals + 0.5))
                         / mean_interval_s * 86400.0, 6) AS rate_per_day
            FROM a
        """,
        "redirects": """
            WITH nn AS (SELECT DISTINCT doc_id % 256 AS k FROM documents),
            e AS (
              SELECT 'r' || CAST(k AS VARCHAR) AS u,
                     'r' || CAST(k // 2 AS VARCHAR) AS v
              FROM nn WHERE k >= 4
              UNION ALL SELECT 'c0', 'c1' FROM nn WHERE k = 0
              UNION ALL SELECT 'c1', 'c0' FROM nn WHERE k = 1
            ),
            m0 AS (SELECT u, min(v) AS v, CAST(1 AS BIGINT) AS h
                   FROM e GROUP BY u),
            m1 AS (SELECT a.u, coalesce(b.v, a.v) AS v,
                          a.h + coalesce(b.h, 0) AS h
                   FROM m0 a LEFT JOIN m0 b ON a.v = b.u),
            m2 AS (SELECT a.u, coalesce(b.v, a.v) AS v,
                          a.h + coalesce(b.h, 0) AS h
                   FROM m1 a LEFT JOIN m1 b ON a.v = b.u),
            m3 AS (SELECT a.u, coalesce(b.v, a.v) AS v,
                          a.h + coalesce(b.h, 0) AS h
                   FROM m2 a LEFT JOIN m2 b ON a.v = b.u),
            s AS (SELECT DISTINCT u AS v, TRUE AS is_src FROM e)
            SELECT m3.u AS url,
                   CASE WHEN coalesce(s.is_src, FALSE) OR m3.h > 8
                        THEN '' ELSE m3.v END AS final_url,
                   CASE WHEN coalesce(s.is_src, FALSE) OR m3.h > 8
                        THEN CAST(-1 AS BIGINT) ELSE m3.h END AS hops,
                   coalesce(s.is_src, FALSE) OR m3.h > 8 AS unresolved
            FROM m3 LEFT JOIN s ON m3.v = s.v
            ORDER BY url
        """,
        "exif_geotag": """
            WITH b AS (
              SELECT doc_id,
                     (doc_id % 5000) * 119 - 290000 AS lat_cs,
                     (doc_id % 9000) * 139 - 620000 AS lon_cs,
                     doc_id % 7 = 3 AS bare
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN bare THEN NULL ELSE round(
                     (CASE WHEN lat_cs >= 0 THEN 1 ELSE -1 END) * (
                       (abs(lat_cs) // 360000)
                       + ((abs(lat_cs) % 360000) // 6000) / 60.0
                       + ((abs(lat_cs) % 6000) / 100.0) / 3600.0), 6)
                   END AS lat,
                   CASE WHEN bare THEN NULL ELSE round(
                     (CASE WHEN lon_cs >= 0 THEN 1 ELSE -1 END) * (
                       (abs(lon_cs) // 360000)
                       + ((abs(lon_cs) % 360000) // 6000) / 60.0
                       + ((abs(lon_cs) % 6000) / 100.0) / 3600.0), 6)
                   END AS lon,
                   NOT bare AS geotagged
            FROM b
        """,
        "profile": """
            WITH src AS (
              SELECT doc_id, n_chars,
                     CASE WHEN doc_id % 9 <> 4 THEN n_chars END AS n_chars_gap
              FROM documents
            ),
            agg AS (
              SELECT
                count(*) AS rows_all,
                CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n0,
                min(CAST(doc_id AS DOUBLE)) AS mn0,
                max(CAST(doc_id AS DOUBLE)) AS mx0,
                sum(CAST(doc_id AS DOUBLE)) AS s0,
                sum(CAST(doc_id AS DOUBLE) * CAST(doc_id AS DOUBLE)) AS ss0,
                CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n1,
                min(CAST(n_chars AS DOUBLE)) AS mn1,
                max(CAST(n_chars AS DOUBLE)) AS mx1,
                sum(CAST(n_chars AS DOUBLE)) AS s1,
                sum(CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) AS ss1,
                CAST(sum(CASE WHEN n_chars_gap IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n2,
                min(CAST(n_chars_gap AS DOUBLE)) AS mn2,
                max(CAST(n_chars_gap AS DOUBLE)) AS mx2,
                sum(CAST(n_chars_gap AS DOUBLE)) AS s2,
                sum(CAST(n_chars_gap AS DOUBLE)
                    * CAST(n_chars_gap AS DOUBLE)) AS ss2
              FROM src
            )
            SELECT 'doc_id' AS column, rows_all AS n_rows, n0 AS n_nulls,
                   mn0 AS min, mx0 AS max,
                   round(s0 / (rows_all - n0), 6) AS mean,
                   round(sqrt(greatest(
                     ss0 / (rows_all - n0)
                     - (s0 / (rows_all - n0)) * (s0 / (rows_all - n0)),
                     0.0)), 6) AS std
            FROM agg
            UNION ALL
            SELECT 'n_chars', rows_all, n1, mn1, mx1,
                   round(s1 / (rows_all - n1), 6),
                   round(sqrt(greatest(
                     ss1 / (rows_all - n1)
                     - (s1 / (rows_all - n1)) * (s1 / (rows_all - n1)),
                     0.0)), 6)
            FROM agg
            UNION ALL
            SELECT 'n_chars_gap', rows_all, n2, mn2, mx2,
                   round(s2 / (rows_all - n2), 6),
                   round(sqrt(greatest(
                     ss2 / (rows_all - n2)
                     - (s2 / (rows_all - n2)) * (s2 / (rows_all - n2)),
                     0.0)), 6)
            FROM agg
        """,
        "traps": _traps_oracle(),
        # vector_metrics: direct LEAD-window shoelace/centroid/perimeter
        # over the bit-exact star-ring vertices — the Spark side pushes
        # the SAME rings through WKT -> WKB round-trips first, so any
        # lost bit in either codec breaks the hash.  Sum order differs
        # (sequential fold vs parallel SUM) -> float32 ship.
        "vector_metrics": f"""
            WITH {_SQL_VEC_EDGES},
            agg AS (
              SELECT geom_id,
                CAST(count(*) AS INT) AS n_vertices,
                0.5 * sum(x1 * y2 - x2 * y1) AS area_d,
                sum(sqrt((x2 - x1) * (x2 - x1)
                         + (y2 - y1) * (y2 - y1))) AS perim_d,
                sum((x1 + x2) * (x1 * y2 - x2 * y1)) AS cxn,
                sum((y1 + y2) * (x1 * y2 - x2 * y1)) AS cyn
              FROM edges GROUP BY geom_id
            )
            SELECT geom_id, n_vertices,
              CAST(area_d AS REAL) AS area,
              CAST(perim_d AS REAL) AS perimeter,
              CAST(cxn / (6.0 * area_d) AS REAL) AS cx,
              CAST(cyn / (6.0 * area_d) AS REAL) AS cy
            FROM agg
        """,
        # hull_extremes: support values over the RAW points; the Spark
        # side computes them from the distributed hull's vertices only.
        # Dot-value gaps on the geocode lattice are >= 1e-4, so any
        # hull omission shows; float32 absorbs sub-ulp collinear ties.
        "hull_extremes": f"""
            WITH dirs AS (
              SELECT * FROM (VALUES
                (0, 1, 0), (1, 1, 1), (2, 0, 1), (3, -1, 1),
                (4, -1, 0), (5, -1, -1), (6, 0, -1), (7, 1, -1),
                (8, 2, 1), (9, 1, 2), (10, -1, 2), (11, -2, 1),
                (12, -2, -1), (13, -1, -2), (14, 1, -2), (15, 2, -1)
              ) AS t(dir_id, dx, dy)
            ),
            p AS (SELECT {SQL_LON} AS x, {SQL_LAT} AS y FROM documents)
            SELECT CAST(dir_id AS INT) AS dir_id,
                   CAST(dx AS INT) AS dx, CAST(dy AS INT) AS dy,
                   CAST(max(dx * x + dy * y) AS REAL) AS max_dot
            FROM dirs, p GROUP BY 1, 2, 3
        """,
        # spatial_join: brute-force SQL twin of the tile-bucketed PIP
        # join — the identical division-free cross-multiplied crossing
        # test over every (point, ring) pair; integer parity on
        # bit-exact coordinates, so the match is exact, and any
        # tile-bucketing bug (missed cover tile, double-counted pair)
        # changes the row set
        "spatial_join": f"""
            WITH {_sql_vec_edges("8.0")},
            p AS (SELECT doc_id, {SQL_LON} AS px, {SQL_LAT} AS py
                  FROM documents),
            cr AS (
              SELECT p.doc_id, e.geom_id,
                sum(CASE WHEN ((e.y1 > p.py) <> (e.y2 > p.py))
                      AND (CASE WHEN e.y2 > e.y1
                           THEN (p.px - e.x1) * (e.y2 - e.y1)
                                - (p.py - e.y1) * (e.x2 - e.x1) < 0
                           ELSE (p.px - e.x1) * (e.y2 - e.y1)
                                - (p.py - e.y1) * (e.x2 - e.x1) > 0 END)
                    THEN 1 ELSE 0 END) AS crossings
              FROM p CROSS JOIN edges e
              GROUP BY 1, 2
            )
            SELECT doc_id, geom_id FROM cr WHERE crossings % 2 = 1
        """,
        # clip_tiles: conservation — per-tile Sutherland-Hodgman areas
        # must sum back to the ring's shoelace area; clip intersection
        # rounding is ~1e-12 rel, so round(ratio, 6) is exactly 1.0.
        "clip_tiles": f"""
            WITH {_SQL_VEC_EDGES},
            agg AS (
              SELECT geom_id, 0.5 * sum(x1 * y2 - x2 * y1) AS area_d
              FROM edges GROUP BY geom_id
            )
            SELECT geom_id, 1.0 AS conservation,
                   CAST(area_d AS REAL) AS area_f32
            FROM agg
        """,
        # hex_index: the SQL twin replays hexgrid's EXACT float
        # arithmetic (hex_cell_sql / hex_center_sql embed repr() of the
        # same double constants, rounding is floor(v+0.5) in both
        # engines) — every output is an exact integer or a
        # bit-reproducible double (centers are integer x constant
        # products; the smooth avg sums exact-integer doubles).
        "hex_index": _hex_index_oracle(),
        "hex_knn": _hex_knn_oracle(),
        # contour: marching_squares_sql replays the Spark op verbatim
        # (corner scatter, strict-> case index, literal case table,
        # same-order interpolation) over the identical zero-densified
        # z5 count grid — integer-derived doubles, identical division.
        "contour": _contour_oracle(z5x, z5y),
        # flow: identical D8 drop arithmetic + tie order; accumulation
        # closed by a recursive CTE over the same drainage forest.
        "flow": _flow_oracle(z5x, z5y),
        # landform: one-mail-pass TPI + Weiss ladder replayed verbatim;
        # 6-dp rounding before thresholds on both engines.
        "landform": _landform_oracle(z4x, z4y),
        # compact: six unrolled quad-merge levels + round-trip restore;
        # pure integer arithmetic, bit-exact by construction.
        "compact": _compact_oracle(_sql_tile_x(6), _sql_tile_y(6)),
        # s2_compact: integer cell construction + sentinel quad merges
        # in exact BIGINT arithmetic + round-trip restore.
        "s2_compact": _s2_compact_oracle(),
        # basin_stats: the flow CTEs feeding one GROUP BY on the basin
        # key — hydrology output as zonal zones, exact integers.
        "basin_stats": _basin_stats_oracle(z5x, z5y),
    }


def _z5_grid_sql(z5x: str, z5y: str) -> str:
    """DuckDB twin of _z5_dense_grid."""
    return f"""
        SELECT gx.x AS x, gy.y AS y, coalesce(c.v, 0.0) AS v
        FROM (SELECT unnest(generate_series(0, 31)) AS x) gx
        CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS y) gy
        LEFT JOIN (SELECT {z5x} AS x, {z5y} AS y,
                          CAST(count(*) AS DOUBLE) AS v
                   FROM documents GROUP BY 1, 2) c
          ON c.x = gx.x AND c.y = gy.y
    """


def _flow_oracle(z5x: str, z5y: str) -> str:
    """DuckDB twin of q_flow: same D8 VALUES table (repr'd sqrt(2)),
    same drop expression and (drop DESC, code ASC) tie order, edges
    from the shared CASE ladder, accumulation = recursive closure of
    the drainage forest (terminates: positive drop means the target is
    strictly lower)."""
    from xarray_spatial_spark.operators.hydrology import (
        d8_case_sql,
        d8_values_sql,
    )

    return f"""
        WITH RECURSIVE g AS ({_z5_grid_sql(z5x, z5y)}),
        n(code, dx, dy, dist) AS (VALUES {d8_values_sql()}),
        d AS (
          SELECT a.x, a.y, n.code, (a.v - b.v) / n.dist AS drop
          FROM g a CROSS JOIN n
          JOIN g b ON b.x = a.x + n.dx AND b.y = a.y + n.dy
        ),
        best AS (
          SELECT x, y, code, drop,
                 row_number() OVER (PARTITION BY x, y
                                    ORDER BY drop DESC, code ASC) AS rn
          FROM d
        ),
        dir AS (
          SELECT g.x, g.y,
                 coalesce(CASE WHEN b.drop > 0 THEN b.code ELSE 0 END,
                          0) AS direction
          FROM g LEFT JOIN best b ON b.x = g.x AND b.y = g.y AND b.rn = 1
        ),
        e AS (
          SELECT x AS sx, y AS sy,
                 x + {d8_case_sql(0)} AS tx,
                 y + {d8_case_sql(1)} AS ty
          FROM dir WHERE direction > 0
        ),
        reach(sx, sy, cx, cy) AS (
          SELECT sx, sy, tx, ty FROM e
          UNION ALL
          SELECT r.sx, r.sy, e.tx, e.ty
          FROM reach r JOIN e ON e.sx = r.cx AND e.sy = r.cy
        ),
        acc AS (SELECT cx AS x, cy AS y, count(*) AS a
                FROM reach GROUP BY 1, 2),
        walk(x0, y0, cx, cy) AS (
          SELECT x, y, x, y FROM dir
          UNION ALL
          SELECT w.x0, w.y0,
                 w.cx + {d8_case_sql(0, 'd.direction')},
                 w.cy + {d8_case_sql(1, 'd.direction')}
          FROM walk w JOIN dir d ON d.x = w.cx AND d.y = w.cy
          WHERE d.direction > 0
        ),
        term AS (
          SELECT w.x0 AS x, w.y0 AS y, w.cx AS basin_x, w.cy AS basin_y
          FROM walk w JOIN dir d ON d.x = w.cx AND d.y = w.cy
          WHERE d.direction = 0
        )
        SELECT dir.x, dir.y, dir.direction,
               coalesce(acc.a, 0) AS acc, term.basin_x, term.basin_y
        FROM dir LEFT JOIN acc ON acc.x = dir.x AND acc.y = dir.y
        JOIN term ON term.x = dir.x AND term.y = dir.y
    """


def _landform_oracle(z4x: str, z4y: str) -> str:
    """DuckDB twin of q_landform (radius 2, LANDFORM_EPS gate)."""
    offs = ", ".join(
        f"({dx}, {dy}, {1 if max(abs(dx), abs(dy)) <= 1 else 0})"
        for dx in range(-2, 3) for dy in range(-2, 3)
        if (dx, dy) != (0, 0)
    )
    eps = repr(LANDFORM_EPS)
    return f"""
        WITH c AS (
          SELECT {z4x} AS x, {z4y} AS y,
                 CAST(sum(n_chars) AS DOUBLE) AS v
          FROM documents GROUP BY 1, 2
        ),
        o(dx, dy, adj) AS (VALUES {offs}),
        nb AS (
          SELECT s.x + o.dx AS x, s.y + o.dy AS y,
                 avg(s.v) AS nb_mean,
                 max(CASE WHEN o.adj = 1 THEN s.v END) AS adj_max,
                 min(CASE WHEN o.adj = 1 THEN s.v END) AS adj_min
          FROM c s CROSS JOIN o
          GROUP BY 1, 2
        ),
        sc AS (
          SELECT c.x, c.y, c.v,
                 round(c.v - nb.nb_mean, 6) AS tpi,
                 greatest(abs(c.v - coalesce(nb.adj_max, c.v)),
                          abs(c.v - coalesce(nb.adj_min, c.v))) AS max_drop
          FROM c LEFT JOIN nb ON nb.x = c.x AND nb.y = c.y
        ),
        sd AS (SELECT round(stddev_pop(tpi), 6) AS sd FROM sc)
        SELECT sc.x, sc.y, sc.v AS value, sc.tpi, sc.max_drop,
               CASE WHEN sc.tpi IS NULL THEN 'isolated'
                    WHEN sd.sd = 0 THEN 'flat'
                    WHEN sc.tpi / sd.sd > 1.0 THEN 'ridge'
                    WHEN sc.tpi / sd.sd > 0.5 THEN 'upper_slope'
                    WHEN sc.tpi / sd.sd >= -0.5 THEN
                         CASE WHEN sc.max_drop > {eps} THEN 'mid_slope'
                              ELSE 'flat' END
                    WHEN sc.tpi / sd.sd >= -1.0 THEN 'lower_slope'
                    ELSE 'valley' END AS landform
        FROM sc, sd
    """


def _contour_oracle(z5x: str, z5y: str) -> str:
    """DuckDB twin of q_contour: the zero-densified 32x32 z5 count
    grid fed through operators/contour.marching_squares_sql — the
    module generates BOTH engines' expressions from one case table,
    so the only thing this oracle adds is the grid construction and
    the 6-dp rounding."""
    from xarray_spatial_spark.operators.contour import marching_squares_sql

    inner = marching_squares_sql(
        _z5_grid_sql(z5x, z5y), CONTOUR_LEVELS, value_col="v")
    return f"""
        SELECT level, sx, sy, seg,
               round(x1, 6) AS x1, round(y1, 6) AS y1,
               round(x2, 6) AS x2, round(y2, 6) AS y2
        FROM ({inner})
    """


def _gopher_m_sql(src: str) -> str:
    """The s/m CTE pair computing raw Gopher signals per doc over the
    relation ``src`` (must expose doc_id, text) — shared by the gopher
    and corpus oracles."""
    stop_alt = tx._alternation(tx.GOPHER_STOP)
    return f"""s AS (
          SELECT doc_id, text,
            CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                 ELSE string_split_regex(trim(text), '\\s+') END AS toks,
            string_split(text, chr(10)) AS ls
          FROM {src}
        ),
        m AS (
          SELECT doc_id, text,
            len(toks) AS n_words, len(ls) AS n_lines,
            CASE WHEN len(toks) > 0
                 THEN list_sum(list_transform(toks, t -> length(t)))
                      / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mwl,
            len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS sym,
            len(list_filter(ls, l -> regexp_matches(l, '^\\s*[-*•]'))) AS bullets,
            len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS ellipses,
            len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]'))) AS alphaw,
            len(list_distinct(regexp_extract_all(text, '{stop_alt}', 1))) AS stop_hits
          FROM s
        )"""


def _gopher_keep_pred(min_words: int = 30) -> str:
    """The keep rule over m's RAW signals (matches gopher_keep)."""
    return f"""(n_words >= {min_words} AND n_words <= 100000
           AND mwl >= 3.0 AND mwl <= 10.0
           AND (CASE WHEN n_words > 0 THEN sym / CAST(n_words AS DOUBLE)
                ELSE 0.0 END) <= 0.1
           AND (CASE WHEN n_lines > 0 THEN bullets / CAST(n_lines AS DOUBLE)
                ELSE 0.0 END) <= 0.9
           AND (CASE WHEN n_lines > 0 THEN ellipses / CAST(n_lines AS DOUBLE)
                ELSE 0.0 END) <= 0.3
           AND (CASE WHEN n_words > 0 THEN alphaw / CAST(n_words AS DOUBLE)
                ELSE 0.0 END) >= 0.8
           AND stop_hits >= 2)"""


def _gopher_oracle() -> str:
    """DuckDB twin of gopher_signals + gopher_keep(min_words=30) plus
    the C4 line/page rules: raw (unrounded) signals feed the keep
    rule, rounded copies are emitted — matching the Spark side where
    gopher_keep recomputes raw signals."""
    return f"""
        WITH {_gopher_m_sql("documents")},
        r AS (
          SELECT doc_id, n_words, n_lines, mwl, stop_hits,
            CASE WHEN n_words > 0 THEN sym / CAST(n_words AS DOUBLE)
                 ELSE 0.0 END AS syr,
            CASE WHEN n_lines > 0 THEN bullets / CAST(n_lines AS DOUBLE)
                 ELSE 0.0 END AS blf,
            CASE WHEN n_lines > 0 THEN ellipses / CAST(n_lines AS DOUBLE)
                 ELSE 0.0 END AS elf,
            CASE WHEN n_words > 0 THEN alphaw / CAST(n_words AS DOUBLE)
                 ELSE 0.0 END AS awf
          FROM m
        ),
        c4 AS (
          SELECT doc_id,
            -- DuckDB array_to_string of an EMPTY list is NULL;
            -- Spark array_join gives '' — coalesce to match
            COALESCE(array_to_string(list_filter(string_split(text, chr(10)),
              l -> regexp_matches(l, '[.!?"]\\s*$')
                   AND len(string_split_regex(trim(l), '\\s+')) >= 5
                   AND NOT contains(lower(l), 'javascript')),
              chr(10)), '') AS c4t,
            lower(text) AS low, text AS raw
          FROM documents
        ),
        c4k AS (
          SELECT doc_id, c4t,
            (len(regexp_extract_all(c4t, '[.!?]')) >= 3
             AND NOT regexp_matches(low,
                 '\\b(porn|xxx|viagra|casino|escort)\\b')
             AND NOT contains(low, 'lorem ipsum')
             AND NOT contains(raw, '{{')) AS c4_keep
          FROM c4
        )
        SELECT r.doc_id,
          CAST(n_words AS BIGINT) AS n_words,
          round(mwl, 6) AS mean_word_len,
          round(syr, 6) AS symbol_word_ratio,
          round(blf, 6) AS bullet_line_frac,
          round(elf, 6) AS ellipsis_line_frac,
          round(awf, 6) AS alpha_word_frac,
          CAST(stop_hits AS BIGINT) AS stop_hits,
          (n_words >= 30 AND n_words <= 100000
           AND mwl >= 3.0 AND mwl <= 10.0
           AND syr <= 0.1 AND blf <= 0.9 AND elf <= 0.3
           AND awf >= 0.8 AND stop_hits >= 2) AS keep,
          k.c4_keep,
          CAST(CASE WHEN k.c4t = '' THEN 0
               ELSE len(string_split(k.c4t, chr(10))) END AS BIGINT)
            AS c4_kept_lines,
          CAST(length(k.c4t) AS BIGINT) AS c4_len
        FROM r JOIN c4k k ON k.doc_id = r.doc_id
    """


def _gazetteer_cte(n: int = 200) -> str:
    """The synthetic gazetteer's SQL twin (functions/geoparse.py)."""
    from xarray_spatial_spark.functions.geoparse import gazetteer_sql

    return gazetteer_sql(n)


def _traps_oracle(threshold: int = 40) -> str:
    """url_template twin: identical host/path regexes, lower -> hex
    -> digit substitution order, sorted query key set; flagging by
    count(DISTINCT url) (the engine counts distinct xxhash64(url) —
    equal absent 64-bit collisions)."""
    host_expr = ("lower(regexp_replace(regexp_replace(regexp_extract(url,"
                 " '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),"
                 " '^.*@', ''), ':[0-9]+$', ''))")
    path_expr = ("regexp_extract(url,"
                 " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(/[^?#]*)', 1)")
    return f"""
        WITH urls AS (
          SELECT CASE
            WHEN doc_id % 4 = 0 THEN 'http://trap.example.com/cal/'
                 || CAST(doc_id % 12 AS VARCHAR) || '/'
                 || CAST(doc_id AS VARCHAR)
            WHEN doc_id % 4 = 1 THEN 'http://shop.example.com/search?page='
                 || CAST(doc_id AS VARCHAR) || '&sort=price&q=q'
                 || CAST(doc_id % 7 AS VARCHAR)
            ELSE 'http://blog' || CAST(doc_id % 50 AS VARCHAR)
                 || '.example.com/post/' || CAST(doc_id AS VARCHAR)
          END AS url
          FROM documents
        ),
        parts AS (
          SELECT url,
                 {host_expr} AS host,
                 CASE WHEN {path_expr} = '' THEN '/'
                      ELSE lower({path_expr}) END AS path,
                 COALESCE(array_to_string(list_sort(list_filter(
                   list_transform(
                     string_split(regexp_extract(
                       regexp_replace(url, '#.*$', ''),
                       '\\?([^#]*)$', 1), '&'),
                     x -> lower(regexp_extract(x, '^([^=]*)', 1))),
                   x -> x <> '')), '&'), '') AS qkeys
          FROM urls
        ),
        tpl AS (
          SELECT host,
                 host || regexp_replace(regexp_replace(path,
                     '[0-9a-f]{{8,}}', 'H', 'g'), '[0-9]+', 'N', 'g')
                 || CASE WHEN qkeys = '' THEN ''
                         ELSE '?' || qkeys END AS template,
                 url
          FROM parts
        )
        SELECT host, template,
               CAST(count(DISTINCT url) AS BIGINT) AS n_urls
        FROM tpl GROUP BY host, template
        HAVING count(DISTINCT url) > {threshold}
    """


def _corpus_oracle() -> str:
    """prepare_corpus twin: plant PII + duplicate copies, Gopher-keep
    (raw signals), keep smallest doc_id per identical text, redact."""
    red = tx.redact_pii_sql("text")
    return f"""
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 <> 2
                      THEN 'the shape of the data and that of the run '
                      ELSE '' END
                 || text
                 || CASE WHEN doc_id % 10 = 0
                         THEN ' contact bob@example.com 10.1.2.3'
                         ELSE '' END AS text
          FROM documents
        ),
        dupped AS (
          SELECT doc_id, text FROM base
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id, text FROM base
          WHERE doc_id % 7 = 0
        ),
        {_gopher_m_sql("dupped")},
        keepers AS (
          -- keep predicate inline over m (which carries text): a join
          -- back to dupped on doc_id would cross-match if the +1e6
          -- duplicate offset ever collided with real ids
          SELECT doc_id, text FROM m
          WHERE {_gopher_keep_pred(30)}
        ),
        uniq AS (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY text
                        ORDER BY doc_id ASC) AS rn
            FROM keepers) WHERE rn = 1
        )
        SELECT 'docs' AS variant, doc_id, {red} AS text,
               CAST(-1 AS BIGINT) AS n_kept FROM uniq
        UNION ALL
        SELECT 'funnel', CAST(0 AS BIGINT), 'input', COUNT(*) FROM dupped
        UNION ALL
        SELECT 'funnel', CAST(1 AS BIGINT), 'gopher', COUNT(*) FROM keepers
        UNION ALL
        SELECT 'funnel', CAST(2 AS BIGINT), 'dedup', COUNT(*) FROM uniq
    """


def _pagerank_oracle(iters: int = 5) -> str:
    """Damped PageRank twin: the iteration count is small and fixed,
    so the recurrence unrolls into a chain of CTEs — no recursive-CTE
    aggregate restrictions to fight."""
    ctes = [
        """edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT doc_id % 40 AS src, (doc_id * 7 + 1) % 40 AS dst FROM documents
            UNION ALL
            SELECT doc_id % 40, (doc_id * 7 + 2) % 40 FROM documents
            UNION ALL
            SELECT doc_id % 40, (doc_id * 7 + 3) % 40 FROM documents
          )
        )""",
        "deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)",
        """nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION SELECT dst FROM edges)
        )""",
        "pr0 AS (SELECT node, 1.0 AS rank FROM nodes)",
    ]
    for i in range(iters):
        ctes.append(f"""pr{i + 1} AS (
          SELECT n.node, 0.15 + 0.85 * COALESCE(c.s, 0.0) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / d.d) AS s
            FROM pr{i} p JOIN edges e ON e.src = p.node
                         JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) c ON c.node = n.node
        )""")
    ctes.append("""sr0 AS (
      SELECT node, CASE WHEN node % 5 = 0 THEN 1.0 ELSE 0.0 END AS rank
      FROM nodes)""")
    for i in range(iters):
        ctes.append(f"""sr{i + 1} AS (
          SELECT n.node,
                 0.15 * (CASE WHEN n.node % 5 = 0 THEN 1.0 ELSE 0.0 END)
                 + 0.85 * COALESCE(c.s, 0.0) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / d.d) AS s
            FROM sr{i} p JOIN edges e ON e.src = p.node
                         JOIN deg d ON d.src = e.src
            GROUP BY e.dst
          ) c ON c.node = n.node
        )""")
    return ("WITH " + ", ".join(ctes)
            + f" SELECT 'plain' AS variant, node,"
              f" round(rank, 6) AS rank FROM pr{iters}"
              f" UNION ALL SELECT 'seeded', node,"
              f" round(rank, 6) AS rank FROM sr{iters}")


def _pyramid_oracle(zoom: int = 6, min_zoom: int = 3) -> str:
    """Zoom-pyramid rollup twin: base per-tile aggregate at ``zoom``,
    coarser levels by integer division (same floor identity the engine
    relies on)."""
    zx, zy = _sql_tile_x(zoom), _sql_tile_y(zoom)
    levels = [
        f"""
        SELECT CAST({zoom} AS INT) AS zoom, tile_x, tile_y,
               cnt_docs, sum_chars, max_chars FROM base
        """
    ]
    for z in range(zoom - 1, min_zoom - 1, -1):
        k = 1 << (zoom - z)
        levels.append(
            f"""
        SELECT CAST({z} AS INT) AS zoom, px AS tile_x, py AS tile_y,
               CAST(sum(cnt_docs) AS BIGINT) AS cnt_docs,
               CAST(sum(sum_chars) AS BIGINT) AS sum_chars,
               max(max_chars) AS max_chars
        FROM (SELECT tile_x // {k} AS px, tile_y // {k} AS py,
                     cnt_docs, sum_chars, max_chars FROM base)
        GROUP BY px, py
        """
        )
    union = " UNION ALL ".join(levels)
    return f"""
        WITH base AS (
          SELECT ({zx}) AS tile_x, ({zy}) AS tile_y,
                 count(*) AS cnt_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                 max(n_chars) AS max_chars
          FROM documents GROUP BY 1, 2
        )
        {union}
    """


def _langid_oracle() -> str:
    hit_cols = []
    for lg, words in tx.STOPWORDS.items():
        parts = " + ".join(
            f"len(regexp_extract_all(substr(text, 1, 1000), '\\b{w}\\b'))"
            for w in words
        )
        hit_cols.append(f"({parts}) AS h_{lg}")
    hits = ", ".join(hit_cols)
    langs = list(tx.STOPWORDS)
    cases = []
    for i, lg in enumerate(langs):
        conds = " AND ".join(
            f"h_{lg} >= h_{other}" for other in langs[i + 1:]
        ) or "TRUE"
        prior = " AND ".join(f"h_{lg} > h_{other}" for other in langs[:i])
        if prior:
            conds = f"{prior} AND {conds}"
        cases.append(f"WHEN {conds} THEN '{lg}'")
    case_sql = " ".join(cases)
    return f"""
        WITH h AS (SELECT doc_id, {hits} FROM documents),
        det AS (
          SELECT CASE WHEN h_en = 0 AND h_de = 0 AND h_fr = 0 AND h_es = 0
                       AND h_zh = 0 THEN 'und'
                      {case_sql} END AS detected
          FROM h
        )
        SELECT detected, count(*) AS n FROM det GROUP BY detected
    """
