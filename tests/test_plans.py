"""Physical-plan quality assertions — the .explain() contract.

These lock in the optimizer properties the engine's scale story
depends on: column pruning reaching the parquet scan, compiled
operators staying out of Python, single-exchange aggregates, and
broadcast joins where a broadcast is intended."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_prunes_to_needed_columns(spark, tmp_path):
    from xarray_spatial_spark.sources.documents import documents

    path = str(tmp_path / "docs")
    documents(spark, 1000).withColumn("n_chars", F.length("text")).write.parquet(path)
    df = spark.read.parquet(path).select("doc_id", "lat", "lon", "n_chars")
    plan = _plan(df.groupBy().agg(F.sum("n_chars")))
    # ReadSchema must not mention the wide columns
    assert "html" not in plan and "text" not in plan
    assert "n_chars" in plan


def test_compiled_pipeline_has_no_python_stage(spark):
    """The headline pipeline (JVM cells + compiled PIP + compiled
    allocation) must contain zero Python/Arrow eval nodes."""
    import sys
    sys.path.insert(0, "/root/repo")
    from bench import _cities40, _world_polygons
    from xarray_spatial_spark.operators.pip import pip_join_expr
    from xarray_spatial_spark.operators.proximity import nearest_expr
    from xarray_spatial_spark.operators.tiling import assign_cells
    from xarray_spatial_spark.sources.documents import documents

    docs = documents(spark, 100).select("doc_id", "lon", "lat")
    out = nearest_expr(
        pip_join_expr(assign_cells(docs, 12, 5), _world_polygons()),
        _cities40(), metric="GREAT_CIRCLE",
    )
    agg = out.groupBy("tile_id").count()
    agg.collect()  # finalize the adaptive plan so codegen spans appear
    plan = _plan(agg)
    for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
                   "FlatMapGroupsInArrow",
                   "BatchEvalPython"):
        assert marker not in plan, marker
    assert "*(" in plan  # the codegen-span marker in plan toString


def test_zonal_stats_single_exchange_per_agg(spark):
    from xarray_spatial_spark.operators import zonal
    from xarray_spatial_spark.raster import df_from_numpy

    rng = np.random.default_rng(1)
    zones = df_from_numpy(spark, rng.integers(0, 4, (10, 10)).astype(float),
                          value_col="zone")
    values = df_from_numpy(spark, rng.uniform(0, 9, (10, 10)))
    zv = zonal.align(zones, values)
    plan = _plan(zonal.stats(zv, stats_funcs=("mean", "sum", "count")))
    # partial+final hash aggregate with ONE exchange (plus the align join)
    assert plan.count("Exchange hashpartitioning(zone") <= 1
    assert "HashAggregate" in plan


def test_stats_fused_single_scan(spark):
    """Fused stats reads the source once (one join-free lineage)."""
    from xarray_spatial_spark.operators import zonal
    from xarray_spatial_spark.raster import df_from_numpy

    rng = np.random.default_rng(2)
    zones = df_from_numpy(spark, rng.integers(0, 4, (8, 8)).astype(float),
                          value_col="zone")
    values = df_from_numpy(spark, rng.uniform(0, 9, (8, 8)))
    zv = zonal.align(zones, values).localCheckpoint()  # pin lineage
    fused = _plan(zonal.stats_fused(zv))
    plain = _plan(zonal.stats(zv))
    # the plain path joins stats with majority (two scans of zv);
    # the fused path must not contain any join
    assert "Join" in plain
    assert "Join" not in fused


def test_pip_arrow_path_single_python_stage(spark):
    import pandas as pd
    from xarray_spatial_spark.operators import pip

    pts = spark.createDataFrame(
        pd.DataFrame({"lon": [1.0, 2.0], "lat": [1.0, 2.0], "text": ["a", "b"]})
    )
    poly = {1: np.array([[0.0, 0.0], [5.0, 0.0], [5.0, 5.0], [0.0, 5.0]])}
    plan = _plan(pip.pip_join(pts, poly))
    assert plan.count("ArrowEvalPython") == 1
    assert "MapInPandas" not in plan
    # the UDF reads only the coordinates, not the rest of the row
    udf_line = next(ln for ln in plan.splitlines() if "ArrowEvalPython" in ln)
    assert "lon" in udf_line and "lat" in udf_line and "text" not in udf_line


def test_broadcast_join_in_stats_to_raster(spark):
    from xarray_spatial_spark.operators import zonal
    from xarray_spatial_spark.raster import df_from_numpy

    zones = df_from_numpy(spark, np.zeros((4, 4)), value_col="zone")
    values = df_from_numpy(spark, np.ones((4, 4)))
    zv = zonal.align(zones, values)
    stats = zonal.stats(zv, stats_funcs=("mean",))
    plan = _plan(zonal.stats_to_raster(zv, stats))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_classify_binning_stays_codegen(spark):
    from xarray_spatial_spark.operators import classify
    from xarray_spatial_spark.raster import df_from_numpy

    df = df_from_numpy(spark, np.arange(100.0).reshape(10, 10))
    out = classify.reclassify(df, bins=[10, 50, 100], new_values=[1, 2, 3])
    plan = _plan(out)
    for marker in ("ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


def test_no_unpartitioned_windows_in_regions_and_combine(spark):
    """Global ranks must never use a bare orderBy window (one-task
    sort of every distinct region/combo)."""
    import re

    from xarray_spatial_spark import raster
    from xarray_spatial_spark.operators import local, regions

    a = np.array([[1.0, 1.0, 2.0], [3.0, 1.0, 2.0], [3.0, 3.0, 2.0]])
    rdf = regions.regions(raster.df_from_numpy(spark, a), tile_h=2, tile_w=2)
    df2 = raster.df_from_bands(spark, a=a, b=a[::-1])
    cdf = local.combine(df2, ["a", "b"])
    for df in (rdf, cdf):
        plan = _plan(df)
        # every windowspecdefinition must carry a partition spec: the
        # physical form of a bare window is "windowspecdefinition(<order>"
        # with no partition columns before the sort spec
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            assert "ASC" not in m.group(1).split(",")[0], (
                "unpartitioned window found:\n" + m.group(0)
            )


def test_tiled_stencil_single_exchange_no_python_emit(spark):
    """Tiled halo stencil: message emission is pure JVM (one explode
    project of super-tile-keyed tiles and strips), one exchange into
    the groupBy(bk) assembly, one Python group node for the stencil."""
    from xarray_spatial_spark import raster, tiled
    from xarray_spatial_spark.operators import surface

    rng = np.random.default_rng(0)
    tdf = tiled.tile(
        raster.df_from_numpy(spark, rng.uniform(0, 1, (64, 64))),
        tile_h=32, tile_w=32,
    )
    sl = surface.slope(tdf)
    plan = _plan(sl)
    # exactly two Python nodes: the tile() pack building the fixture
    # and the stencil assemble — the strip emit adds NO Python stage
    assert (plan.count("FlatMapGroupsInPandas")
            + plan.count("FlatMapGroupsInArrow")) == 2
    assert plan.count("MapInPandas") == 0
    # one shuffle between the emit project and the group assemble
    downstream = plan.split("Generate explode")[0]
    assert downstream.count("Exchange hashpartitioning") == 1


def test_unfused_stencil_chain_packs_once(spark):
    """Three chained, unfused focal.mean passes over a computed tile()
    input: each pass is single-input, so the tile() pack runs once and
    the plan holds exactly one Arrow group node per pass; no tile
    crosses into Python through pandas."""
    from xarray_spatial_spark import raster, tiled
    from xarray_spatial_spark.operators import focal

    rng = np.random.default_rng(0)
    tdf = tiled.tile(
        raster.df_from_numpy(spark, rng.uniform(0, 1, (64, 64))),
        tile_h=16, tile_w=16,
    )
    plan = _plan(focal.mean(focal.mean(focal.mean(tdf))))
    assert plan.count("FlatMapGroupsInPandas") == 0
    # the tile() pack plus one per pass
    assert plan.count("FlatMapGroupsInArrow") == 4


def test_hll_distinct_stays_codegen(spark):
    """Grouped HLL is PURE Catalyst: hash + bit ops + two hash
    aggregates — no Python anywhere, and exactly two exchanges (the
    (key, register) partial and the per-key final)."""
    from xarray_spatial_spark.functions.sketch import hll_distinct

    df = spark.range(1000).select(
        (F.col("id") % 5).cast("string").alias("k"),
        F.concat(F.lit("u"), F.col("id")).alias("u"))
    plan = _plan(hll_distinct(df, "k", "u", p=10))
    for node in ("BatchEvalPython", "ArrowEvalPython",
                 "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in plan, node
    assert plan.count("Exchange hashpartitioning") == 2


def test_resolve_redirects_join_count_is_logarithmic(spark):
    """Pointer doubling with per-generation localCheckpoint: the
    FINAL round's plan holds exactly one doubling self-join (both
    sides the materialized previous generation) plus the source-flag
    join — the lazy-self-join 2^rounds tree blowup (which also
    recomputes each generation twice) is pinned away."""
    from xarray_spatial_spark.functions.url import resolve_redirects

    edges = spark.createDataFrame(
        [(f"a{i}", f"a{i+1}") for i in range(6)], "src string, dst string")
    for hops in (8, 32):
        opt = _optimized(resolve_redirects(edges, max_hops=hops))
        assert opt.count("Join ") == 2, (hops, opt.count("Join "))
        # both join inputs are materialized generations, not plans
        assert opt.count("LogicalRDD") >= 2


def test_change_rate_single_exchange(spark):
    """The lag window and the url aggregate share one hash
    partitioning — change_rate costs ONE exchange."""
    from xarray_spatial_spark.functions.frontier import change_rate

    h = spark.createDataFrame(
        [("u", "2026-01-01 00:00:00", "a"), ("u", "2026-01-02 00:00:00", "b")],
        "url string, warc_ts string, fingerprint string"
    ).selectExpr("url", "CAST(warc_ts AS TIMESTAMP) AS warc_ts",
                 "fingerprint")
    plan = _plan(change_rate(h))
    assert plan.count("Exchange hashpartitioning") == 1


def test_python_worker_skips_spark_archives(spark):
    """A Python task imports pyspark from outside Spark's archives, and
    no zipimporter is left to re-read on every task except the shipped
    package zip's.  The task runs the package from that zip, also when
    the JVM's working directory holds a checkout of it (``python -m``
    puts the working directory first on the worker's path, and the
    daemon drops it)."""
    import pyarrow as pa

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyspark
        import xarray_spatial_spark

        archives = [k for k, v in sys.path_importer_cache.items()
                    if isinstance(v, zipimport.zipimporter)]
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{
            "pyspark": pyspark.__file__, "pkg": xarray_spatial_spark.__file__,
            "archives": "\n".join(archives),
            "zips": "\n".join(p for p in sys.path
                              if p.endswith((".zip", ".jar")) and os.path.exists(p))}])

    row = (spark.range(1, numPartitions=1)
           .mapInArrow(probe, "pyspark string, pkg string, archives string, zips string")
           .collect()[0])
    assert ".zip" not in row.pyspark and ".jar" not in row.pyspark
    shipped = row.zips.split("\n")
    assert len(shipped) == 1, shipped
    shipped = shipped[0]
    assert os.path.basename(shipped) in spark.sparkContext._python_includes
    assert os.path.basename(shipped).startswith("xarray_spatial_spark_pyfiles-")
    assert all(a == shipped or a.startswith(shipped + os.sep)
               for a in row.archives.split("\n") if a), row.archives
    assert row.pkg.startswith(shipped + os.sep), row.pkg
