"""The three workloads: their pipelines, the checks of each output, and
the plan prefixes the traced run materializes layer by layer.

Each workload drives the package only through its public functions with
default settings.  ``execute`` runs one closed-loop execution and returns
what it collected; ``check`` compares that with the input's reference;
``prefixes`` returns the plan one layer longer at a time, for the
traced run (Spark is lazy, so a layer's time is the difference between
materializing two consecutive prefixes).
"""

from __future__ import annotations

import math
import shutil
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

import inputs as I
from probes import now

NOOP = "noop"


def no_mark(name: str) -> None:
    """Default step hook of ``execute``; the traced run passes one that
    closes a span at each step."""


def materialize(df) -> None:
    """Run a plan to the no-op sink: every row and column is produced,
    nothing is kept."""
    df.write.format(NOOP).mode("overwrite").save()


class GeoJoin:
    """Stored doc table -> Morton cells -> 12-polygon PIP (codegen) ->
    nearest of 40 cities (codegen) -> per-tile zonal stats.  Registering
    the input commits the doc table."""

    unit = "docs"
    executions = 1  # timed per run; see README "Why so few executions"

    def __init__(self, spark, inp: I.Inputs, scratch: Path):
        arrays = inp.arrays()
        self.spark = spark
        self.table = str(scratch / "geojoin-docs")
        I.store_doc_table(inp, spark, self.table)
        self.polygons = I.polygons_of(arrays)
        self.cities = spark.createDataFrame(
            [tuple(map(float, row)) for row in arrays["city"]],
            "lon double, lat double, city_id double")
        self.reference = {int(k): v for k, v in inp.meta["tiles"].items()}
        self.items = inp.meta["docs"]
        self.sample = (arrays["sample_lon"], arrays["sample_lat"])
        self.plan_s = 0.0

    def prefixes(self):
        from xarray_spatial_spark.operators import zonal
        from xarray_spatial_spark.operators.pip import pip_join_expr
        from xarray_spatial_spark.operators.tiling import assign_cells
        from xarray_spatial_spark.plans.joins import nearest_join
        from xarray_spatial_spark.sources.iceberg_format import read_iceberg

        t0 = now()
        df = read_iceberg(self.spark, self.table).select("doc_id", "lat", "lon", "n_chars")
        self.plan_s = now() - t0
        out = [("sources.scan", df)]
        df = assign_cells(df, I.GEO_ZOOM, I.GEO_TILE_ZOOM)
        out.append(("operators.tiling.assign_cells", df))
        df = pip_join_expr(df, self.polygons, zone_col="pip_zone")
        out.append(("operators.pip.join", df))
        df = nearest_join(df, self.cities, target_payload="city_id", metric="GREAT_CIRCLE")
        out.append(("operators.proximity.nearest", df))
        zv = df.select(F.col("tile_id").alias("zone"),
                       F.col("n_chars").cast("double").alias("value"),
                       "pip_zone", "nearest_dist", "nearest_payload")
        v = F.col("value")
        stats = zonal.stats(zv, stats_funcs={
            "count": F.count(v), "sum": F.sum(v), "mean": F.avg(v),
            "min": F.min(v), "max": F.max(v), "var": F.var_pop(v),
            "std": F.stddev_pop(v), "pip_hits": F.count("pip_zone"),
            "zone_sum": F.sum("pip_zone"), "near_m_sum": F.sum("nearest_dist"),
            "city_sum": F.sum("nearest_payload"),
        })
        out.append(("operators.zonal.stats", stats))
        return out

    def execute(self, mark=no_mark):
        return self.prefixes()[-1][1].collect()

    def check(self, rows) -> list[str]:
        errors = []
        got = {int(r["zone"]): r for r in rows}
        if set(got) != set(self.reference):
            errors.append(f"tile sets differ: {len(got)} vs {len(self.reference)} tiles")
        for tile in set(got) & set(self.reference):
            for name, want in zip(I.GEO_STATS, self.reference[tile]):
                have = got[tile][name]
                have = 0.0 if have is None else float(have)
                ok = have == want if name in I.GEO_EXACT else math.isclose(
                    have, want, rel_tol=1e-9, abs_tol=1e-6)
                if not ok:
                    errors.append(f"tile {tile} {name}: {have!r} != {want!r}")
        return errors[:10]

    def cleanup(self, rows) -> None:
        pass

    def hit_ratio(self, rows) -> float:
        return sum(r["pip_hits"] for r in rows) / max(1, sum(r["count"] for r in rows))


class Ingest:
    """Raw wide pages -> extract_text -> S2 cells (Arrow UDF) ->
    2000-polygon PIP (broadcast R-tree, Python) -> Iceberg write to a
    fresh table, identity-partitioned by coarse S2 tile -> read-back
    with a partition filter."""

    unit = "docs"
    executions = 2

    def __init__(self, spark, inp: I.Inputs, scratch: Path):
        self.spark = spark
        self.raw = str(inp.dir / "raw")
        self.meta = inp.meta
        arrays = inp.arrays()
        self.polygons = I.polygons_of(arrays)
        self.sample = (arrays["sample_lon"], arrays["sample_lat"])
        self.items = inp.meta["docs"]
        self.input_bytes = inp.meta["input_bytes"]
        self.sample_ids = sorted(int(k) for k in inp.meta["sample"])
        self.scratch = scratch
        self.count = 0
        self.table = ""
        self.plan_s = 0.0
        self.stored: list[int] = []  # table bytes of each execution

    def prefixes(self):
        from xarray_spatial_spark.operators.pip import pip_join_expr
        from xarray_spatial_spark.operators.tiling import assign_cells_s2
        from xarray_spatial_spark.sources.documents import extract_text

        raw = self.spark.read.parquet(self.raw).select(
            "url", "warc_ts", "html", "text", "lang", "lat", "lon", "doc_id")
        out = [("sources.scan", raw)]
        extracted = extract_text(F.col("html"))
        df = raw.select("doc_id", "url", "warc_ts", "lang", "lat", "lon",
                        extracted.alias("text"),
                        (extracted == F.col("text")).alias("text_match"))
        out.append(("sources.documents.extract_text", df))
        df = assign_cells_s2(df, I.S2_LEVEL, I.S2_TILE_LEVEL)
        out.append(("operators.tiling.assign_cells_s2", df))
        df = pip_join_expr(df, self.polygons)
        out.append(("operators.pip.join", df))
        return out

    def new_table(self) -> str:
        self.count += 1
        self.table = str(self.scratch / f"ingest-{self.count:05d}")
        shutil.rmtree(self.table, ignore_errors=True)
        return self.table

    def write(self, df) -> None:
        from xarray_spatial_spark.sources.iceberg_format import write_iceberg

        write_iceberg(df, self.table, partition_by=["tile_id"])

    def read_back(self):
        from xarray_spatial_spark.sources.iceberg_format import read_iceberg

        t0 = now()
        back = read_iceberg(self.spark, self.table,
                            partition_filter={"tile_id": self.meta["hot_tile"]})
        self.plan_s = now() - t0
        summary = back.agg(
            F.count(F.lit(1)).alias("rows"), F.count("zone").alias("hits"),
            F.sum((~F.col("text_match")).cast("int")).alias("text_mismatches"),
            F.countDistinct("tile_id").alias("tiles"),
        ).collect()[0]
        rows = back.filter(F.col("doc_id").isin(self.sample_ids)).select(
            "doc_id", "text", "zone", "cell_id").collect()
        return summary, rows

    def execute(self, mark=no_mark):
        self.new_table()
        self.write(self.prefixes()[-1][1])
        mark("sources.iceberg_format.write")
        result = self.read_back()
        mark("sources.iceberg_format.read_back")
        return result

    def check(self, result) -> list[str]:
        from xarray_spatial_spark.sources.iceberg_format import snapshots

        summary, rows = result
        m = self.meta
        errors = []
        added = int(snapshots(self.table)[-1]["summary"]["added-records"])
        if added != m["docs"]:
            errors.append(f"wrote {added} rows, want {m['docs']}")
        want = {"rows": m["tile_rows"], "hits": m["tile_hits"], "text_mismatches": 0, "tiles": 1}
        for k, v in want.items():
            if (summary[k] or 0) != v:
                errors.append(f"read-back {k}: {summary[k]} != {v}")
        got = {int(r["doc_id"]): r for r in rows}
        if sorted(got) != self.sample_ids:
            errors.append(f"read-back sample has {len(got)} of {len(self.sample_ids)} docs")
        for doc, r in got.items():
            ref = m["sample"][str(doc)]
            zone = None if r["zone"] is None or math.isnan(r["zone"]) else float(r["zone"])
            if r["text"].encode() != ref["text"].encode():
                errors.append(f"doc {doc}: extracted text differs")
            if zone != ref["zone"] or int(r["cell_id"]) != ref["cell_id"]:
                errors.append(f"doc {doc}: zone/cell {zone}/{r['cell_id']} != "
                              f"{ref['zone']}/{ref['cell_id']}")
        return errors[:10]

    def stored_bytes(self) -> int:
        return sum(p.stat().st_size for p in Path(self.table).rglob("*") if p.is_file())

    def cleanup(self, result) -> None:
        self.stored.append(self.stored_bytes())
        shutil.rmtree(self.table, ignore_errors=True)


class Stencil:
    """Stored float32 dense-tile terrain -> slope, hillshade, focal mean,
    a fused mean/slope/mean chain, and connected regions of the land
    classes, each with the default halo dispatch."""

    unit = "cell-ops"
    executions = 1
    # the fused chain runs three kernels in one halo exchange
    PASSES = 7

    def __init__(self, spark, inp: I.Inputs, scratch: Path):
        self.spark = spark
        self.path = str(inp.dir / "terrain")
        self.meta = inp.meta
        self.reference = inp.arrays()
        self.tiles = [tuple(t) for t in inp.meta["sample_tiles"]]
        self.items = inp.meta["cells"] * self.PASSES

    def ops(self):
        from xarray_spatial_spark import tiled
        from xarray_spatial_spark.operators import focal, surface
        from xarray_spatial_spark.operators.regions import regions_tiled

        chain = tiled.fuse_stencils([focal.mean_stencil(), surface.slope_stencil(),
                                     focal.mean_stencil()])
        return [
            ("operators.surface.slope", "slope", "value", surface.slope),
            ("operators.surface.hillshade", "hillshade", "value", surface.hillshade),
            ("operators.focal.mean", "mean", "value", focal.mean),
            ("tiled.fused_chain", "fused", "value",
             lambda t: tiled.apply_stencil_tiled(t, *chain)),
            ("operators.regions.regions_tiled", "regions", "region",
             lambda t: regions_tiled(t, value_col="cls")),
        ]

    def read(self):
        from xarray_spatial_spark import tiled

        return tiled.read(self.spark, self.path)

    def sampled(self, out, band):
        keep = F.lit(False)
        for ty, tx in self.tiles:
            keep = keep | ((F.col("ty") == ty) & (F.col("tx") == tx))
        return out.filter(keep).select("ty", "tx", "h", "w", band).collect()

    def execute(self, mark=no_mark):
        t = self.read()
        mark("tiled.read")
        out = {}
        for name, key, band, fn in self.ops():
            out[key] = self.sampled(fn(t), band)
            mark(name)
        return out

    def prefixes(self):
        return [("tiled.read", self.read())]

    def check(self, result) -> list[str]:
        errors = []
        for key, rows in result.items():
            if sorted((int(r["ty"]), int(r["tx"])) for r in rows) != sorted(self.tiles):
                errors.append(f"{key}: sampled tiles missing")
                continue
            for r in rows:
                h, w = int(r["h"]), int(r["w"])
                blob = r[-1]
                got = np.frombuffer(blob, np.float64 if len(blob) == 8 * h * w
                                    else np.float32).reshape(h, w)
                want = self.reference[f"{key}_{int(r['ty'])}_{int(r['tx'])}"]
                nan_ok = np.array_equal(np.isnan(got), np.isnan(want))
                if key == "regions":
                    ok = nan_ok and np.array_equal(got, want, equal_nan=True)
                else:
                    ok = nan_ok and np.allclose(got, want, rtol=1e-5, atol=1e-5,
                                                equal_nan=True)
                if not ok:
                    errors.append(f"{key} tile {r['ty']},{r['tx']} differs")
        return errors[:10]

    def cleanup(self, result) -> None:
        # regions_tiled persists its per-tile labelling pass and hands
        # back no handle to release it; drop it so executions stay
        # independent
        self.spark.catalog.clearCache()


WORKLOADS = {"geojoin": GeoJoin, "ingest": Ingest, "stencil": Stencil}
