"""The traced run and the summary of a run into its printed metrics.

A traced execution first materializes each plan prefix of the workload
to the no-op sink, one layer longer each time; a layer's self time is
the difference between consecutive prefixes.  These are estimates:
whole-stage codegen fuses layers, so a prefix that ends at a layer does
not run exactly the code that layer runs inside the full plan.  It then
runs the full execution, closing a span at each step the workload marks
and reading the status-store counters at every span boundary.  The full
execution's wall time against the untraced executions' median is the
tracing overhead.
"""

from __future__ import annotations

import statistics
import traceback

import inputs as I
from probes import Span, SparkCounters, delta, mem_total_bytes, now
from workloads import materialize

END_TO_END_UNITS = {"setup_s": "s", "items_per_cpu_s": "1/cpu_s",
                    "jvm_nonheap_peak_rss_mb": "MB"}

# per-layer metric -> unit; a workload that bypasses a layer reports 0
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "spark.python_worker_start_s": "s",
    "sources.iceberg_format.plan_s": "s",
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "sources.iceberg_format.write_s": "s",
    "sources.iceberg_format.commit_s": "s",
    "sources.iceberg_format.files_written": "count",
    "sources.iceberg_format.files_pruned_ratio": "ratio",
    "sources.iceberg_format.bytes_stored_per_input_byte": "ratio",
    "sources.documents.extract_text_s": "s",
    "operators.tiling.assign_cells_s": "s",
    "operators.tiling.assign_cells_s2_s": "s",
    "operators.tiling.assign_cells_s2.python_bytes_sent": "bytes",
    "operators.tiling.assign_cells_s2.python_bytes_received": "bytes",
    "operators.pip.join_s": "s",
    "operators.pip.hit_ratio": "ratio",
    "operators.pip.python_run_s": "s",
    "operators.pip.candidates_per_point": "count",
    "operators.proximity.nearest_s": "s",
    "operators.zonal.stats_s": "s",
    "operators.zonal.shuffle_bytes": "bytes",
    "tiled.read_s": "s",
    "tiled.halo_bytes_per_raster_byte": "ratio",
    "tiled.python_run_s": "s",
    "operators.surface.slope_s": "s",
    "operators.surface.hillshade_s": "s",
    "operators.focal.mean_s": "s",
    "tiled.fused_chain_s": "s",
    "operators.regions.regions_tiled_s": "s",
    "spark.executor_run_s": "s",
    "spark.cores_used": "cores",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "python.workers_peak_rss_mb": "MB",
    "cpu.tasks_s": "cpu_s",
    "cpu.python_workers_s": "cpu_s",
    "cpu.driver_s": "cpu_s",
    "trace.overhead_ratio": "ratio",
    "wall.items_per_s": "1/s",
}

STENCIL_OPS = ("operators.surface.slope", "operators.surface.hillshade",
               "operators.focal.mean", "tiled.fused_chain",
               "operators.regions.regions_tiled")


def input_size(inp: I.Inputs) -> dict:
    stored = {"geojoin": "staging", "ingest": "raw", "stencil": "terrain"}[inp.workload]
    n = inp.dir_bytes(stored)
    return {"input_bytes": n, "input_share_of_ram": n / mem_total_bytes()}


def stored_ratio(w) -> float:
    return statistics.median(w.stored) / w.input_bytes


def candidates_per_point(w) -> float:
    """Candidate polygons per point of the program's R-tree, measured
    from outside on the input's fixed sample of points."""
    from xarray_spatial_spark.operators.pip import PolygonSet

    lon, lat = w.sample
    pairs, _ = PolygonSet(w.polygons, index="rtree").rtree.query_pairs(lon, lat)
    return len(pairs) / len(lon)


class TracedRun:
    def __init__(self, w, spark, record: dict):
        self.w = w
        self.spark = spark
        self.record = record
        self.counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self.layers: list[dict[str, float]] = []
        self.fixed = {}
        if hasattr(w, "polygons"):
            self.fixed["operators.pip.candidates_per_point"] = candidates_per_point(w)

    def loop(self, seconds: float) -> None:
        deadline = now() + seconds
        k = 0
        while k == 0 or now() < deadline:
            self.execution(k)
            k += 1
        self.record["spans"] = [s.record() for s in self.spans]
        self.record["traced_layers"] = self.layers

    def _add(self, span: Span) -> Span:
        self.spans.append(span)
        return span

    def _prefixes(self, k: int):
        """Materialize each prefix; (name, wall s, counters) per prefix."""
        t0 = now()
        prefixes = self.w.prefixes()
        plan_s = now() - t0
        out = []
        for name, df in prefixes:
            before = self.counters.snapshot()
            s = now()
            materialize(df)
            e = now()
            span = self._add(Span(name, k, "execution", s, e,
                                  delta(before, self.counters.snapshot()), True))
            out.append((name, e - s, span.counters))
        return plan_s, out

    def execution(self, k: int) -> None:
        w, counters = self.w, self.counters
        plan_s, prefixes = self._prefixes(k)
        marks: dict[str, Span] = {}
        total: dict[str, float] = {}
        last = [now(), counters.snapshot()]

        def close(name: str) -> Span:
            snap = counters.snapshot()
            span = self._add(Span(name, k, "execution", last[0], now(),
                                  delta(last[1], snap)))
            for key, v in span.counters.items():
                total[key] = total.get(key, 0.0) + v
            last[0], last[1] = now(), snap
            return span

        def mark(name: str) -> None:
            marks[name] = close(name)

        start = now()
        try:
            result = w.execute(mark)
            close("execution.rest")
            wall = now() - start
            errors = w.check(result)
        except Exception:  # counted as a failed execution
            self.record["executions"].append(
                {"s": now() - start, "ok": False,
                 "errors": [traceback.format_exc(limit=3)], "traced": True})
            return
        self._add(Span("execution", k, None, start, start + wall, dict(total)))
        self.record["executions"].append(
            {"s": wall, "ok": not errors, "errors": errors, "traced": True})
        m = {
            "spark.executor_run_s": total["run_s"],
            "spark.cores_used": total["run_s"] / wall,
            "spark.gc_s": total["gc_s"],
            "spark.spill_bytes": total["spill_bytes"],
            "spark.failed_tasks": total["failed_tasks"],
            **self.fixed,
        }
        getattr(self, "_" + type(w).__name__.lower())(m, plan_s, prefixes, marks, result)
        w.cleanup(result)
        self.layers.append(m)

    @staticmethod
    def _steps(prefixes):
        """Self time of each prefix: its wall minus the previous one's."""
        walls = [p[1] for p in prefixes]
        return [b - a for a, b in zip([0.0] + walls, walls)]

    def _geojoin(self, m, plan_s, prefixes, marks, rows) -> None:
        scan, cells, pip, near, zonal = self._steps(prefixes)
        c = [p[2] for p in prefixes]
        m.update({
            "sources.iceberg_format.plan_s": self.w.plan_s,
            "sources.scan_s": scan,
            "sources.bytes_read": c[0]["files_read_bytes"],
            "operators.tiling.assign_cells_s": cells,
            "operators.pip.join_s": pip,
            "operators.pip.python_run_s": c[2]["python_run_s"] - c[1]["python_run_s"],
            "operators.pip.hit_ratio": self.w.hit_ratio(rows),
            "operators.proximity.nearest_s": near,
            "operators.zonal.stats_s": zonal,
            "operators.zonal.shuffle_bytes": c[4]["shuffle_write_bytes"],
        })

    def _ingest(self, m, plan_s, prefixes, marks, result) -> None:
        from pyspark.sql import functions as F

        from xarray_spatial_spark.sources.iceberg_format import data_files, read_iceberg

        scan, extract, s2, pip = self._steps(prefixes)
        c = [p[2] for p in prefixes]
        write = marks["sources.iceberg_format.write"]
        table = self.w.table
        files = len(data_files(table))
        kept = len(data_files(table, partition_filter={"tile_id": self.w.meta["hot_tile"]}))
        hits = read_iceberg(self.spark, table).agg(
            (F.count("zone") / F.count(F.lit(1))).alias("r")).collect()[0]["r"]
        m.update({
            "sources.iceberg_format.plan_s": self.w.plan_s,
            "sources.scan_s": scan,
            "sources.bytes_read": c[0]["files_read_bytes"],
            "sources.documents.extract_text_s": extract,
            "operators.tiling.assign_cells_s2_s": s2,
            "operators.tiling.assign_cells_s2.python_bytes_sent": c[2]["python_bytes_sent"],
            "operators.tiling.assign_cells_s2.python_bytes_received":
                c[2]["python_bytes_received"],
            "operators.pip.join_s": pip,
            "operators.pip.python_run_s": c[3]["python_run_s"] - c[2]["python_run_s"],
            "operators.pip.hit_ratio": float(hits),
            "sources.iceberg_format.write_s": write.end - write.start - prefixes[-1][1],
            "sources.iceberg_format.commit_s": write.end - write.start - write.counters["job_s"],
            "sources.iceberg_format.files_written": files,
            "sources.iceberg_format.files_pruned_ratio": 1 - kept / files,
            "sources.iceberg_format.bytes_stored_per_input_byte":
                self.w.stored_bytes() / self.w.input_bytes,
        })

    def _stencil(self, m, plan_s, prefixes, marks, result) -> None:
        (_, read_wall, _), = prefixes
        raster_bytes = self.w.meta["raster_bytes"]
        ops = {name: marks[name] for name in STENCIL_OPS}
        m.update({
            "tiled.read_s": plan_s + read_wall,
            "tiled.halo_bytes_per_raster_byte":
                ops["operators.surface.slope"].counters["shuffle_write_bytes"] / raster_bytes,
            "tiled.python_run_s": sum(s.counters["python_run_s"] for s in ops.values()),
        })
        for name, span in ops.items():
            m[name + "_s"] = span.end - span.start - read_wall


def summarize(args, w, record: dict) -> tuple[dict, dict]:
    """(report with the workload's own metric names, the final result)."""
    execs = record["executions"]
    timed = [e for e in execs if e["ok"] and not e.get("traced")]
    failed = sum(not e["ok"] for e in execs)
    p50 = statistics.median(e["s"] for e in timed) if timed else float("inf")
    cpu_p50 = statistics.median(e["cpu_s"] for e in timed) if timed else float("inf")
    throughput, per_cpu = w.items / p50, w.items / cpu_p50
    parts = {k: statistics.median(e["cpu_parts_s"][k] for e in timed) if timed else 0.0
             for k in ("tasks", "workers", "driver", "jvm")}
    setup_s = record["setup"]["setup_s"]
    rss = record["peak_rss_mb"]
    nonheap = rss["jvm"] - record["heap_committed_mb"]
    items = "docs" if w.unit == "docs" else "cells"
    report = {
        "setup_s": {"value": setup_s, "unit": "s"},
        f"{items}_per_s": {"value": throughput, "unit": f"{items}/s"},
        f"{items}_per_cpu_s": {"value": per_cpu, "unit": f"{items}/cpu_s"},
        "execution_p50_s": {"value": p50, "unit": "s"},
        "execution_cpu_p50_s": {"value": cpu_p50, "unit": "cpu_s"},
        "execution_all_cpu_p50_s": {
            "value": parts["jvm"] + parts["workers"] + parts["driver"], "unit": "cpu_s"},
        "peak_rss_mb": {"value": rss["total"], "unit": "MB"},
        "jvm_peak_rss_mb": {"value": rss["jvm"], "unit": "MB"},
        "jvm_nonheap_peak_rss_mb": {"value": nonheap, "unit": "MB"},
        "fail_ratio": {"value": failed / len(execs), "unit": "ratio"},
        "samples": {"value": len(timed), "unit": "count"},
    }
    if "bytes_stored_per_input_byte" in record:
        report["bytes_stored_per_input_byte"] = {
            "value": record["bytes_stored_per_input_byte"], "unit": "ratio"}
    if args.trace:
        layers = record.get("traced_layers") or [{}]
        values = {
            name: statistics.median(l.get(name, 0.0) for l in layers)
            for name in PER_LAYER_UNITS
        }
        values["session.start_s"] = record["setup"]["start_s"]
        values["spark.python_worker_start_s"] = record["setup"]["python_worker_start_s"]
        full = [e["s"] for e in execs if e["ok"] and e.get("traced")]
        values["trace.overhead_ratio"] = (statistics.median(full) / p50 - 1) if full else 0.0
        values["python.workers_peak_rss_mb"] = rss["workers"]
        values["cpu.tasks_s"] = parts["tasks"]
        values["cpu.python_workers_s"] = parts["workers"]
        values["cpu.driver_s"] = parts["driver"]
        values["wall.items_per_s"] = throughput
        report["trace.overhead_ratio"] = {"value": values["trace.overhead_ratio"], "unit": "ratio"}
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in values.items()}
    else:
        values = {"setup_s": setup_s, "items_per_cpu_s": per_cpu,
                  "jvm_nonheap_peak_rss_mb": nonheap}
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    final = {"correct": failed == 0 and bool(timed), "attempted": len(execs),
             "failed": failed, "metrics": metrics}
    return report, final

