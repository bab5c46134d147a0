"""Benchmark entry point.

    python3 perfbench/run.py --workload geojoin --seed 1 --seconds 10 --trace 0

Runs one workload (``geojoin``, ``ingest`` or ``stencil``) in this
process against the package in the checkout that holds this file, with
the package's default settings.  The run:

1. builds (or reuses) the workload's seeded inputs under ``.perfbench/``;
2. starts a SparkSession sized to the host through the environment
   variables ``session.py`` reads, registers the input (for geojoin,
   commits the doc table) and runs one untimed warm-up execution --
   together the set-up;
3. runs closed-loop executions (one client; each starts when the
   previous one finished) for ``--seconds``, checking every output
   against the numpy reference;
4. with ``--trace 1``, spends the second half of the window on traced
   executions that time each layer.

Set-up is measured once per run: one set-up costs a fresh JVM, the
Python workers' start and the first execution's compiles, 20-30 s on a
4-CPU host, so repeating it inside a run would cost more than the run
itself.  For the same reason a run with a short ``--seconds`` times a
fixed, small number of executions (the workload's ``executions``).
Their bounded cost is the CPU time of the work the program does for
them -- Spark's task CPU, the Python workers and the driver thread that
builds the plan -- which repeats across runs where wall time and the
JVM's compiler threads do not.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
the workload's own names for its end-to-end metrics.  A full record of
the run (host state, settings, every execution, spans) is written to
``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
WORKLOAD_NAMES = ("geojoin", "ingest", "stencil")
DRIVER_MEMORY_MB = 2048


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment() -> dict[str, str]:
    """Fit the session to the host and keep every file inside the
    checkout.  Only variables ``session.py`` and the JVM already read."""
    from probes import mem_total_bytes

    mem_mb = mem_total_bytes() >> 20
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEMORY": f"{min(DRIVER_MEMORY_MB, mem_mb // 4)}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        # no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


class Session:
    """A SparkSession in a JVM of its own: entering launches the JVM,
    leaving stops the session and waits for the JVM to exit."""

    def __enter__(self) -> Session:
        from xarray_spatial_spark import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = self._gateway().proc.pid
        return self

    @staticmethod
    def _gateway():
        from pyspark import SparkContext

        return SparkContext._gateway

    def __exit__(self, *exc) -> None:
        from pyspark import SparkContext

        gateway = self._gateway()
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def setup(session: Session, inp, scratch: Path) -> tuple[object, dict]:
    """Register the input and run one warm-up execution (timed as part
    of set-up, checked but not counted as an execution).  Returns the
    workload and the set-up record."""
    from probes import SparkCounters, delta
    from workloads import WORKLOADS

    counters = SparkCounters(session.spark)
    before = counters.snapshot()
    t0 = time.perf_counter()
    w = WORKLOADS[inp.workload](session.spark, inp, scratch)
    result = w.execute()
    warm_s = time.perf_counter() - t0
    errors = w.check(result)
    w.cleanup(result)
    if errors:
        raise RuntimeError(f"warm-up output is wrong: {errors}")
    counts = delta(before, counters.snapshot())
    return w, {"start_s": session.start_s, "register_and_warmup_s": warm_s,
               "setup_s": session.start_s + warm_s,
               "python_worker_start_s": counts["python_start_s"]}


def run_one(w, cpu) -> dict:
    """One execution: its wall time, the CPU seconds ``cpu()`` counted
    meanwhile (per part), and its check result.  Checks and clean-up are
    untimed."""
    c0, t0 = cpu(), time.perf_counter()
    result = None
    try:
        result = w.execute()
        elapsed, c1 = time.perf_counter() - t0, cpu()
        errors = w.check(result)
    except Exception:  # a failed execution is counted, not fatal
        elapsed, c1 = time.perf_counter() - t0, cpu()
        errors = [traceback.format_exc(limit=3)]
    used = {k: v - c0[k] for k, v in c1.items()}
    if result is not None:
        w.cleanup(result)
    return {"s": elapsed, "cpu_s": used["tasks"] + used["workers"] + used["driver"],
            "cpu_parts_s": used, "ok": not errors, "errors": errors}


def closed_loop(w, cpu, seconds: float, record: list[dict]) -> None:
    """Executions back to back until ``seconds`` have passed and at
    least the workload's ``executions`` ran."""
    deadline = time.perf_counter() + seconds
    n = 0
    while n < w.executions or time.perf_counter() < deadline:
        record.append(run_one(w, cpu))
        n += 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "xarray_spatial_spark" / "__init__.py").is_file():
        print(f"no xarray_spatial_spark package beside {Path(__file__).parent.name}/",
              file=sys.stderr)
        return 2
    env = configure_environment()
    sys.path.insert(0, str(ROOT))

    import inputs
    import probes
    import tracing

    t0 = time.perf_counter()
    inp = inputs.prepare(args.workload, args.seed, WORK / "inputs")
    record = {
        "args": vars(args), "env": env, "host_before": probes.host_state(),
        "inputs": {"dir": inp.dir.name, "prepare_s": time.perf_counter() - t0,
                   "build_s": inp.meta.get("build_s")},
        "executions": [],
    }

    scratch = WORK / "tables" / str(os.getpid())
    shutil.rmtree(scratch, ignore_errors=True)
    with Session() as s:
        w, record["setup"] = setup(s, inp, scratch)
        record["host_state"] = probes.host_state(s.spark)
        counters = probes.SparkCounters(s.spark)
        heap = counters.heap_committed_bytes()
        cpu0, wall0 = probes.cpu_seconds(s.jvm_pid), time.perf_counter()

        def cpu() -> dict[str, float]:
            # Spark's tasks, the Python workers and this thread's plan
            # building; the JVM as a whole (compiler, GC and driver
            # threads too) only for the record
            return {"tasks": counters.task_cpu_s(),
                    "workers": probes.worker_cpu_seconds(s.jvm_pid),
                    "driver": time.thread_time(),
                    "jvm": probes.cpu_seconds(s.jvm_pid)}

        with probes.RssSampler(s.jvm_pid) as rss:
            if args.trace:
                traced = tracing.TracedRun(w, s.spark, record)
                closed_loop(w, cpu, args.seconds / 2, record["executions"])
                traced.loop(args.seconds / 2)
            else:
                closed_loop(w, cpu, args.seconds, record["executions"])
        wall = time.perf_counter() - wall0
        record["delivered_cores"] = (probes.cpu_seconds(s.jvm_pid) - cpu0) / wall
        record["peak_rss_mb"] = rss.mb()
        record["heap_committed_mb"] = heap / 2 ** 20
        record["rss_samples"] = rss.samples
        record["processes_at_peak_rss"] = rss.peak_processes
        if args.workload == "ingest":
            record["bytes_stored_per_input_byte"] = tracing.stored_ratio(w)
    shutil.rmtree(scratch, ignore_errors=True)
    record["host_after"] = probes.host_state()
    record["inputs"].update(tracing.input_size(inp))

    report, final = tracing.summarize(args, w, record)
    record["report"] = report
    record["result"] = final
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}.json"
    (runs / name).write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "report": report}))
    print(json.dumps(final), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
