"""Python-worker CPU of one empty Spark task.

    python3 scripts/python_task_cost.py [--stock] [--rounds 3] [--tasks 100]

Starts a session through ``get_spark``, warms its Python workers, then
runs ``--rounds`` rounds of ``--tasks`` empty tasks (an identity ``map``
over ``parallelize(range(cores), cores)``, one job per ``cores`` tasks)
and prints, per round, the CPU seconds the JVM's Python workers spent
per task.  The CPU is read from the JVM's process tree in ``/proc`` by
``perfbench.probes.worker_cpu_seconds``, the accounting perfbench uses.

``--stock`` starts Spark's own ``pyspark.daemon`` instead of the
session's lean worker daemon (``_worker/xss_daemon.py``), for a
before/after on the same host.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import probes  # noqa: E402
from xarray_spatial_spark import get_spark  # noqa: E402
from xarray_spatial_spark.session import default_cpus  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--stock", action="store_true",
                    help="run Spark's stock pyspark.daemon")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--tasks", type=int, default=100)
    args = ap.parse_args()

    cores = default_cpus()
    extra = {"spark.python.daemon.module": "pyspark.daemon"} if args.stock else None
    spark = get_spark("python_task_cost", master=f"local[{cores}]", extra_conf=extra)
    sc = spark.sparkContext
    jvm = sc._gateway.proc.pid
    daemon = sc.getConf().get("spark.python.daemon.module", "pyspark.daemon")

    def job() -> None:
        sc.parallelize(range(cores), cores).map(lambda x: x).collect()

    job()  # start the daemon and its workers
    jobs = -(-args.tasks // cores)
    per_task = []
    for r in range(args.rounds):
        before = probes.worker_cpu_seconds(jvm)
        for _ in range(jobs):
            job()
        cpu = probes.worker_cpu_seconds(jvm) - before
        per_task.append(cpu / (jobs * cores))
        print(f"round {r + 1}: {jobs * cores} tasks, {cpu:.2f} worker CPU s, "
              f"{per_task[-1]:.4f} s per task")
    print(f"daemon {daemon}, local[{cores}]: worker CPU per task "
          f"{min(per_task):.4f}-{max(per_task):.4f} s")
    spark.stop()


if __name__ == "__main__":
    main()
