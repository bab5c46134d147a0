"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join), Arrow on (every Python-side
kernel is a vectorized pandas UDF), shuffle partitions sized to
cores rather than the 200 default.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors — the programmatic
    equivalent of ``spark-submit --py-files pkg.zip`` (north rule's
    deployment mode).  Local mode still needs it: Python workers are
    separate processes that do not inherit the driver's sys.path.

    The zip is named by a hash of the package sources, so an edited
    checkout never ships a zip built from older code."""
    sources = sorted(_PKG_DIR.rglob("*.py"))
    digest = hashlib.sha256()
    for p in sources:
        digest.update(p.relative_to(_PKG_DIR).as_posix().encode() + b"\0")
        digest.update(p.read_bytes() + b"\0")
    zpath = (Path(tempfile.gettempdir())
             / f"xarray_spatial_spark_pyfiles-{digest.hexdigest()[:16]}.zip")
    if not zpath.exists():
        tmp = zpath.with_suffix(".tmp.zip")
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sources:
                z.write(p, Path(_PKG_DIR.name) / p.relative_to(_PKG_DIR))
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(str(zpath))


_MAX_HEAP_MB = 16 << 10


def default_cpus() -> int:
    """Cores this process may run on (its CPU affinity, which honours
    container/cgroup pinning), unless ``SPARK_GRAFT_CPUS`` overrides."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Driver heap: ``SPARK_DRIVER_MEMORY`` if set, else a quarter of
    physical RAM (the JVM's own default max-heap share) capped at 16g.
    The heap is committed and pre-touched at start-up (see below), so
    it must fit the host's free memory, not just its address space."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(_MAX_HEAP_MB, (phys >> 20) // 4)}m"


def get_spark(
    app_name: str = "xarray_spatial_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or f"local[{default_cpus()}]"
    if shuffle_partitions is None:
        # local[N] or local[*]
        n = master[master.index("[") + 1: -1] if "[" in master else "*"
        shuffle_partitions = default_cpus() if n == "*" else int(n)
    heap = default_driver_memory()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch Python overhead in
        # mapInPandas/applyInPandas hot paths (rows here are narrow)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # the default 100-entry whole-stage-codegen class cache
        # thrashes under a many-query workload (each query compiles
        # 10-20 units; an interleaved 60-query suite recompiles
        # EVERYTHING every pass — measured +20-45% on small pure-
        # Catalyst queries).  Cached classes are tiny; hold thousands.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # at most 16g: an oversized heap collapses 32-thread
        # throughput ~7x (first-touch page faults across a huge young
        # gen dominate; measured sha2-100M on a 32-core VM: 48g->24s,
        # 16g->2.8s at local[32]). Real clusters size executors the
        # same way: several smaller JVMs beat one giant heap.
        .config("spark.driver.memory", heap)
        # -Xms = -Xmx + AlwaysPreTouch: commit the whole heap at
        # startup.  Lazy heap growth page-faults DURING jobs (measured:
        # 60%+ kernel time bursts and 2-5x run-to-run variance on the
        # tiled stencil bench); pre-touching moves that cost to session
        # startup.  32m G1 regions keep multi-MB tile blobs out of the
        # humongous-allocation path.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+AlwaysPreTouch -XX:+UseG1GC -Xms{heap}"
            " -XX:G1HeapRegionSize=32m",
        )
        # NOTE on spark.sql.parquet.columnarReaderBatchSize: the 4096
        # default is right for narrow tables (8-row batches cost a
        # 12x slowdown on the documents scan) but overflows/OOMs the
        # vectorized reader on dense-tile rasters (4096 x multi-MB
        # binary cells).  The conf is captured at ACTION time, so
        # ``tiled.read`` sets a tile-sized value on the session; use
        # ``tiled.table_scan_conf(spark)`` to flip back in mixed
        # pipelines.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # wide tables + pruned scans: 128m splits create 8x more tasks
        # than the pruned bytes warrant; 512m keeps task count ~ cores
        .config("spark.sql.files.maxPartitionBytes", "512m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
