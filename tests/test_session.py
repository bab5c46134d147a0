"""Session defaults fit the host and the worker daemon keeps a safe
path: no JVM is started here."""

import os

from xarray_spatial_spark import session


def test_default_cpus_follow_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cpus() == 3


def test_default_driver_memory_fits_physical_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    phys_mb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 20
    heap = session.default_driver_memory()
    assert heap.endswith("m")
    assert int(heap[:-1]) == min(16 << 10, phys_mb // 4)
    assert int(heap[:-1]) < phys_mb  # pre-touched heap must fit the host


def test_default_driver_memory_capped_and_overridable(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    page = 4096
    fake = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (512 << 30) // page}
    monkeypatch.setattr(session.os, "sysconf", lambda k: fake[k])
    assert session.default_driver_memory() == "16384m"
    fake["SC_PHYS_PAGES"] = (8 << 30) // page
    assert session.default_driver_memory() == "2048m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert session.default_driver_memory() == "6g"


def test_ship_package_zip_follows_sources(monkeypatch, tmp_path):
    """An edited module ships in a new zip, never the stale one."""
    import tempfile
    import zipfile

    pkg = tmp_path / "src" / "xarray_spatial_spark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "mod.py").write_text("X = 1\n")
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(session, "_PKG_DIR", pkg)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    shipped = []

    class _Spark:
        class sparkContext:
            addPyFile = staticmethod(shipped.append)

    def ship() -> str:
        session.ship_package(_Spark)
        with zipfile.ZipFile(shipped[-1]) as z:
            return z.read("xarray_spatial_spark/mod.py").decode()

    assert ship() == "X = 1\n"
    (pkg / "mod.py").write_text("X = 2\n")
    assert ship() == "X = 2\n"
    assert shipped[0] != shipped[1]
    (pkg / "mod.py").write_text("X = 1\n")
    ship()
    assert shipped[2] == shipped[0]  # same sources, same zip


def _daemon():
    """``_worker/xss_daemon.py``, loaded by path: its directory is no
    package."""
    import importlib.util

    path = session._PKG_DIR / "_worker" / "xss_daemon.py"
    spec = importlib.util.spec_from_file_location("xss_daemon", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _spark_path(tmp_path, archived=("4.1.2", "0.10.9.9"), installed=("4.1.2", "0.10.9.9")):
    """A worker-like path: Spark's three archives first, then a
    site-packages directory with the installed pyspark and py4j
    (``None`` leaves one out)."""
    import zipfile

    lib = tmp_path / "lib"
    site = tmp_path / "site"
    lib.mkdir(parents=True)
    site.mkdir()
    ver = {"pyspark": "__version__: str = '{}'\n", "py4j": "__version__ = '{}'\n"}
    zips = {"pyspark": lib / "pyspark.zip", "py4j": lib / "py4j-0.10.9.9-src.zip"}
    for (pkg, fmt), a, i in zip(ver.items(), archived, installed):
        with zipfile.ZipFile(zips[pkg], "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", fmt.format(a))
        if i is not None:
            (site / pkg).mkdir()
            (site / pkg / "__init__.py").write_text("")
            (site / pkg / "version.py").write_text(fmt.format(i))
    jar = lib / "spark-core_2.13-4.1.2.jar"
    zipfile.ZipFile(jar, "w").close()
    return [str(tmp_path / "cwd"), str(zips["pyspark"]), str(zips["py4j"]), str(jar),
            str(tmp_path / "_worker"), "/nonexistent/python311.zip", str(site)]


def test_daemon_drops_spark_archives_when_versions_match(tmp_path):
    path = _spark_path(tmp_path)
    assert _daemon().lean_path(path) == [path[0], path[4], path[5], path[6]]


def test_daemon_keeps_stock_path_without_matching_install(tmp_path):
    """No unarchived pyspark or py4j, or another version of either: the
    daemon's path is the stock one."""
    lean_path = _daemon().lean_path
    for i, kw in enumerate([
        {"installed": (None, "0.10.9.9")},
        {"installed": ("4.1.2", None)},
        {"installed": ("4.1.1", "0.10.9.9")},
        {"installed": ("4.1.2", "0.10.9.7")},
        {"archived": ("4.2.0", "0.10.9.9")},
    ]):
        path = _spark_path(tmp_path / str(i), **kw)
        assert lean_path(path) == path, kw
    assert lean_path(["/a", "/b"]) == ["/a", "/b"]


def test_daemon_drops_cwd_decoy(tmp_path):
    """A checkout of the package in the working directory, which
    ``python -m`` puts first on the daemon's path, no longer shadows the
    shipped zip that ``setup_spark_files`` inserts at index 1."""
    import importlib.machinery
    import zipfile

    daemon = _daemon()
    path = _spark_path(tmp_path)
    cwd = path[0]
    decoy = tmp_path / "cwd" / "xarray_spatial_spark"
    decoy.mkdir(parents=True)
    (decoy / "__init__.py").write_text("")
    shipped = tmp_path / "xarray_spatial_spark_pyfiles-0123.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("xarray_spatial_spark/__init__.py", "")

    def origin(p):
        p = list(p)
        p.insert(1, str(shipped))
        spec = importlib.machinery.PathFinder.find_spec("xarray_spatial_spark", p)
        return spec.origin

    assert origin(daemon.lean_path(path)).startswith(str(decoy))
    lean = daemon.lean_path(daemon.without_cwd(path, cwd, False))
    assert cwd not in lean and lean == [path[4], path[5], path[6]]
    assert origin(lean).startswith(str(shipped) + os.sep)
    # -P / PYTHONSAFEPATH: the head is a chosen entry, kept
    assert daemon.without_cwd(path, cwd, True) == path
    assert daemon.without_cwd(path[1:], cwd, False) == path[1:]


def test_worker_conf_local_master_only():
    worker = str(session._PKG_DIR / "_worker")
    conf = session.worker_conf("local[4]", {"spark.x": "1"})
    assert conf == {"spark.x": "1", "spark.python.daemon.module": "xss_daemon",
                    "spark.executorEnv.PYTHONPATH": worker}
    assert session.worker_conf("local")["spark.python.daemon.module"] == "xss_daemon"
    for master in ("spark://host:7077", "yarn", "k8s://https://h:443", "local-cluster[2,1,1024]"):
        assert session.worker_conf(master) == {}
        assert session.worker_conf(master, {"spark.x": "1"}) == {"spark.x": "1"}


def test_worker_conf_keeps_caller_values():
    conf = session.worker_conf("local[2]", {
        "spark.python.daemon.module": "my_daemon",
        "spark.executorEnv.PYTHONPATH": "/deps"})
    assert conf["spark.python.daemon.module"] == "my_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(
        ["/deps", str(session._PKG_DIR / "_worker")])
