"""Session defaults fit the host: no JVM is started here."""

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
