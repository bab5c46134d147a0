"""Spark's Python daemon, started on a path without Spark's archives.

Spark starts its Python daemon with ``pyspark.zip``, the py4j source
zip and the spark-core jar at the head of ``PYTHONPATH``.  Every task
then pays for them: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole directory (one importer per package directory imported from the
zip: 16 over the 1,328-entry ``pyspark.zip`` in a warm worker, plus the
5,359-entry jar).

When the same pyspark and py4j releases are installed unarchived, this
module drops those archives from ``sys.path`` and from the importer
cache.  It also drops the JVM's working directory, which ``python -m``
puts first: a checkout of the package there would shadow the shipped
zip that ``setup_spark_files`` inserts behind it.  Then it runs
``pyspark.daemon``; the workers it forks inherit the path.

``session.get_spark`` selects it on a ``local[...]`` master through
``spark.python.daemon.module``; cluster masters keep Spark's stock
daemon, unchanged.  This directory has no ``__init__.py``: the daemon
never imports the package it sits in.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile

_VERSION = re.compile(r"""^__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""", re.M)


def _spark_archive(entry: str) -> bool:
    """Whether ``entry`` is one of the archives Spark puts on the
    worker path: ``pyspark.zip``, ``py4j-*-src.zip`` or a jar."""
    name = os.path.basename(entry)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith(".zip")))


def _version(text: str) -> str | None:
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archived_version(archives: list[str], package: str) -> str | None:
    """``package``'s version in the first archive that holds it."""
    for entry in archives:
        try:
            with zipfile.ZipFile(entry) as z:
                return _version(z.read(f"{package}/version.py").decode())
        except (OSError, KeyError, zipfile.BadZipFile):
            continue
    return None


def _installed_version(dirs: list[str], package: str) -> str | None:
    """``package``'s version in the first directory that holds it, or
    None when no directory does."""
    for entry in dirs:
        init = os.path.join(entry or ".", package, "__init__.py")
        if os.path.isfile(init):
            try:
                with open(os.path.join(entry or ".", package, "version.py")) as f:
                    return _version(f.read())
            except OSError:
                return None
    return None


def lean_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives, when pyspark and py4j both
    resolve outside them at the archived versions; else ``path``
    unchanged (the stock daemon's path)."""
    archives = [p for p in path if _spark_archive(p)]
    rest = [p for p in path if not _spark_archive(p)]
    if not archives:
        return list(path)
    for package in ("pyspark", "py4j"):
        installed = _installed_version(rest, package)
        if installed is None or installed != _archived_version(archives, package):
            return list(path)
    return rest


def without_cwd(path: list[str], cwd: str, safe_path: bool) -> list[str]:
    """``path`` without the working directory ``cwd`` that ``python -m``
    put at its head; unchanged when ``safe_path`` (``-P`` or
    ``PYTHONSAFEPATH``) kept it off, as the head is then an entry the
    caller chose."""
    if not safe_path and path and path[0] == cwd:
        return list(path[1:])
    return list(path)


def _apply(lean: list[str]) -> None:
    """Make ``lean`` the process's path and forget the importers of
    every entry it dropped, including those of an archive's
    subdirectories (``pyspark.zip/pyspark/sql``)."""
    dropped = [p for p in sys.path if p not in lean]
    sys.path[:] = lean
    prefixes = tuple(p + os.sep for p in dropped)
    for key in list(sys.path_importer_cache):
        if key in dropped or key.startswith(prefixes):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    _apply(lean_path(without_cwd(sys.path, os.getcwd(), sys.flags.safe_path)))
    # sys.argv is left as Spark passed it: pyspark.daemon reads the
    # worker module from argv[1]
    runpy.run_module("pyspark.daemon", run_name="__main__")
