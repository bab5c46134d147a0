"""Import guard (no SparkSession): every ``xarray_spatial_spark.*``
import in the package and its entry points names a module or attribute
that exists — including imports inside function bodies, which only
fail on the code path that runs them — and every package module
imports cleanly."""

import ast
import importlib
import pkgutil
from pathlib import Path

import xarray_spatial_spark as xs

ROOT = Path(__file__).resolve().parent.parent
PKG = "xarray_spatial_spark"


def _sources() -> list[Path]:
    files = sorted((ROOT / PKG).rglob("*.py"))
    files += [ROOT / "__spark_entry__.py"]
    files += sorted(ROOT.glob("bench*.py"))
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


def _targets(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every package import in ``path``;
    ``name`` is None for a plain ``import module``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names
                    if a.name.split(".")[0] == PKG]
        elif isinstance(node, ast.ImportFrom):
            if node.level:  # relative: resolve against the file's package
                pkg = list(path.relative_to(ROOT).parent.parts)
                base = pkg[: len(pkg) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            if mod.split(".")[0] == PKG:
                out += [(node.lineno, mod, a.name) for a in node.names]
    return out


def _resolves(mod: str, name: str | None) -> bool:
    try:
        m = importlib.import_module(mod)
    except ModuleNotFoundError:
        return False
    if name is None or name == "*" or hasattr(m, name):
        return True
    try:  # a submodule named in ``from package import submodule``
        importlib.import_module(f"{mod}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_every_package_import_target_exists():
    missing = [
        f"{path.relative_to(ROOT)}:{line}: {mod}" + (f".{name}" if name else "")
        for path in _sources()
        for line, mod, name in _targets(path)
        if not _resolves(mod, name)
    ]
    assert not missing, "dangling imports:\n" + "\n".join(missing)


def test_guard_catches_dangling_lazy_import(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "def f():\n"
        f"    from {PKG}.operators.zonal import stats\n"
        f"    from {PKG}.operators.no_such_module import g\n"
    )
    found = [(mod, name) for _, mod, name in _targets(src)]
    assert found == [(f"{PKG}.operators.zonal", "stats"),
                     (f"{PKG}.operators.no_such_module", "g")]
    assert [_resolves(m, n) for m, n in found] == [True, False]


def test_every_package_module_imports():
    for mod in pkgutil.walk_packages(xs.__path__, f"{PKG}."):
        importlib.import_module(mod.name)


def test_lazy_names_resolve():
    for name in xs._LAZY:
        assert callable(getattr(xs, name)), name
