"""Tile-format guard (no SparkSession): only ``tiled.py`` knows the
tile row format — its blob layout, dtype-by-length rule and ``EDGE``
width.  Every other package module reads and writes tiles through
``tiled._tile_rows`` / ``tiled._tile_batch`` (and strips through
``tiled._strip_rows``)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "xarray_spatial_spark"

NAMES = {"_decode", "_DTYPES", "_halo_blobs", "_edge_blobs",
         "BLOB_SUFFIXES", "EDGE"}
SUFFIXES = ("__le", "__re", "__te", "__be")


def _leaks(path: Path) -> list[str]:
    """Each reference in ``path`` to a tile-format name of another
    module (``mod.NAME`` or ``from mod import NAME``) or to a blob
    column suffix in a string literal."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr in NAMES:
            out.append(f"{node.lineno}: .{node.attr}")
        elif isinstance(node, ast.ImportFrom):
            out += [f"{node.lineno}: import {a.name}" for a in node.names
                    if a.name in NAMES]
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.endswith(SUFFIXES)):
            out.append(f"{node.lineno}: {node.value!r}")
    return out


def test_only_tiled_knows_the_tile_format():
    leaks = {
        str(p.relative_to(ROOT)): found
        for p in sorted(PKG.rglob("*.py"))
        if p != PKG / "tiled.py" and (found := _leaks(p))
    }
    assert not leaks, leaks


def test_guard_sees_each_kind_of_leak(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "from xarray_spatial_spark.tiled import EDGE\n"
        "from xarray_spatial_spark import tiled as tl\n"
        "a = tl._decode(b'', 1, 1)\n"
        "b = f'{band}__te'\n"
    )
    assert [s.split(":")[0] for s in _leaks(src)] == ["1", "3", "4"]
