"""The scripts under tools/ (and bench.py) call the library by module
attribute, e.g. ``graph.fused_motif_features``. Nothing runs them in the
suite, so a library rename or deletion would break them silently. This
Spark-free check parses each script and asserts that every
``<alias>.<attr>`` on an imported library module resolves."""

from __future__ import annotations

import ast
import importlib
import pathlib
import types

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "anomaly_detector_faironchain_spark"
SCRIPTS = sorted((ROOT / "tools").glob("*.py")) + [ROOT / "bench.py"]


def _module_aliases(tree: ast.AST) -> dict[str, types.ModuleType]:
    """alias -> library module, for every import of a library MODULE
    anywhere in the file (top level or inside a function)."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] == PKG:
            for a in node.names:
                try:
                    mod = importlib.import_module(f"{node.module}.{a.name}")
                except ModuleNotFoundError:
                    continue  # a function or class, not a module
                out[a.asname or a.name] = mod
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG and a.asname:
                    out[a.asname] = importlib.import_module(a.name)
    return out


def _unresolved(source: str, filename: str = "<src>") -> list[str]:
    tree = ast.parse(source, filename=filename)
    mods = _module_aliases(tree)
    return sorted({
        f"{node.value.id}.{node.attr} (line {node.lineno})"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name) and node.value.id in mods
        and not hasattr(mods[node.value.id], node.attr)
    })


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_calls_only_existing_library_names(path):
    missing = _unresolved(path.read_text(), str(path))
    assert not missing, f"{path.name} uses deleted library names: {missing}"


def test_the_check_flags_a_deleted_name():
    assert _unresolved(
        "from anomaly_detector_faironchain_spark.operators import graph as g\n"
        "def f():\n"
        "    from anomaly_detector_faironchain_spark.operators import text\n"
        "    return g.fused_motif_features, g.egonet_features, text.nope\n"
    ) == ["g.egonet_features (line 4)", "text.nope (line 4)"]
