"""The scripts under tools/ (and bench.py) call the library by module
attribute, e.g. ``graph.fused_motif_features``, or by imported name.
Nothing runs them in the suite, so a library rename or deletion would
break them silently. This Spark-free check parses each script and
asserts that every ``<alias>.<attr>`` on an imported library module and
every ``from <library module> import <name>`` resolves, and that every
keyword argument passed to a resolved library callable is one of its
parameters (unless it takes ``**kwargs``)."""

from __future__ import annotations

import ast
import importlib
import inspect
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


def _imported_names(tree: ast.AST) -> tuple[dict[str, object], list[str]]:
    """name -> library object for every ``from <library module> import
    <name>`` anywhere in the file, and the imports that do not
    resolve."""
    out, missing = {}, []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] == PKG):
            continue
        for a in node.names:
            try:
                mod = importlib.import_module(node.module)
                obj = (getattr(mod, a.name) if hasattr(mod, a.name) else
                       importlib.import_module(f"{node.module}.{a.name}"))
            except ModuleNotFoundError:
                missing.append(
                    f"from {node.module} import {a.name} (line {node.lineno})")
                continue
            out[a.asname or a.name] = obj
    return out, missing


def _unknown_keywords(call: ast.Call, fn, label: str) -> list[str]:
    """Keywords of ``call`` that are not parameters of ``fn``."""
    try:
        params = inspect.signature(fn).parameters
    except (TypeError, ValueError):
        return []  # not introspectable
    if any(p.kind is p.VAR_KEYWORD for p in params.values()):
        return []
    return [
        f"{label}({kw.arg}=) (line {call.lineno})"
        for kw in call.keywords
        if kw.arg is not None and (
            kw.arg not in params
            or params[kw.arg].kind is inspect.Parameter.POSITIONAL_ONLY)
    ]


def _unresolved(source: str, filename: str = "<src>") -> list[str]:
    tree = ast.parse(source, filename=filename)
    mods = _module_aliases(tree)
    names, out = _imported_names(tree)
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in mods
                and not hasattr(mods[node.value.id], node.attr)):
            out.append(f"{node.value.id}.{node.attr} (line {node.lineno})")
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name) \
                and f.value.id in mods and hasattr(mods[f.value.id], f.attr):
            fn, label = getattr(mods[f.value.id], f.attr), f"{f.value.id}.{f.attr}"
        elif isinstance(f, ast.Name) and f.id in names:
            fn, label = names[f.id], f.id
        else:
            continue
        if callable(fn) and not isinstance(fn, types.ModuleType):
            out += _unknown_keywords(node, fn, label)
    return sorted(set(out))


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


def test_the_check_flags_deleted_imports_and_keywords():
    # validate_table's deleted options, spelled in pieces so that a grep
    # of the tree for them finds no use
    warm, salt = "eager" "_warm", "fk" "_salt"
    assert _unresolved(
        "from anomaly_detector_faironchain_spark.plans.compiler import (\n"
        "    validate_table, gone)\n"
        "from anomaly_detector_faironchain_spark.plans import compiler as c\n"
        "def f(df, s, **kw):\n"
        f"    validate_table(df, s, {warm}=False)\n"
        "    validate_table(df, s, refs={}, **kw)\n"
        f"    return c.validate_table(df, s, {salt}=2)\n"
    ) == [
        f"c.validate_table({salt}=) (line 7)",
        "from anomaly_detector_faironchain_spark.plans.compiler import gone"
        " (line 1)",
        f"validate_table({warm}=) (line 5)",
    ]
