"""Structural guard: ``streaming/fold.py`` is the single owner of how a
micro-batch sink runs and writes its state. No other product module
calls ``foreachBatch``, writes a dynamic partition overwrite, sets the
session-wide partitionOverwriteMode, defines its own concurrent-action
runner, or borrows private helpers from ``streaming.dedup_stream``."""

from __future__ import annotations

import ast
from pathlib import Path

import near_real_time_data_warehouse_spark as package

ROOT = Path(package.__file__).parent
FOLD = ROOT / "streaming" / "fold.py"
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _modules() -> list[tuple[Path, ast.Module]]:
    return [(p, ast.parse(p.read_text(), str(p))) for p in sorted(ROOT.rglob("*.py"))]


def _calls(tree: ast.Module, method: str) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == method
    ]


def _first_arg(call: ast.Call) -> object:
    if call.args and isinstance(call.args[0], ast.Constant):
        return call.args[0].value
    return None


def test_only_fold_calls_foreach_batch():
    offenders = [
        str(p.relative_to(ROOT))
        for p, tree in _modules()
        if p != FOLD and _calls(tree, "foreachBatch")
    ]
    assert offenders == []


def test_only_fold_writes_a_dynamic_overwrite():
    offenders = [
        str(p.relative_to(ROOT))
        for p, tree in _modules()
        if p != FOLD
        and any(_first_arg(c) == "partitionOverwriteMode" for c in _calls(tree, "option"))
    ]
    assert offenders == []


def test_no_module_sets_the_session_overwrite_mode():
    offenders = [
        str(p.relative_to(ROOT))
        for p, tree in _modules()
        if any(_first_arg(c) == OVERWRITE_MODE for c in _calls(tree, "set"))
        or any(_first_arg(c) == OVERWRITE_MODE for c in _calls(tree, "config"))
    ]
    assert offenders == []


def test_only_fold_defines_a_concurrent_runner():
    offenders = [
        str(p.relative_to(ROOT))
        for p, tree in _modules()
        if p != FOLD
        and any(
            isinstance(n, ast.FunctionDef) and n.name.lstrip("_") == "run_concurrent"
            for n in ast.walk(tree)
        )
    ]
    assert offenders == []


def test_no_module_imports_private_dedup_stream_names():
    offenders = []
    for p in [*ROOT.rglob("*.py"), *Path(__file__).parent.rglob("*.py")]:
        for n in ast.walk(ast.parse(p.read_text(), str(p))):
            if (
                isinstance(n, ast.ImportFrom)
                and (n.module or "").endswith("dedup_stream")
                and any(a.name.startswith("_") for a in n.names)
            ):
                offenders.append(p.name)
    assert offenders == []
