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


def _compares_epoch_unequal(tree: ast.Module) -> bool:
    for n in ast.walk(tree):
        if isinstance(n, ast.Compare) and any(
            isinstance(op, ast.NotEq) for op in n.ops
        ):
            operands = [n.left, *n.comparators]
            if any(
                isinstance(c, ast.Constant) and c.value == "_epoch"
                for o in operands
                for c in ast.walk(o)
            ):
                return True
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            if "_epoch !=" in n.value or "_epoch <>" in n.value:
                return True
    return False


def test_only_fold_reads_the_standing_side():
    """Every "all epochs but this one" read goes through
    ``fold.read_standing``."""
    offenders = [
        str(p.relative_to(ROOT))
        for p, tree in _modules()
        if p != FOLD and _compares_epoch_unequal(tree)
    ]
    assert offenders == []


# Beside fold.py, the multi-argument sinks: each drains its own stream
# because its sink takes more than (batch, state_dir, epoch_id) — the
# SCD2 dimension's key/ts/attr/tie columns and optional current/change
# dirs, the rollup's hour and day tables, the snapshot sink's merge key
# and match mode. Every fold runs through ``fold.run_fold``.
PARQUET_STREAM_CALLERS = {
    "streaming/fold.py",
    "streaming/dimensions.py",
    "streaming/rollup.py",
    "sources/snapshots.py",
}


def test_parquet_stream_is_opened_only_by_the_runner_and_multi_argument_sinks():
    callers = {
        str(p.relative_to(ROOT))
        for p, tree in _modules()
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and (
            getattr(n.func, "id", None) == "parquet_stream"
            or getattr(n.func, "attr", None) == "parquet_stream"
        )
    }
    assert callers <= PARQUET_STREAM_CALLERS, callers - PARQUET_STREAM_CALLERS
