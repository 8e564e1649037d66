"""Structural guard: ``memo.py`` is the single owner of session-scoped
build state. No other product module builds a session key from
``sparkContext.applicationId``, declares its own module-level memo dict,
or destroys a broadcast."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import near_real_time_data_warehouse_spark as package

ROOT = Path(package.__file__).parent
MEMO = ROOT / "memo.py"
MEMO_NAME = re.compile(r"^_\w*_(MEMO|CACHE)$")
# Keyed by sf_dir, not by session: its value is a process-lifetime temp
# dir that atexit removes, so clearing it per session would leak one
# directory per call.
ALLOWED_DICTS = {("streaming/windows.py", "_STREAM_DIR_MEMO")}


def _modules() -> list[tuple[str, ast.Module]]:
    return [
        (str(p.relative_to(ROOT)), ast.parse(p.read_text(), str(p)))
        for p in sorted(ROOT.rglob("*.py"))
        if p != MEMO
    ]


def _module_dicts(tree: ast.Module) -> list[str]:
    names = []
    for n in tree.body:
        if isinstance(n, ast.Assign):
            targets = n.targets
        elif isinstance(n, ast.AnnAssign):
            targets = [n.target]
        else:
            continue
        is_dict = isinstance(n.value, ast.Dict) or (
            isinstance(n.value, ast.Call)
            and isinstance(n.value.func, ast.Name)
            and n.value.func.id == "dict"
        )
        names += [t.id for t in targets if isinstance(t, ast.Name) and is_dict]
    return names


def test_only_memo_reads_the_application_id():
    offenders = [
        rel
        for rel, tree in _modules()
        if any(isinstance(n, ast.Attribute) and n.attr == "applicationId" for n in ast.walk(tree))
    ]
    assert offenders == []


def test_no_module_declares_its_own_memo_dict():
    offenders = [
        (rel, name)
        for rel, tree in _modules()
        for name in _module_dicts(tree)
        if MEMO_NAME.match(name) and (rel, name) not in ALLOWED_DICTS
    ]
    assert offenders == []


def test_only_memo_destroys_a_broadcast():
    offenders = [
        rel
        for rel, tree in _modules()
        if any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "destroy"
            for n in ast.walk(tree)
        )
    ]
    assert offenders == []
