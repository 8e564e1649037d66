"""Structural guard: the engine has no hidden knobs. The environment
variables the package reads are a fixed list of deployment settings, and
the scan-size decision lives in ``profile.py`` alone: only it records a
persisted frame's scan size, and no module reaches into
``plans/analysis.py`` for a private helper."""

from __future__ import annotations

import ast
from pathlib import Path

import near_real_time_data_warehouse_spark as package

ROOT = Path(package.__file__).parent
REPO = ROOT.parent

# Each name the package reads, with who sets it.
ENV_NAMES = {
    # session.get_spark deployment settings
    "SPARK_GRAFT_CPUS": "perfbench/run.py, bench.py",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS": "scripts/shuffle_probe.py",
    "SPARK_GRAFT_MASTER": "scripts/multijvm_probe.py, bench.py",
    "SPARK_EXECUTOR_MEMORY": "scripts/multijvm_probe.py",
    "SPARK_DRIVER_MEMORY": "perfbench/run.py, scripts/shuffle_probe.py, scripts/multijvm_probe.py",
    "SPARK_GRAFT_UI": "perfbench/run.py, bench.py, scripts/job_profile.py",
    "SPARK_GRAFT_LOCAL_DIR": "perfbench/run.py",
    "PYTHONPATH": "the caller's interpreter path, forwarded to the executors",
    # streaming_folds: where the registry fold entries keep replay state
    "SPARK_GRAFT_FOLD_STATE_DIR": "a host without /dev/shm",
}


def _modules(root: Path) -> list[tuple[Path, ast.Module]]:
    return [(p, ast.parse(p.read_text(), str(p))) for p in sorted(root.rglob("*.py"))]


def _is_os(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.Module) -> list[str | None]:
    """The key of every ``os.environ.get(k)``, ``os.environ[k]`` and
    ``os.getenv(k)``; None for a key that is not a string literal, and
    for any other use of ``os.environ``."""
    keys, other_uses = [], 0
    for n in ast.walk(tree):
        other_uses += _is_os(n, "environ")
        if isinstance(n, ast.Subscript) and _is_os(n.value, "environ"):
            keys.append(n.slice)
            other_uses -= 1
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and (
            n.func.attr == "get" and _is_os(n.func.value, "environ")
        ):
            keys.append(n.args[0] if n.args else None)
            other_uses -= 1
        elif isinstance(n, ast.Call) and _is_os(n.func, "getenv"):
            keys.append(n.args[0] if n.args else None)
    keys += [None] * other_uses
    return [
        k.value if isinstance(k, ast.Constant) and isinstance(k.value, str) else None
        for k in keys
    ]


def test_the_package_reads_only_the_listed_environment():
    names = {}
    for path, tree in _modules(ROOT):
        for key in _env_reads(tree):
            names.setdefault(key, []).append(str(path.relative_to(ROOT)))
    assert None not in names, f"non-literal environment reads in {names.get(None)}"
    assert set(names) == set(ENV_NAMES)


def test_only_profile_knows_the_scan_size_record():
    offenders = [
        str(p.relative_to(ROOT))
        for p in sorted(ROOT.rglob("*.py"))
        if p.name != "profile.py" and "_graft_scan_bytes" in p.read_text()
    ]
    assert offenders == []


def _imported_module(path: Path, node: ast.ImportFrom) -> str:
    """The dotted name ``node`` imports from, relative imports resolved."""
    if not node.level:
        return node.module or ""
    parts = list(path.relative_to(REPO).parent.parts)
    base = parts[: len(parts) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def test_no_module_imports_a_private_name_from_analysis():
    analysis = f"{package.__name__}.plans.analysis"
    sources = [ROOT, REPO / "scripts", REPO / "perfbench"]
    modules = [m for root in sources for m in _modules(root)]
    modules += [(p, ast.parse(p.read_text(), str(p))) for p in sorted(REPO.glob("*.py"))]
    offenders = [
        (str(path.relative_to(REPO)), alias.name)
        for path, tree in modules
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and _imported_module(path, n) == analysis
        for alias in n.names
        if alias.name.startswith("_")
    ]
    # ... nor through the module object (``from .plans import analysis``).
    offenders += [
        (str(path.relative_to(REPO)), n.attr)
        for path, tree in modules
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and isinstance(n.value, ast.Name)
        and n.value.id == "analysis"
        and n.attr.startswith("_")
    ]
    assert offenders == []
