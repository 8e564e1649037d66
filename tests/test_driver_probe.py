"""The one driver-or-distributed rule of the graph and Lloyd kernels.

``profile.driver_rows`` is the only bounded probe: each kernel collects an
input that fits under its cap and resolves it on the driver, and runs its
distributed loop otherwise. These tests pin the probe itself, guard that
no kernel grows its own ``take(cap + 1)`` / ``limit(cap + 1)`` probe again,
and run each distributed twin under a real registry entry against its
DuckDB oracle with the driver kernels stubbed out."""

from __future__ import annotations

import ast
import uuid
from pathlib import Path

import pytest

import near_real_time_data_warehouse_spark as package
from near_real_time_data_warehouse_spark import driver_api, memo
from near_real_time_data_warehouse_spark.operators import clustering, dedup
from near_real_time_data_warehouse_spark.oracle_harness import compare, duckdb_connection
from near_real_time_data_warehouse_spark.profile import driver_rows

from .conftest import SF_SMALL

ROOT = Path(package.__file__).parent
PROFILE = ROOT / "profile.py"


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"driver_rows_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    # Job events reach the status tracker through the listener bus.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_driver_rows_returns_the_table_up_to_the_cap(spark):
    df = spark.range(0, 50, numPartitions=4).withColumnRenamed("id", "doc_id")
    t, jobs = _jobs(spark, lambda: driver_rows(df, 50))
    assert t is not None and t.num_rows == 50
    assert sorted(t.column("doc_id").to_pylist()) == list(range(50))
    assert jobs == 1
    over, jobs = _jobs(spark, lambda: driver_rows(df, 49))
    assert over is None
    assert jobs == 1


def test_empty_frame_stays_on_the_driver_even_at_cap_zero(spark):
    """Today's rule: an empty input always fits, so a cap of 0 does not
    force an empty graph into the distributed loop."""
    t = driver_rows(spark.range(0).withColumnRenamed("id", "doc_id"), 0)
    assert t is not None and t.num_rows == 0
    assert t.column_names == ["doc_id"]
    assert driver_rows(spark.range(1), 0) is None


def _plus_one_probes(tree: ast.Module) -> list[int]:
    """Lines of ``x.take(a + 1)`` / ``x.limit(a + 1)`` calls."""
    return [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("take", "limit")
        and n.args
        and isinstance(n.args[0], ast.BinOp)
        and isinstance(n.args[0].op, ast.Add)
        and any(
            isinstance(side, ast.Constant) and side.value == 1
            for side in (n.args[0].left, n.args[0].right)
        )
    ]


def test_driver_rows_is_the_only_bounded_probe():
    offenders = {}
    for p in sorted(ROOT.rglob("*.py")):
        tree = ast.parse(p.read_text(), str(p))
        if p == PROFILE:
            (probe,) = [
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "driver_rows"
            ]
            assert len(_plus_one_probes(probe)) == 1
            tree.body.remove(probe)
        if lines := _plus_one_probes(tree):
            offenders[str(p.relative_to(ROOT))] = lines
    assert offenders == {}


def _refuse(*_args, **_kwargs):
    raise AssertionError("driver kernel ran under a forced cap of 0")


# One registry entry per distributed twin: CC, the quotient merge (which
# also runs the corpus CC), PageRank and Lloyd.
TWINS = [
    "dedup_connected_components",
    "dedup_graph_incremental",
    "dedup_pagerank",
    "emb_kmeans_centroids",
]


@pytest.mark.parametrize("name", TWINS)
def test_distributed_twin_matches_oracle(spark, monkeypatch, name):
    """Both caps forced to 0 and every driver kernel replaced by a stub
    that raises, so the entry's answer comes from the distributed loops.
    The memo is cleared around the case: the ``dedup`` and ``kmeans``
    builds of earlier tests hold driver-path results."""
    monkeypatch.setattr(dedup, "GRAPH_COLLECT_CAP", 0)
    monkeypatch.setattr(clustering, "DRIVER_LLOYD_CAP", 0)
    monkeypatch.setattr(dedup, "_cc_driver_resolve", _refuse)
    monkeypatch.setattr(dedup, "_pagerank_driver", _refuse)
    monkeypatch.setattr(clustering, "_train_state_driver", _refuse)
    memo.clear()
    con = duckdb_connection(SF_SMALL)
    try:
        df = driver_api.queries()[name](spark, SF_SMALL)
        res = compare(name, df, con, driver_api.oracle_sql()[name])
    finally:
        con.close()
        memo.clear()
    assert res.ok, str(res)
