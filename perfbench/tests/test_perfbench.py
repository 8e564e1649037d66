"""The benchmark's own tests: generator determinism and shape, span
bookkeeping, and a smoke run of every workload whose printed metric names
must match BENCHMARK.json.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import filecmp
import io
import json
import os
import subprocess
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402
from probes import Tracer, percentile, self_times  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def test_transactions_same_seed_same_bytes_other_seed_other_bytes():
    a = gen.transactions_csv(5, 2, 0, 2_000)
    assert a == gen.transactions_csv(5, 2, 0, 2_000)
    assert a != gen.transactions_csv(6, 2, 0, 2_000)
    assert a != gen.transactions_csv(5, 2, 1, 2_000)


def test_files_same_seed_same_bytes(tmp_path):
    for d in ("a", "b"):
        gen.write_masters(str(tmp_path / d), 5)
        gen.write_tpch(str(tmp_path / d / "tpch"), 5, 500)
    gen.write_masters(str(tmp_path / "c"), 6)
    for name in ("customer_master.csv", "product_master.csv"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False)
        assert not filecmp.cmp(tmp_path / "a" / name, tmp_path / "c" / name, shallow=False)
    for f in ("customer.parquet", "supplier.parquet", "part.parquet",
              "orders.parquet/base.parquet", "lineitem.parquet/base.parquet"):
        assert filecmp.cmp(tmp_path / "a" / "tpch" / f, tmp_path / "b" / "tpch" / f, shallow=False)


def test_order_batches_are_seeded_and_extend_the_base_keys():
    orders, lines = gen.tpch_delta(5, 2, 50, 3_000)
    again, _ = gen.tpch_delta(5, 2, 50, 3_000)
    other, _ = gen.tpch_delta(6, 2, 50, 3_000)
    assert orders.equals(again) and not orders.equals(other)
    keys = orders["o_orderkey"].to_pylist()
    assert keys == list(range(3_101, 3_151))
    assert set(lines["l_orderkey"].to_pylist()) == set(keys)


def test_transactions_have_reference_shape():
    cust, prod = gen.master_ids(5)
    assert (len(cust), len(prod)) == (5_891, 3_631)
    rows = list(csv.DictReader(io.StringIO(gen.transactions_csv(5, 2, 0, 20_000))))
    assert len(rows) == 20_000
    known_c, known_p = set(cust.tolist()), set(prod)
    unknown_c = sum(int(r["Customer_ID"]) not in known_c for r in rows) / len(rows)
    unknown_p = sum(r["Product_ID"] not in known_p for r in rows) / len(rows)
    assert 0.03 < unknown_c < 0.07
    assert 0.02 < unknown_p < 0.04
    lines = {}
    for r in rows:
        lines.setdefault(r["orderID"], set()).add((r["Customer_ID"], r["date"]))
        m, d, y = (int(x) for x in r["date"].split("/"))
        assert (1999, 7, 1) <= (y, m, d) <= (2000, 12, 31)
    assert all(len(v) == 1 for v in lines.values())  # one customer and date per order
    sizes = {}
    for r in rows:
        sizes[r["orderID"]] = sizes.get(r["orderID"], 0) + 1
    assert set(sizes.values()) == {1, 2, 3, 4, 5}


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([7], 90) == 7


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 1, "name": "call", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "batch", "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "name": "batch", "parent": 1, "start": 4.0, "end": 6.0},  # overlaps 2
    ]
    t = self_times(spans)
    assert t["call"]["self_s"] == pytest.approx(5.0)
    assert t["batch"] == {"count": 2, "total_s": 6.0, "self_s": 6.0}


def test_tracer_threads_keep_their_own_parents():
    tracer = Tracer(enabled=True)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def work(i: int) -> None:
            for _ in range(200):
                with tracer.span(f"outer{i}") as outer:
                    with tracer.span(f"inner{i}") as inner:
                        assert inner["parent"] == outer["id"]

        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(tracer.spans) == 8 * 200 * 2
    assert len({s["id"] for s in tracer.spans}) == len(tracer.spans)
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["name"].startswith("inner"):
            assert by_id[s["parent"]]["name"] == "outer" + s["name"][5:]


def test_disabled_tracer_records_nothing():
    tracer = Tracer(enabled=False)
    with tracer.span("x") as s:
        assert s is None
    assert tracer.add("y", 0.0, 1.0, None) is None
    assert tracer.spans == []


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_prints_the_declared_metrics(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    # Every layer the workload exercises reads above 0 (nothing spills);
    # the others read 0.
    for name, v in result["metrics"].items():
        if not workloads.exercises(workload, name):
            assert v["value"] == 0, name
        elif name != "spark.spill_bytes":
            assert v["value"] > 0, name


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run must fail fast and print no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
