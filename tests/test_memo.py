"""Session memo: one build per key under concurrent misses, independent
keys build concurrently, and ``clear`` releases the broadcasts and
persisted frames the entries hold."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from near_real_time_data_warehouse_spark import memo
from near_real_time_data_warehouse_spark.session import clear_query_memos

from .conftest import SF_SMALL


def _fake_session(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_concurrent_misses_on_one_key_build_once():
    spark = _fake_session("memo-race")
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.2)
        return object()

    start = threading.Barrier(8, timeout=10)

    def miss(_):
        start.wait()
        return memo.cached(spark, "test", ("one",), build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(miss, range(8)))
    finally:
        sys.setswitchinterval(interval)
        memo.clear("test")
    assert len(calls) == 1
    assert all(g is got[0] for g in got)


def test_different_keys_build_concurrently():
    spark = _fake_session("memo-parallel")
    # Each build waits for the other: built one after the other, the
    # first build's wait times out and raises BrokenBarrierError.
    both = threading.Barrier(2, timeout=10)

    def build(tag):
        both.wait()
        return tag

    try:
        with ThreadPoolExecutor(2) as pool:
            got = list(
                pool.map(lambda t: memo.cached(spark, "test", (t,), lambda: build(t)), "ab")
            )
    finally:
        memo.clear("test")
    assert got == ["a", "b"]


def test_none_is_cached():
    spark = _fake_session("memo-none")
    calls = []
    try:
        for _ in range(2):
            assert memo.cached(spark, "test", ("none",), lambda: calls.append(1)) is None
    finally:
        memo.clear("test")
    assert len(calls) == 1


def test_contamination_eval_block_broadcasts_once_and_clear_destroys_it(spark, monkeypatch):
    from near_real_time_data_warehouse_spark.operators import similarity

    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def counting(value):
        made.append(real(value))
        return made[-1]

    clear_query_memos()
    monkeypatch.setattr(sc, "broadcast", counting)
    similarity.contamination_incremental(spark, SF_SMALL)
    similarity.contamination_incremental(spark, SF_SMALL)
    assert len(made) == 1
    assert made[0]._jbroadcast.isValid()
    clear_query_memos()
    assert not made[0]._jbroadcast.isValid()


def test_clear_unpersists_the_star(spark):
    from near_real_time_data_warehouse_spark.plans.star import star_tables

    star = star_tables(spark, SF_SMALL)
    assert all(df.is_cached for df in star.values())
    clear_query_memos()
    assert not any(df.is_cached for df in star.values())
