"""The scan-size knee: the constants reproduce the tuned single-host
arithmetic byte-for-byte, and a persisted frame keeps its scan size."""

from __future__ import annotations

import shutil

import near_real_time_data_warehouse_spark.profile as prof


def test_default_profile_reproduces_tuned_knees(monkeypatch):
    for nbytes in (0, 1, 10 << 20, 300 << 20, 3 << 40):
        monkeypatch.setattr(prof, "scan_bytes", lambda df, n=nbytes: n)
        assert prof.scan_partitions(None) == max(32, min(4096, nbytes // (8 << 20)))
        assert prof.scan_partitions(None, text=True) == max(
            32, min(4096, nbytes // (256 << 10))
        )


def test_persisted_frame_keeps_its_scan_size(spark, tmp_path):
    """The size recorded before the persist wins over the files: here they
    are gone once the cache holds the rows."""
    path = tmp_path / "t"
    spark.range(1000).write.parquet(str(path))
    df = spark.read.parquet(str(path))
    nbytes = prof.scan_bytes(df)
    assert nbytes > 0
    p = prof.persist_sized(df)
    try:
        assert p.count() == 1000
        shutil.rmtree(path)
        assert prof.scan_bytes(spark.range(3)) == 0
        assert prof.scan_bytes(p) == nbytes
    finally:
        p.unpersist()
