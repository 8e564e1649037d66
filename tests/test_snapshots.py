"""Snapshot-versioned tables: commit / time-travel / diff / vacuum.

The lakehouse read semantics on plain parquet + atomic manifests —
old versions stay bit-identical after later commits, the change feed
between versions matches a hand diff, and vacuum drops exactly the
unreferenced files while the kept versions keep reading."""

from __future__ import annotations

from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark.sources import snapshots as S

from .conftest import SF_SMALL
from .fixtures import land_batches


def _rows(df):
    return {(r.o_orderkey, r.prio) for r in df.collect()}


def _orders(spark):
    return (
        spark.read.parquet(f"{SF_SMALL}/orders.parquet")
        .select("o_orderkey", F.col("o_orderpriority").alias("prio"))
        .limit(1000)
    )


def test_commit_time_travel_and_change_feed(spark, tmp_path_factory):
    table = str(tmp_path_factory.mktemp("snap") / "orders_versions")
    v1_df = _orders(spark)
    v1 = S.commit_snapshot(spark, v1_df, table)
    assert v1 == 1

    # v2: bump a deterministic subset, delete another, insert one row
    v2_df = (
        v1_df.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("BUMPED"))
            .otherwise(F.col("prio"))
            .alias("prio"),
        )
        .unionByName(
            spark.createDataFrame([(10**9, "NEW")], "o_orderkey long, prio string")
        )
    )
    v2 = S.commit_snapshot(spark, v2_df, table)
    assert v2 == 2

    # time travel: v1 still reads bit-identically after the v2 commit
    want_v1 = _rows(v1_df)
    assert _rows(S.read_snapshot(spark, table, as_of=1)) == want_v1
    assert _rows(S.read_snapshot(spark, table)) == _rows(v2_df)

    # change feed matches a hand diff
    feed = {
        (r.o_orderkey, r.change_type)
        for r in S.change_feed(spark, table, 1, 2, "o_orderkey").collect()
    }
    hand = set()
    v1m = {k: v for k, v in want_v1}
    v2m = {k: v for k, v in _rows(v2_df)}
    for k in v1m.keys() - v2m.keys():
        hand.add((k, "delete"))
    for k in v2m.keys() - v1m.keys():
        hand.add((k, "insert"))
    for k in v1m.keys() & v2m.keys():
        if v1m[k] != v2m[k]:
            hand.add((k, "update"))
    assert feed == hand


def test_vacuum_drops_old_versions_keeps_recent(spark, tmp_path_factory):
    table = str(tmp_path_factory.mktemp("snapvac") / "t")
    base = _orders(spark).limit(100)
    for i in range(4):
        S.commit_snapshot(
            spark, base.withColumn("prio", F.lit(f"v{i + 1}")), table
        )
    latest_rows = _rows(S.read_snapshot(spark, table))
    deleted = S.vacuum(spark, table, keep_last=2)
    assert deleted, "old version files were removed"
    # kept versions still read
    assert _rows(S.read_snapshot(spark, table, as_of=4)) == latest_rows
    assert {r.prio for r in S.read_snapshot(spark, table, as_of=3).collect()} == {"v3"}
    # vacuumed version is gone
    import pytest

    with pytest.raises(Exception):
        S.read_snapshot(spark, table, as_of=1).collect()


def test_crash_before_hint_swap_still_committed(spark, tmp_path_factory):
    """The manifest's exclusive publish IS the commit point; ``_latest``
    is only a discovery hint. A crash between manifest publish and the
    hint advance must leave the new version fully visible (readers probe
    forward from the stale hint), and the next commit numbers itself
    after it — the protocol change that makes multi-writer commits
    possible."""
    table = str(tmp_path_factory.mktemp("snapcrash") / "t")
    base = _orders(spark).limit(50)
    S.commit_snapshot(spark, base, table)
    S.commit_snapshot(spark, base.withColumn("prio", F.lit("y")), table)
    # simulate: crash happened before the v2 hint advance
    S._write_text_atomic(spark, f"{table}/_manifests/_latest", "1")
    assert S.latest_version(spark, table) == 2
    assert {r.prio for r in S.read_snapshot(spark, table).collect()} == {"y"}
    v = S.commit_snapshot(spark, base.withColumn("prio", F.lit("x")), table)
    assert v == 3
    assert {r.prio for r in S.read_snapshot(spark, table).collect()} == {"x"}


def test_commit_conflict_retries_at_next_version(spark, tmp_path_factory):
    """Two writers racing for the same version number: the loser's
    exclusive manifest publish fails (no overwrite), and a full-replace
    commit retries at the next number reusing its staged files."""
    table = str(tmp_path_factory.mktemp("snaprace") / "t")
    base = _orders(spark).limit(20)
    S.commit_snapshot(spark, base, table)  # v1
    # writer B stages for v2...
    files_b = S._stage_data(spark, base.withColumn("prio", F.lit("B")), table, 2)
    man_b = S._build_manifest(spark, table, files_b, None, None)
    # ...but writer A lands v2 first
    S.commit_snapshot(spark, base.withColumn("prio", F.lit("A")), table)
    assert S._try_publish(spark, table, 2, man_b) is False  # conflict detected
    assert {r.prio for r in S.read_snapshot(spark, table, as_of=2).collect()} == {"A"}
    # the public API resolves the same race by renumbering
    v = S.commit_snapshot(spark, base.withColumn("prio", F.lit("B")), table)
    assert v == 3
    assert {r.prio for r in S.read_snapshot(spark, table).collect()} == {"B"}


def test_merge_conflict_recomputes_without_lost_update(spark, tmp_path_factory, monkeypatch):
    """The optimistic MERGE loop: writer B reads base version 1, writer A
    lands version 2 meanwhile — B's publish at version 2 must FAIL and B
    must recompute its merge against A's table, so version 3 contains
    BOTH writers' rows (the lost update the old blind-renumber protocol
    would have caused)."""
    table = str(tmp_path_factory.mktemp("snapmw") / "t")
    df = lambda k, p: spark.createDataFrame([(k, p)], "o_orderkey long, prio string")  # noqa: E731
    S.commit_snapshot(spark, df(1, "base"), table)  # v1
    S.merge_snapshot(spark, table, df(2, "from-A"), "o_orderkey")  # A lands v2

    real = S.latest_version
    calls = {"n": 0}

    def stale_once(spark_, td):
        calls["n"] += 1
        if calls["n"] == 1:
            return 1  # B's stale read: thinks the table is still at v1
        return real(spark_, td)

    monkeypatch.setattr(S, "latest_version", stale_once)
    v = S.merge_snapshot(spark, table, df(3, "from-B"), "o_orderkey")
    monkeypatch.setattr(S, "latest_version", real)
    assert v == 3
    assert calls["n"] >= 2  # the conflict path actually ran
    got = {(r.o_orderkey, r.prio) for r in S.read_snapshot(spark, table).collect()}
    assert got == {(1, "base"), (2, "from-A"), (3, "from-B")}


def test_concurrent_merges_both_land(spark, tmp_path_factory):
    """Two genuinely concurrent merge writers (threads sharing the
    session): both commits land as consecutive versions with no lost
    update, whichever interleaving the scheduler produces."""
    import threading

    table = str(tmp_path_factory.mktemp("snapthr") / "t")
    S.commit_snapshot(
        spark, spark.createDataFrame([(0, "base")], "o_orderkey long, prio string"), table
    )
    errs = []

    def writer(k):
        try:
            b = spark.createDataFrame([(k, f"w{k}")], "o_orderkey long, prio string")
            S.merge_snapshot(spark, table, b, "o_orderkey")
        except Exception as e:  # pragma: no cover - surfaced via assert
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(k,)) for k in (1, 2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert S.latest_version(spark, table) == 3
    got = {(r.o_orderkey, r.prio) for r in S.read_snapshot(spark, table).collect()}
    assert got == {(0, "base"), (1, "w1"), (2, "w2")}


def test_merge_snapshot_upsert_modes(spark, tmp_path_factory):
    """MERGE on the manifest layer: 'update' is last-writer-wins,
    'ignore' is the reference's first-writer-wins insert-if-absent; each
    merge is a new atomic version and the pre-merge state stays
    readable."""
    table = str(tmp_path_factory.mktemp("snapmerge") / "dim")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    v1 = S.merge_snapshot(spark, table, base, "k")
    assert v1 == 1

    batch = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    v2 = S.merge_snapshot(spark, table, batch, "k", when_matched="update")
    got = {(r.k, r.v) for r in S.read_snapshot(spark, table).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}

    batch2 = spark.createDataFrame([(2, "zzz"), (5, "e")], "k long, v string")
    S.merge_snapshot(spark, table, batch2, "k", when_matched="ignore")
    got = {(r.k, r.v) for r in S.read_snapshot(spark, table).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d"), (5, "e")}

    # pre-merge versions still time-travel
    assert {(r.k, r.v) for r in S.read_snapshot(spark, table, as_of=v1).collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }
    assert {(r.k, r.v) for r in S.read_snapshot(spark, table, as_of=v2).collect()} == {
        (1, "a"), (2, "B"), (3, "c"), (4, "d")
    }


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path_factory):
    """The streaming sink commits one version per epoch; a replayed
    epoch is detected via the manifest stamp and skipped (same content,
    no redundant version), and the drained table equals the sequential
    merge of all batches."""
    base = tmp_path_factory.mktemp("snapsink")
    rows = [(i, f"v{i % 3}") for i in range(60)]
    src_df = spark.createDataFrame(rows, "k long, v string")
    src = base / "stream"
    src.mkdir()
    land_batches(
        [
            src_df.filter((F.col("k") >= lo) & (F.col("k") < hi))
            for lo, hi in [(0, 20), (20, 40), (40, 999)]
        ],
        src,
    )

    table = str(base / "table")
    S.run_streaming_snapshot_sink(
        spark, f"{src}/*", src_df.schema, table, str(base / "ckpt"), key="k"
    )
    assert S.latest_version(spark, table) == 3
    got = {(r.k, r.v) for r in S.read_snapshot(spark, table).collect()}
    assert got == set(rows)

    # replayed epoch: same epoch id re-merged → no new version
    b2 = src_df.filter((F.col("k") >= 20) & (F.col("k") < 40))
    v_before = S.latest_version(spark, table)
    last_epoch = S._latest_epoch(spark, table)
    S.merge_snapshot(spark, table, b2, "k", epoch_id=last_epoch)
    assert S.latest_version(spark, table) == v_before
    assert {(r.k, r.v) for r in S.read_snapshot(spark, table).collect()} == set(rows)


def test_optimize_zorder_enables_manifest_skipping(spark, tmp_path_factory):
    """The OPTIMIZE story end-to-end at the table-format level: a
    2-D box query over a randomly-laid-out commit reads ~every file;
    after OPTIMIZE ZORDER the same box prunes ≥4x more files from the
    manifest stats alone, content stays bit-identical, and the pruned
    read returns exactly the full-scan filter result."""
    table = str(tmp_path_factory.mktemp("snapopt") / "li")
    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_suppkey")
    )
    # v1: layout uncorrelated with the keys (hash by orderkey), stats on
    v1_df = li.repartition(16, "l_orderkey")
    S.commit_snapshot(spark, v1_df, table, stats_cols=["l_partkey", "l_suppkey"])

    lo_p, hi_p = 10, 40
    lo_s, hi_s = 5, 20
    box = {"l_partkey": (lo_p, hi_p), "l_suppkey": (lo_s, hi_s)}
    read1, total1 = S.pruned_file_count(spark, table, box, as_of=1)

    v2 = S.optimize_zorder(spark, table, ["l_partkey", "l_suppkey"], partitions=16)
    read2, total2 = S.pruned_file_count(spark, table, box, as_of=v2)
    assert total2 >= 8
    # clustering makes skipping effective: ≥4x better file ratio
    assert (read1 / total1) >= 4 * (read2 / total2), (read1, total1, read2, total2)

    # content identical across the rewrite
    def rows(df):
        return {(r.l_orderkey, r.l_partkey, r.l_suppkey) for r in df.collect()}

    assert rows(S.read_snapshot(spark, table, as_of=1)) == rows(
        S.read_snapshot(spark, table, as_of=v2)
    )

    # pruned read ≡ full-scan filter
    pred = (
        (F.col("l_partkey").between(lo_p, hi_p))
        & (F.col("l_suppkey").between(lo_s, hi_s))
    )
    want = rows(S.read_snapshot(spark, table, as_of=v2).filter(pred))
    got = rows(S.read_snapshot(spark, table, as_of=v2, prune=box).filter(pred))
    assert got == want


def test_vacuum_is_rerunnable_and_sweeps_orphans(spark, tmp_path_factory):
    """A second vacuum after versions advanced must not crash on the
    manifests the first one removed, and data files from a crashed
    commit (renamed in, no manifest) are swept as orphans."""
    table = str(tmp_path_factory.mktemp("snapvac2") / "t")
    base = _orders(spark).limit(50)
    for i in range(3):
        S.commit_snapshot(spark, base.withColumn("prio", F.lit(f"v{i}")), table)
    S.vacuum(spark, table, keep_last=2)
    S.commit_snapshot(spark, base.withColumn("prio", F.lit("v3")), table)
    # simulate a crashed commit: a data file with no manifest
    orphan = f"{table}/data/v99-deadbeef.parquet"
    base.limit(1).coalesce(1).write.mode("overwrite").parquet(f"{table}/_tmp_orphan")
    import glob
    import shutil

    src = glob.glob(f"{table}/_tmp_orphan/*.parquet")[0]
    shutil.copyfile(src, orphan)
    shutil.rmtree(f"{table}/_tmp_orphan")
    # the fresh orphan is protected by the default grace window — a
    # concurrent writer's staged files must not be swept (round 6)
    deleted = S.vacuum(spark, table, keep_last=2)   # second run — must not crash
    assert "data/v99-deadbeef.parquet" not in deleted
    import os

    assert os.path.exists(orphan)
    # a quiesced maintenance window (grace 0) reaps it immediately
    deleted = S.vacuum(spark, table, keep_last=2, orphan_grace_seconds=0)
    assert "data/v99-deadbeef.parquet" in deleted
    assert not os.path.exists(orphan)
    # latest still reads
    assert {r.prio for r in S.read_snapshot(spark, table).collect()} == {"v3"}


def test_vacuum_concurrent_with_commit_loses_nothing(spark, tmp_path_factory):
    """With the orphan grace window, a vacuum racing an in-flight commit
    cannot delete the commit's staged-but-unpublished files: stage data
    (no manifest yet), vacuum, then publish — the commit completes and
    reads back intact."""
    table = str(tmp_path_factory.mktemp("snapvacrace") / "t")
    base = _orders(spark).limit(30)
    for i in range(3):
        S.commit_snapshot(spark, base.withColumn("prio", F.lit(f"v{i}")), table)
    # writer stages version 4's files but has not published the manifest
    files = S._stage_data(
        spark, base.withColumn("prio", F.lit("inflight")), table, 4
    )
    S.vacuum(spark, table, keep_last=1)  # maintenance runs concurrently
    # the writer now publishes — every staged file must still exist
    manifest = S._build_manifest(spark, table, files, None, None)
    assert S._try_publish(spark, table, 4, manifest)
    got = {r.prio for r in S.read_snapshot(spark, table, as_of=4).collect()}
    assert got == {"inflight"}


def test_stats_round_outward_for_fractional_values(spark, tmp_path_factory):
    """Per-file min/max stats on a DOUBLE column must round OUTWARD
    (floor the min, ceil the max): a bare long cast truncates toward
    zero, so min(-3.7) would be recorded as -3 and a query box [-4, -3.5]
    would wrongly skip the file (ADVICE r4)."""
    table = str(tmp_path_factory.mktemp("snapfrac") / "t")
    df = spark.createDataFrame([(1, -3.7), (2, 9.4)], "k long, x double")
    S.commit_snapshot(spark, df.coalesce(1), table, stats_cols=["x"])
    import json

    m = json.loads(S._read_text(spark, f"{table}/_manifests/v1.json"))
    (st,) = m["stats"].values()
    assert st["x"] == [-4, 10]
    # the box that only the fractional tail intersects still reads the file
    kept, total = S.pruned_file_count(spark, table, {"x": (-4, -4)})
    assert (kept, total) == (1, 1)
    rows = S.read_snapshot(spark, table, prune={"x": (-4, -4)}).filter(
        F.col("x") <= -3.5
    ).collect()
    assert len(rows) == 1


def test_pruning_keeps_files_with_null_stats(spark, tmp_path_factory):
    """A file whose stats column is all-null must be conservatively
    read, not crash the pruner."""
    import json

    table = str(tmp_path_factory.mktemp("snapnull") / "t")
    df = spark.createDataFrame([(1, 5), (2, 30)], "k long, x long")
    S.commit_snapshot(spark, df, table, stats_cols=["x"])
    # force a null range into the manifest
    m = json.loads(S._read_text(spark, f"{table}/_manifests/v1.json"))
    first = next(iter(m["stats"]))
    m["stats"][first]["x"] = [None, None]
    S._write_text_atomic(spark, f"{table}/_manifests/v1.json", json.dumps(m))
    kept, total = S.pruned_file_count(spark, table, {"x": (100, 200)})
    assert kept >= 1  # the null-stat file is kept, no TypeError
    rows = S.read_snapshot(spark, table, prune={"x": (0, 100)}).collect()
    assert len(rows) == 2


def test_exclusive_publish_is_os_atomic_under_thread_race(spark, tmp_path_factory):
    """ADVICE r5 (medium): on the local filesystem the exclusive publish
    must be a kernel-atomic claim (POSIX link), not an exists-check +
    overwriting rename — N truly concurrent writers racing for the SAME
    manifest path must produce exactly one winner, and the surviving
    content must be the winner's complete payload."""
    from concurrent.futures import ThreadPoolExecutor

    base = tmp_path_factory.mktemp("snapatomic")
    for trial in range(3):
        path = str(base / f"v{trial}.json")
        n = 12

        def attempt(i, path=path):
            return (i, S._write_text_exclusive(spark, path, f'{{"writer": {i}}}'))

        with ThreadPoolExecutor(max_workers=n) as ex:
            results = list(ex.map(attempt, range(n)))
        winners = [i for i, ok in results if ok]
        assert len(winners) == 1
        import json

        assert json.loads(S._read_text(spark, path)) == {"writer": winners[0]}
        # no temp litter left behind
        import os

        assert [f for f in os.listdir(base) if ".tmp-" in f] == []


def test_vacuum_advances_stale_latest_hint(spark, tmp_path_factory):
    """ADVICE r5 (low): if the _latest hint lags the truth by ≥2 and a
    vacuum then drops versions above the hint, forward-probing from the
    stale hint would stop at the vacuumed gap and return an unreadable
    version. Vacuum must re-anchor the hint at the true latest first."""
    table = str(tmp_path_factory.mktemp("snaphint") / "t")
    for i in range(5):
        S.commit_snapshot(
            spark, spark.createDataFrame([(i,)], "v long"), table
        )
    assert S.latest_version(spark, table) == 5
    # simulate repeated crash-before-hint-advance: hint stuck at 1
    S._write_text_atomic(spark, f"{table}/_manifests/_latest", "1")
    S.vacuum(spark, table, keep_last=2)  # drops v1-v3, keeps v4, v5
    assert S.latest_version(spark, table) == 5
    assert S.read_snapshot(spark, table).collect()[0].v == 4
    # and the next commit lands at 6, not at a recycled number
    assert S.commit_snapshot(
        spark, spark.createDataFrame([(9,)], "v long"), table
    ) == 6


def test_compact_snapshot_reduces_files_preserves_content_and_stats(
    spark, tmp_path_factory
):
    """Log-aware OPTIMIZE: fewer files, bit-identical rows, per-file
    stats recomputed for the same columns, epoch stamp carried over,
    pre-compaction version still time-travelable until vacuumed."""
    import json

    table = str(tmp_path_factory.mktemp("snapcomp") / "t")
    df = _orders(spark).withColumn("x", F.col("o_orderkey") % 100)
    S.commit_snapshot(spark, df.repartition(16), table, epoch_id=7, stats_cols=["x"])
    m1 = json.loads(S._read_text(spark, f"{table}/_manifests/v1.json"))
    assert len(m1["files"]) == 16
    before = _rows(S.read_snapshot(spark, table))

    v = S.compact_snapshot(spark, table)
    assert v == 2
    m2 = json.loads(S._read_text(spark, f"{table}/_manifests/v{v}.json"))
    assert len(m2["files"]) < 16
    assert m2.get("epoch") == 7  # replay dedup still recognizes the epoch
    assert all("x" in st for st in m2["stats"].values())  # stats survive
    assert _rows(S.read_snapshot(spark, table)) == before
    # time travel across the compaction boundary is bit-identical
    assert _rows(S.read_snapshot(spark, table, as_of=1)) == before
    # vacuum reaps the pre-compaction files; the compacted version reads
    deleted = S.vacuum(spark, table, keep_last=1)
    assert len(deleted) == 16
    assert _rows(S.read_snapshot(spark, table)) == before


def test_compact_snapshot_interleaved_merge_loses_nothing(
    spark, tmp_path_factory, monkeypatch
):
    """VERDICT r5 #1 'done' bar: a compaction that read version 1 while
    a concurrent merge lands version 2 must NOT publish its stale
    rewrite — it re-reads and compacts the merged table, so the merge's
    rows survive and time travel across the boundary is exact."""
    table = str(tmp_path_factory.mktemp("snapcompmw") / "t")
    base = _orders(spark).limit(50)
    S.commit_snapshot(spark, base.repartition(8), table)  # v1

    real = S.latest_version
    calls = {"n": 0}

    def stale_once(spark_, td):
        calls["n"] += 1
        if calls["n"] == 1:
            # compaction's stale read; the merge lands v2 meanwhile
            S.merge_snapshot(
                spark,
                table,
                spark.createDataFrame(
                    [(10**9, "MERGED")], "o_orderkey long, prio string"
                ),
                "o_orderkey",
            )
            return 1
        return real(spark_, td)

    monkeypatch.setattr(S, "latest_version", stale_once)
    v = S.compact_snapshot(spark, table)
    monkeypatch.setattr(S, "latest_version", real)
    assert v == 3 and calls["n"] >= 2  # conflict path actually ran
    got = _rows(S.read_snapshot(spark, table))
    assert (10**9, "MERGED") in got  # the merge was not lost
    assert got == _rows(S.read_snapshot(spark, table, as_of=2))  # same rows, new layout


def test_compact_snapshot_concurrent_with_merge_thread_race(
    spark, tmp_path_factory
):
    """Genuinely concurrent compaction and merge threads: both land as
    consecutive versions, the final table contains the merge's row, and
    every committed version reads cleanly."""
    import threading

    table = str(tmp_path_factory.mktemp("snapcompthr") / "t")
    S.commit_snapshot(spark, _orders(spark).limit(40).repartition(8), table)
    errs = []

    def do_compact():
        try:
            S.compact_snapshot(spark, table)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    def do_merge():
        try:
            S.merge_snapshot(
                spark,
                table,
                spark.createDataFrame(
                    [(10**9, "MERGED")], "o_orderkey long, prio string"
                ),
                "o_orderkey",
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=do_compact), threading.Thread(target=do_merge)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    latest = S.latest_version(spark, table)
    assert latest == 3
    got = _rows(S.read_snapshot(spark, table))
    assert (10**9, "MERGED") in got
    for v in range(1, latest + 1):
        S.read_snapshot(spark, table, as_of=v).count()  # every version intact
