"""Table maintenance: small-file compaction (the OPTIMIZE half of
OPTIMIZE + ZORDER; the clustering half is operators/layout.py).

Streaming sinks and incremental loads accrete small files; at 100 TB a
scan's task count and footer overhead are driven by file count, so
periodic compaction to a target file size is routine maintenance.
``compact_parquet`` sizes the rewrite from the actual on-disk bytes via
the Hadoop FileSystem API (works for HDFS/S3A paths the same as local),
writes to a staging directory, and swaps atomically-enough for a
single-writer maintenance window.

For SNAPSHOT tables use ``snapshots.compact_snapshot`` instead: it
commits the rewrite through the manifest log with the same optimistic
exclusive-publish every writer uses, so compaction can run concurrently
with merges without losing either (the rename-swap here is only safe
for plain parquet dirs with no other writer).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the Hadoop FileSystem API — correct for
    HDFS/S3A/any supported scheme, where ``os.path.exists`` would
    silently answer False and make callers re-initialize state."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def file_version(spark: SparkSession, path: str) -> tuple[int, int]:
    """(length, modification time in ms) of one file, via the Hadoop
    FileSystem API: the version key of a file that is rewritten or
    appended to in place."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    status = p.getFileSystem(conf).getFileStatus(p)
    return status.getLen(), status.getModificationTime()


def dir_listings(spark: SparkSession, paths: list[str]) -> tuple:
    """For each directory in ``paths``: the sorted paths of its entries
    plus their total size, or None when it does not exist.
    Via the Hadoop FileSystem API, in a fixed number of round trips per
    directory however many entries it holds. Two listings are equal when
    no entry was added, removed or renamed and the total size is the
    same."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    hadoop_fs = jvm.org.apache.hadoop.fs
    path_class, stat2paths = hadoop_fs.Path, hadoop_fs.FileUtil.stat2Paths
    to_string = jvm.org.apache.commons.lang3.ArrayUtils.toString
    out = []
    for path in paths:
        p = path_class(path)
        fs = p.getFileSystem(conf)
        if not fs.exists(p):
            out.append(None)
            continue
        # All entries in one string, "{path,path,...}".
        names = to_string(stat2paths(fs.listStatus(p)))
        out.append((tuple(sorted(names[1:-1].split(","))), fs.getContentSummary(p).getLength()))
    return tuple(out)


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, n_data_files) of a parquet directory, via the Hadoop
    FileSystem API so any supported scheme works, not just local disk."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    conf = jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    total, n = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        total += f.getLen()
        n += 1
    return total, n


def plan_target_files(total_bytes: int, target_file_bytes: int) -> int:
    return max(1, math.ceil(total_bytes / max(1, target_file_bytes)))


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite ``path`` in place to ≈``target_file_bytes`` files.
    Optionally sort rows within each output file (pairs with z-ordering:
    pass the Morton column to preserve clustering through compaction).
    Returns the number of files written."""
    total, n_files = dir_stats(spark, path)
    n_target = plan_target_files(total, target_file_bytes)
    df: DataFrame = spark.read.parquet(path)
    out = df.repartition(n_target)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    staging = path.rstrip("/") + "._compact_staging"
    out.write.mode("overwrite").parquet(staging)

    jvm = spark.sparkContext._jvm  # noqa: SLF001
    conf = spark.sparkContext._jsc.hadoopConfiguration()  # noqa: SLF001
    src = jvm.org.apache.hadoop.fs.Path(staging)
    dst = jvm.org.apache.hadoop.fs.Path(path)
    fs = dst.getFileSystem(conf)
    # Swap so every intermediate state still has a complete copy: move
    # the live table aside, move staging into place, only then drop the
    # backup. A crash between steps leaves either the original (as dst
    # or backup) or both — never a window with no data.
    backup = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "._compact_backup")
    fs.delete(backup, True)  # stale backup from a previous crash
    if not fs.rename(dst, backup):
        raise IOError(f"compact_parquet: could not move {path} aside")
    if not fs.rename(src, dst):
        fs.rename(backup, dst)  # restore the original before failing
        raise IOError(f"compact_parquet: could not move staging into {path}")
    fs.delete(backup, True)
    return n_target
