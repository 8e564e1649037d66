"""SparkSession factory tuned for the local test harness.

At cluster scale the same builder applies; only master/shuffle-partition
settings change (AQE coalesces at runtime, so the shuffle-partition number
is a ceiling, not a tuning burden).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import memo


def get_spark(app_name: str = "nrtdw_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # Override for cluster-topology probes (scripts/shuffle_probe.py
        # runs the heavy entries at 512/2048 — the partition counts a
        # 1000-executor deployment would set — to show there's no
        # partition-count cliff).
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )
    # SPARK_GRAFT_MASTER overrides the master URL — scripts/
    # multijvm_probe.py sets local-cluster[N,cores,mem] to launch REAL
    # separate executor JVMs (serialization + broadcast-lifecycle
    # boundaries local[*] structurally cannot exercise).
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # Executor Python workers must be able to import THIS package:
    # cloudpickle serializes module-level functions (our mapInPandas /
    # applyInPandas kernels) by reference, so a separate executor JVM's
    # worker re-imports them — under local[*] workers inherit the
    # driver's sys.path and this is invisible, under any real cluster it
    # is not (found by scripts/multijvm_probe.py). Shipping the repo
    # root on the executor PYTHONPATH is the local-cluster equivalent of
    # installing the package on the cluster / --py-files.
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    exec_pythonpath = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH", "")) if p
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.executor.memory",
            os.environ.get("SPARK_EXECUTOR_MEMORY", "4g"),
        )
        .config("spark.executorEnv.PYTHONPATH", exec_pythonpath)
        .config("spark.executorEnv.PYSPARK_PYTHON", sys.executable)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Measured and rejected (round 7): starting shuffles wide via
        # adaptive.coalescePartitions.initialPartitionNum=512 DOUBLED
        # the 50×-probe spill on the heaviest verify join (back-to-back
        # A/B on the same host: 50 s / 31 GB spilled at 32 initial
        # partitions vs 99 s / 70 GB at 512 — AQE's advisory-size
        # coalesce rebuilt large partitions while the extra map
        # fan-out added its own pressure). The partition-count knob for
        # big deployments stays SPARK_GRAFT_SHUFFLE_PARTITIONS (the
        # shuffle-probe showed ≤2.07× and zero spill at 512/2048 when
        # set as the REAL partition count rather than a coalesce start).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Plan strings must not truncate: bench.py hashes executedPlan
        # text as the plan-regression signal, and the default 100-char
        # scan-metadata cut made the hash sensitive to the width of a
        # SESSION-GLOBAL lambda-variable counter upstream of the cut
        # (two same-code full runs diffed on 8 entries). Verbosity only —
        # no execution behavior changes.
        .config("spark.sql.maxMetadataStringLength", "100000")
        .config("spark.sql.debug.maxToStringFields", "10000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # No per-call call-site capture: with it on, every `F.*` call pays
        # extra Py4J round trips plus a Python stack walk (one `F.col` took
        # 6.1 ms with it and 1.1 ms without on a 4-core host). The cost:
        # errors no longer carry the Python call site in their DataFrame
        # query context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # UI off by default (tests don't want the server); bench.py turns it
        # on (random port) to read per-stage shuffle bytes from the REST
        # monitoring API — a host-noise-immune regression signal.
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "true") else "false",
        )
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Some testdata generations store events.ts as TIMESTAMP(NANOS),
        # which Spark only reads as int64 with this flag (others use
        # timestamp[us], unaffected by it). Event operators normalize both
        # via functions/eventtime. Set HERE (not as a query side effect) so
        # no query mutates shared session state mid-run — operators only
        # re-assert it for foreign sessions (e.g. the driver's).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # spark.cleaner.periodicGC.interval keeps Spark's 30min default: a
        # 2min interval was A/B-tested in r13 and rejected (the forced full
        # GC paused the 16 GB driver 2-5 s; stream_pca_fold 4.4 → 13.8 s).
    )
    # Shuffle/spill scratch on the fastest local storage available —
    # the standard cluster practice (local NVMe), here the RAM-backed
    # tmpfs: bench totals swung ±2-4 s run-to-run on exactly the
    # state-I/O-heavy entries while the CPU calibration stayed flat,
    # i.e. /tmp's backing disk is the noisy resource. Spark's periodic GC
    # keeps the ContextCleaner deleting finished shuffle files, so
    # occupancy stays a few hundred MB. Env-overridable
    # (SPARK_GRAFT_LOCAL_DIR always wins); the /dev/shm DEFAULT is
    # additionally gated on free tmpfs headroom (ADVICE r13): tmpfs is
    # capped (typically 50 % of RAM) and shuffle bytes there compete
    # with process memory, so a shuffle larger than free tmpfs fails
    # with ENOSPC instead of spilling to disk. 32 GiB free ≈ 45× this
    # workload's total shuffle write; a host that can't clear it keeps
    # Spark's disk-backed default and its graceful-spill semantics.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "")
    if not local_dir and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 32 * 1024**3:
                local_dir = "/dev/shm/nrtdw_spark_local"
        except OSError:
            pass
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def clear_query_memos() -> None:
    """Drop every session-scoped memoized intermediate (shingle/band/pair
    tables, component labels, ANN standing state, star tables) and
    release their broadcasts and persisted frames. Queries rebuild them
    on next use — this exists so the bench can re-measure a one-time
    build cold and so long-lived sessions can release storage. Not needed
    for correctness anywhere."""
    memo.clear()
