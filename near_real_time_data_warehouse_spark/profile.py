"""The engine's size knees: the scan-size knee that sizes an exchange by
the bytes its input scans, and the one bounded probe that decides
whether a kernel runs on the driver.

Several operators insert an explicit exchange whose partition count is a
KNEE over scanned bytes — one partition per ~N bytes of input — so that
per-task sort runs and aggregation maps stay a few MB at any SF instead
of growing ∝ corpus at a fixed session partition count (the mechanism
that zeroed all 100×-probe disk spills in rounds 10–11). The constants
were tuned on a single host:

- ``BYTES_PER_TASK`` (8 MB): exchanges over fixed-width row streams —
  the market-basket pair re-aggregation (plans/analysis) and the Q21
  order-key legs (plans/classics). ~8 MB of scanned parquet ≈ a few MB
  of per-task state. The Lloyd trainer sizes its coalesce by it too.
- ``TEXT_BYTES_PER_TASK`` (256 KB): exchanges fed by COMPRESSED TEXT
  scans (the containment kernel in operators/dedup) — text explodes ~50×
  into the shingle/posting tables (measured at the 100× probe: 60 MB of
  parquet → 3.1 GB of verification shuffle), so the knee divides by a
  proportionally smaller constant.
- ``MIN_PARTITIONS`` (32): the floor — at driver/bench SFs every knee
  floors here, so sub-threshold plans are exactly the session default.
- ``MAX_PARTITIONS`` (4096): the single-host cap, so a local run never
  plans 100k-partition exchanges.

``scan_bytes`` is the zero-job size probe behind every knee and behind
q16's choice between its faithful self-join and the one-pass kernel;
``persist_sized`` is how a persisted frame keeps its size visible to it.

The row-count knee is ``driver_rows``: the graph kernels (connected
components, the quotient merge, PageRank) and the Lloyd trainer each
collect an input that fits under their cap and resolve it on the driver
in one action, and run their distributed loop otherwise.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame

BYTES_PER_TASK = 8 << 20
TEXT_BYTES_PER_TASK = 256 << 10
MIN_PARTITIONS = 32
MAX_PARTITIONS = 4096


def scan_bytes(df: DataFrame) -> int:
    """Total on-disk size of the local files feeding a DataFrame's scans —
    a zero-job SF proxy for plan sizing. Non-file sources (JDBC, views
    over streams) report 0: every knee then floors and q16 keeps its
    faithful plan, the conservative default. Persisted DataFrames hide
    their scans behind InMemoryRelation, so ``persist_sized`` records the
    size before persisting and that record wins."""
    stamped = getattr(df, "_graft_scan_bytes", None)
    if stamped is not None:
        return stamped
    total = 0
    for uri in df.inputFiles():
        path = uri[5:] if uri.startswith("file:") else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    return total


def scan_partitions(df: DataFrame, *, text: bool = False) -> int:
    """Knee partition count for an exchange fed by ``df``'s scans;
    ``text=True`` applies the compressed-text rate."""
    per = TEXT_BYTES_PER_TASK if text else BYTES_PER_TASK
    return max(MIN_PARTITIONS, min(MAX_PARTITIONS, scan_bytes(df) // per))


def persist_sized(df: DataFrame) -> DataFrame:
    """``df.persist()``, still sized by the files its unpersisted plan
    scans: persist() swaps InMemoryRelation into the analyzed plan and
    ``inputFiles()`` then reports nothing, which would silently floor
    every knee and keep q16 on its faithful plan at any SF."""
    nbytes = scan_bytes(df)
    p = df.persist()
    p._graft_scan_bytes = nbytes  # noqa: SLF001
    return p


def driver_rows(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as an Arrow table when it holds at most ``cap`` rows, else
    None. One Spark job either way: ``limit(cap + 1)`` bounds what the
    driver receives, so a frame past the cap costs at most ``cap + 1``
    rows before its caller goes distributed. An empty frame always fits,
    even at cap 0."""
    t = df.limit(cap + 1).toArrow()
    return t if t.num_rows <= cap else None
