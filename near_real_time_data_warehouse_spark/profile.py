"""Deployment profile for the engine's size knees (VERDICT r11 #5), and
the one bounded probe that decides whether a kernel runs on the driver.

Several operators insert an explicit exchange whose partition count is a
KNEE over scanned bytes — one partition per ~N bytes of input — so that
per-task sort runs and aggregation maps stay a few MB at any SF instead
of growing ∝ corpus at a fixed session partition count (the mechanism
that zeroed all 100×-probe disk spills in rounds 10–11). The knee
constants were tuned on this single host; this profile makes them
deployment-portable: one object, read once per process, consumed by
every knee site, with env overrides for a cluster rollout.

Defaults reproduce the tuned single-host plans byte-for-byte:

- ``bytes_per_task`` (8 MB): exchanges over fixed-width row streams —
  the market-basket pair re-aggregation (plans/analysis._pair_partitions)
  and the Q21 order-key legs (plans/classics._order_key_partitions).
  ~8 MB of scanned parquet ≈ a few MB of per-task state.
- ``text_bytes_per_task`` (256 KB): exchanges fed by COMPRESSED TEXT
  scans (operators/dedup._containment_partitions) — text explodes ~50×
  into the shingle/posting tables (measured at the 100× probe: 60 MB of
  parquet → 3.1 GB of verification shuffle), so the knee divides by a
  proportionally smaller constant.
- ``min_partitions`` (32): the floor — at driver/bench SFs every knee
  floors here, so sub-threshold plans are exactly the session default.
  On a cluster set it to the session's shuffle-partition count.
- ``max_partitions`` (4096): the single-host cap. A 1000-executor
  deployment raises it (or effectively removes it) via the env override;
  the cap exists so a local run never plans 100k-partition exchanges.

Env overrides (integers, read at first use):
SPARK_GRAFT_KNEE_BYTES_PER_TASK, SPARK_GRAFT_KNEE_TEXT_BYTES_PER_TASK,
SPARK_GRAFT_KNEE_MIN_PARTITIONS, SPARK_GRAFT_KNEE_MAX_PARTITIONS.

The row-count knee is ``driver_rows``: the graph kernels (connected
components, the quotient merge, PageRank) and the Lloyd trainer each
collect an input that fits under their cap and resolve it on the driver
in one action, and run their distributed loop otherwise.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame


@dataclass(frozen=True)
class KneeProfile:
    bytes_per_task: int = 8 << 20
    text_bytes_per_task: int = 256 << 10
    min_partitions: int = 32
    max_partitions: int = 4096

    def partitions(self, scan_bytes: int, *, text: bool = False) -> int:
        """Knee partition count for an exchange fed by ``scan_bytes`` of
        scanned input; ``text=True`` applies the compressed-text rate."""
        per = self.text_bytes_per_task if text else self.bytes_per_task
        return max(
            self.min_partitions, min(self.max_partitions, scan_bytes // per)
        )


_ACTIVE: KneeProfile | None = None


def knee_profile() -> KneeProfile:
    """The process-wide profile: defaults + env overrides, cached."""
    global _ACTIVE
    if _ACTIVE is None:

        def env(name: str, default: int) -> int:
            v = os.environ.get(name)
            return int(v) if v else default

        d = KneeProfile()
        _ACTIVE = KneeProfile(
            bytes_per_task=env("SPARK_GRAFT_KNEE_BYTES_PER_TASK", d.bytes_per_task),
            text_bytes_per_task=env(
                "SPARK_GRAFT_KNEE_TEXT_BYTES_PER_TASK", d.text_bytes_per_task
            ),
            min_partitions=env("SPARK_GRAFT_KNEE_MIN_PARTITIONS", d.min_partitions),
            max_partitions=env("SPARK_GRAFT_KNEE_MAX_PARTITIONS", d.max_partitions),
        )
    return _ACTIVE


def driver_rows(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as an Arrow table when it holds at most ``cap`` rows, else
    None. One Spark job either way: ``limit(cap + 1)`` bounds what the
    driver receives, so a frame past the cap costs at most ``cap + 1``
    rows before its caller goes distributed. An empty frame always fits,
    even at cap 0."""
    t = df.limit(cap + 1).toArrow()
    return t if t.num_rows <= cap else None
