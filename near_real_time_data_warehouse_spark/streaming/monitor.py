"""Streaming anomaly monitor — the stateful twin of
operators/events.hourly_anomalies.

``applyInPandasWithState`` keyed by event_type holds each type's hourly
partials (hour index → exact integer micro-value sum + count) across
micro-batches and re-emits hourly 3σ flags as state evolves (update
mode). The arithmetic mirrors the batch operator digit for digit:
per-row DECIMAL(18,6) quantization (Spark's double→decimal cast uses
the shortest-repr value and HALF_UP — `Decimal(repr(x))` is the Python
equivalent), integer micro sums, variance as n·Σx² − (Σx)² in exact
ints, then the identical float-op chain — so the drained stream's
final emissions equal the batch DataFrame bit for bit (tested).

State is bounded and emissions never use a degraded baseline:

- **Retention**: after each batch, hours more than ``HORIZON_HOURS``
  (48) behind the type's max hour are evicted, so state holds ≤ 49
  entries per key regardless of stream length.
- **Emission floor**: the state records the highest eviction floor ever
  applied; a batch emits only hours whose *entire* 24-hour baseline
  window sits at-or-above that floor. Hours below the emission floor
  had their final (complete-baseline) flag emitted while they were
  live; re-emitting them after part of their baseline was evicted
  would overwrite a correct final value with a degraded one (update
  mode: latest emission wins).
- **Lateness bound**: an event more than ``LATE_HOURS`` (24) hours
  behind its type's pre-batch max hour is dropped — the in-operator
  analog of the watermark a real deployment would configure. This is
  exactly the set of hours at-or-below the emission floor, so a
  dropped event could never be correctly re-emitted anyway.

Together these give: every emitted flag is computed from a complete
baseline, and once an hour leaves the emission window nothing can
change it — so final emissions equal the batch operator whenever no
event arrives more than 24 hours behind its type's running max (the
watermark contract; tested on dense multi-batch streams that engage
eviction, tests/test_streaming_monitor.py)."""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


class EvictionLedger:
    """Per-batch operational counters for the streaming ETL — the
    observable twin of the reference's evicted unmatched-key prints
    (hybrid_join.py:208,236,354). The inner customer join drops
    unmatched stream tuples silently; an operator running the pipeline
    needs the per-batch count (a sudden spike means a master-data feed
    stopped refreshing). One row per micro-batch: epoch id, rows loaded
    into the fact table, rows evicted by the customer leg. Driver-side
    and bounded (one tuple per micro-batch); a deployment would forward
    ``record`` to its metrics system."""

    def __init__(self) -> None:
        self.batches: list[dict[str, int]] = []

    def record(self, epoch_id: int, loaded: int, evicted: int) -> None:
        """Record one micro-batch. A replayed epoch (foreachBatch is
        at-least-once) replaces its earlier entry instead of counting
        twice."""
        entry = {"epoch_id": int(epoch_id), "loaded": int(loaded), "evicted": int(evicted)}
        self.batches = [b for b in self.batches if b["epoch_id"] != entry["epoch_id"]]
        self.batches.append(entry)

    @property
    def total_evicted(self) -> int:
        return sum(b["evicted"] for b in self.batches)

    @property
    def total_loaded(self) -> int:
        return sum(b["loaded"] for b in self.batches)

_HOUR_US = 3_600_000_000
_SIX = Decimal("0.000001")
LATE_HOURS = 24  # max event-time lateness refreshed by re-emission
HORIZON_HOURS = LATE_HOURS + 24  # retained lookback: late window + baseline
_NO_FLOOR = -(1 << 62)  # sentinel: no eviction applied yet

_STATE_SCHEMA = (
    "hours ARRAY<LONG>, ns ARRAY<LONG>, vmicros ARRAY<LONG>, seq LONG, floor LONG"
)
_OUTPUT_SCHEMA = (
    "event_type STRING, hour_epoch_s LONG, n_events LONG, total_value DOUBLE, "
    "baseline_mean DOUBLE, baseline_std DOUBLE, is_anomaly BOOLEAN, emit_seq LONG"
)


def _micro(v: float) -> int:
    return int(Decimal(repr(v)).quantize(_SIX, rounding=ROUND_HALF_UP) * 1_000_000)


def _flags(hourly: dict[int, tuple[int, int]], seq: int, floor: int) -> pd.DataFrame:
    """3σ rows for every hour whose full 24h baseline window is >= floor."""
    rows = []
    for h in sorted(hourly):
        if h - 24 < floor:
            continue  # part of the baseline window was evicted: final
            # flag for h was already emitted while it was live
        n_ev, vm = hourly[h]
        base = [hourly[b] for b in range(h - 24, h) if b in hourly]
        n = len(base)
        if n >= 12:
            import math

            b1 = sum(v for _, v in base)
            b2 = sum(v * v for _, v in base)
            mean = (float(b1) / n) / 1_000_000.0
            # math.sqrt, not **0.5: pow is not guaranteed correctly
            # rounded; sqrt is, and is what the JVM/DuckDB emit.
            std = math.sqrt(float(b2 * n - b1 * b1) / (n * (n - 1))) / 1_000_000.0
            x = vm / 1_000_000.0
            flag = abs(x - mean) > 3 * std
        else:
            mean = std = flag = None
        rows.append((h * 3600, n_ev, vm / 1_000_000.0, mean, std, flag))
    return pd.DataFrame(
        rows, columns=["hour_epoch_s", "n_events", "total_value",
                       "baseline_mean", "baseline_std", "is_anomaly"]
    ).assign(emit_seq=seq)


def _monitor_fn(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        hours, ns, vmicros, seq, floor = state.get
        hourly = {h: (n, v) for h, n, v in zip(hours, ns, vmicros)}
    else:
        hourly, seq, floor = {}, 0, _NO_FLOOR
    # Watermark analog: relative to the PRE-batch max, an event more
    # than LATE_HOURS behind is beyond the re-emission window (its
    # hour's final flag is already out) — drop it, as the deployment's
    # watermark would before it reached this operator.
    late_cut = (max(hourly) - LATE_HOURS) if hourly else None
    for pdf in pdfs:
        for us, value in zip(pdf["us"], pdf["value"]):
            h = int(us) // _HOUR_US
            if late_cut is not None and h < late_cut:
                continue
            n_ev, vm = hourly.get(h, (0, 0))
            hourly[h] = (n_ev + 1, vm + _micro(float(value)))
    seq += 1
    # Emit on the pre-eviction map, restricted to hours whose complete
    # baseline is still at-or-above the applied eviction floor.
    out = _flags(hourly, seq, floor)
    out.insert(0, "event_type", key[0])
    if hourly:
        floor = max(floor, max(hourly) - HORIZON_HOURS)
    retained = sorted(h for h in hourly if h >= floor)
    state.update((
        retained,
        [hourly[h][0] for h in retained],
        [hourly[h][1] for h in retained],
        seq,
        floor,
    ))
    yield out


def streaming_hourly_anomalies(events: DataFrame) -> DataFrame:
    """events stream (with ``us`` epoch-µs and ``value``) → per-type
    hourly 3σ flags, re-emitted as state evolves (update mode)."""
    return events.groupBy("event_type").applyInPandasWithState(
        _monitor_fn,
        outputStructType=_OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
