"""The benchmark's workloads.

Each workload gets a started session, generates its inputs from the seed,
warms up, measures for about ``seconds`` and checks its outputs afterwards.
The program is reached only through its public entry points:
``streaming.pipeline.run_streaming_etl``, ``etl.read_star``,
``plans.star.star_tables`` and ``driver_api.queries()``.

Both workloads are open loops of the same shape. A generator thread lands
new data on a fixed schedule that does not slow when the program does; the
main thread wakes every ``trigger_s`` seconds, makes what has landed
queryable, and then answers q03 over it. Nothing in the program runs
concurrently with anything else, so a figure measures the program and not
how two of its calls shared the host's few cores.

- ``ingest_trickle``: transaction CSV files land; each trigger is one
  ``run_streaming_etl`` call on one checkpoint, which loads what has
  landed into the star warehouse; q03 then runs over ``read_star``.
- ``olap_serve``: batches of new orders land beside a TPC-H-shaped table
  set; each trigger publishes a snapshot of what has landed, rebuilds the
  star from it with ``star_tables`` and answers q03 (from
  ``driver_api.queries()``). Before the open loop, the warm-up runs
  q01-q20 once each over the base tables, in a seed-permuted order; that
  pass gives the per-query figures and all its answers are checked.

The end-to-end figures are freshness figures, timed from when each input
was due to land: until the star held it (``fresh``) and until a q03 answer
included it (``answer``).
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import random
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

import check
import gen
from probes import PROGRESS_PARTS, ProgressLog, SparkCounters, Tracer, median, percentile

from near_real_time_data_warehouse_spark import driver_api
from near_real_time_data_warehouse_spark.etl import STAR_TABLES, read_star
from near_real_time_data_warehouse_spark.plans.analysis import QUERIES
from near_real_time_data_warehouse_spark.plans.star import star_tables
from near_real_time_data_warehouse_spark.session import clear_query_memos
from near_real_time_data_warehouse_spark.streaming import pipeline
from near_real_time_data_warehouse_spark.streaming.monitor import EvictionLedger

Q03 = "q03_category_sales_by_occupation"
OLAP_QUERIES = sorted(n for n in QUERIES if n[0] == "q" and n[1:3].isdigit())

# Workload parameters (recorded in every result).
PARAMS = {
    "ingest_trickle": {"rows_per_file": 400, "files_per_s": 4, "trigger_s": 5.0,
                       "warmup_calls": 2},
    "olap_serve": {"orders": 3_000, "orders_per_batch": 50, "batches_per_s": 2,
                   "trigger_s": 5.0},
}
SETUP_REPEATS = 3  # input generation is repeated; setup_s takes its median
WARMUP_ROWS = 1_000


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    progress: ProgressLog
    counters: SparkCounters
    setup: dict[str, float] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    detail: dict[str, object] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    calls: list[dict] = field(default_factory=list)  # timed run_streaming_etl calls
    queries: dict[str, list[float]] = field(default_factory=dict)  # name -> ms
    query_jobs: dict[str, list[int]] = field(default_factory=dict)
    read_star_ms: list[float] = field(default_factory=list)
    current_call: dict | None = None
    groups: itertools.count = field(default_factory=itertools.count)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed_setup(self, phase: str, fn, repeats: int = 1):  # noqa: ANN001
        """Run a set-up phase ``repeats`` times; record the median wall."""
        walls, out = [], None
        for _ in range(repeats):
            t = time.perf_counter()
            with self.tracer.span(f"setup.{phase}"):
                out = fn()
            walls.append(time.perf_counter() - t)
        self.setup[phase] = median(walls)
        return out

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


# --- calls into the program -------------------------------------------------

def etl_call(ctx: Context, txn_dir: str, masters: dict, wh: str, ck: str,
             ledger: EvictionLedger, timed: bool = True) -> None:
    with ctx.tracer.span("pipeline.run_streaming_etl") as sp:
        ctx.current_call = sp
        start = time.time()
        try:
            pipeline.run_streaming_etl(ctx.spark, txn_dir, masters["customer"], masters["product"],
                                       wh, ck, metrics=ledger)
            ok = True
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            ctx.problems.append(f"run_streaming_etl: {e!r:.300}")
            ok = False
        end = time.time()
    if timed:
        ctx.count(ok)
        ctx.calls.append({"start": start, "end": end, "ck": ck, "span": sp})


def run_query(ctx: Context, name: str, build, timed: bool = True):  # noqa: ANN001
    """Build one analysis query's DataFrame with ``build()``, collect it
    under its own job group, and record latency and job count. Returns
    the rows and schema, or None when the query failed."""
    group = f"{name[:3]}#{next(ctx.groups)}"
    sc = ctx.spark.sparkContext
    sc.setJobGroup(group, group)
    with ctx.tracer.span(f"analysis.{name[:3]}"):
        t = time.perf_counter()
        try:
            df = build()
            answer = (df.collect(), df.schema)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            ctx.problems.append(f"{name}: {e!r:.300}")
            answer = None
        ms = (time.perf_counter() - t) * 1000
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    sc.setJobGroup("", "")
    if timed:
        ctx.count(answer is not None)
        if answer is not None:
            ctx.queries.setdefault(name, []).append(ms)
            ctx.query_jobs.setdefault(name, []).append(jobs)
    return answer


def live_q03(ctx: Context, wh: str, timed: bool = True):  # noqa: ANN201
    """q03 over a fresh ``read_star`` of the warehouse."""
    with ctx.tracer.span("etl.read_star"):
        t = time.perf_counter()
        star = read_star(ctx.spark, wh)
        ms = (time.perf_counter() - t) * 1000
    if timed:
        ctx.read_star_ms.append(ms)
    return run_query(ctx, Q03, lambda: QUERIES[Q03].spark(star), timed)


def trace_load_star_batch(ctx: Context) -> None:
    """Traced run: wrap ``load_star_batch`` as the pipeline module calls it."""
    inner = pipeline.load_star_batch

    def traced(*args, **kwargs):  # noqa: ANN002, ANN003
        with ctx.tracer.span("etl.load_star_batch", parent=ctx.current_call):
            return inner(*args, **kwargs)

    pipeline.load_star_batch = traced


# --- the open loop ------------------------------------------------------------

def open_loop(ctx: Context, trigger_s: float, items: list, per_s: float, land, serve) -> dict:
    """Land ``items`` on a fixed schedule while serving every ``trigger_s``.

    A generator thread calls ``land(i, item)`` for item i when it is due,
    at ``t_open + (i + 0.5) / per_s``: half an item period off the trigger
    grid, so that no item is due on a trigger. The calling thread runs
    ``serve(k, landed)`` at ``t_open + k * trigger_s`` for k = 1 ..
    triggers, later if the previous ``serve`` overran; ``landed`` maps
    every landed item's index to its due time. Returns ``landed``.
    """
    triggers = math.ceil(len(items) / (per_s * trigger_s))
    landed: dict[int, float] = {}
    late_ms = [0.0]
    t_open = time.time() + 0.05

    def generator() -> None:
        for i, item in enumerate(items):
            due = t_open + (i + 0.5) / per_s
            time.sleep(max(0.0, due - time.time()))
            land(i, item)
            late_ms[0] = max(late_ms[0], (time.time() - due) * 1000)
            landed[i] = due  # open loop: freshness counts from when it was due

    thread = threading.Thread(target=generator)
    thread.start()
    try:
        for k in range(1, triggers + 1):
            time.sleep(max(0.0, t_open + k * trigger_s - time.time()))
            serve(k, landed)
    finally:
        thread.join()
    ctx.layer["gen.late_ms_max"] = late_ms[0]
    return landed


def n_items(ctx: Context, trigger_s: float, per_s: float) -> int:
    """Items that land over the run: one trigger interval's worth per
    trigger, ``seconds / trigger_s`` triggers (at least one)."""
    return round(per_s * trigger_s * max(1, round(ctx.seconds / trigger_s)))


def freshness(ctx: Context, landed: dict, ready: dict, answered: dict) -> None:
    """Per landed item: ms from when it was due until the star held it
    (``ready``: item -> time) and until a q03 answer included it
    (``answered``). Fills the end-to-end metrics and their detail."""
    fresh, answer = [], []
    for i, due in sorted(landed.items()):
        if i not in ready or i not in answered:
            ctx.problems.append(f"input {i} never reached the star or an answer")
            continue
        fresh.append((ready[i] - due) * 1000)
        answer.append((answered[i] - due) * 1000)
    ctx.e2e.update({"fresh_ms_p50": median(fresh), "answer_ms_p50": median(answer)})
    ctx.detail.update({"samples": len(fresh), "fresh_ms_p50": median(fresh),
                       "answer_ms_p50": median(answer)})
    # A percentile is printed only when at least ten samples lie beyond it.
    for q in (75, 90, 99):
        if len(fresh) * (100 - q) / 100 >= 10:
            ctx.detail[f"fresh_ms_p{q}"] = percentile(fresh, q)
            ctx.detail[f"answer_ms_p{q}"] = percentile(answer, q)
    half = len(fresh) // 2
    ctx.detail["fresh_ms_p50_second_half_minus_first"] = (
        median(fresh[half:]) - median(fresh[:half]) if half else 0.0)


def _write(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)


# --- streaming bookkeeping ----------------------------------------------------

def checkpoint_query_id(ck: str) -> str:
    with open(os.path.join(ck, "metadata")) as f:
        return json.load(f)["id"]


def checkpoint_batches(ck: str) -> int:
    return sum(name.isdigit() for name in os.listdir(os.path.join(ck, "commits")))


def file_batches(ck: str) -> dict[str, int]:
    """Input file name -> batch id, from the file source's own log."""
    out: dict[str, int] = {}
    for log in glob.glob(os.path.join(ck, "sources", "0", "*")):
        with open(log) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                path = urllib.parse.unquote(urllib.parse.urlparse(entry["path"]).path)
                out[os.path.basename(path)] = int(entry["batchId"])
    return out


def batch_ends(ctx: Context, ck: str) -> dict[int, float]:
    """Batch id -> end of its trigger, from the progress listener."""
    qid = checkpoint_query_id(ck)
    ctx.progress.wait_for(qid, checkpoint_batches(ck))
    return {b["batch"]: b["end"] for b in ctx.progress.for_query(qid)}


def pipeline_layer(ctx: Context) -> None:
    """durationMs parts per batch and per-call overhead; in the traced run
    the batch parts also become child spans of their call."""
    parts = {p: [] for p in PROGRESS_PARTS}
    triggers, rows, overhead = [], [], []
    for call in ctx.calls:
        qid = checkpoint_query_id(call["ck"])
        mine = [b for b in ctx.progress.for_query(qid) if call["start"] <= b["start"] <= call["end"]]
        trig = sum(b["dur"].get("triggerExecution", 0) for b in mine)
        overhead.append((call["end"] - call["start"]) * 1000 - trig)
        for b in mine:
            triggers.append(b["dur"].get("triggerExecution", 0))
            rows.append(b["rows"])
            for p in PROGRESS_PARTS:
                parts[p].append(b["dur"].get(p, 0))
            tspan = ctx.tracer.add("pipeline.trigger", b["start"], b["end"], call["span"])
            t = b["start"]
            for p in PROGRESS_PARTS:
                d = b["dur"].get(p, 0) / 1000.0
                ctx.tracer.add(f"pipeline.{p}", t, t + d, tspan)
                t += d
    ctx.layer.update({
        "pipeline.call_ms_p50": median((c["end"] - c["start"]) * 1000 for c in ctx.calls),
        "pipeline.batches": len(triggers),
        "pipeline.trigger_ms_p50": median(triggers),
        "pipeline.add_batch_ms_p50": median(parts["addBatch"]),
        "pipeline.planning_ms_p50": median(parts["queryPlanning"]),
        "pipeline.get_batch_ms_p50": median(parts["getBatch"]),
        "pipeline.latest_offset_ms_p50": median(parts["latestOffset"]),
        "pipeline.wal_commit_ms_p50": median(parts["walCommit"]),
        "pipeline.commit_offsets_ms_p50": median(parts["commitOffsets"]),
        "pipeline.call_overhead_ms_p50": median(overhead),
        "etl.rows_per_batch_p50": median(rows),
    })
    _reparent_loads(ctx)


def _reparent_loads(ctx: Context) -> None:
    """Hang each load_star_batch span under the addBatch span that holds it."""
    adds = [s for s in ctx.tracer.spans if s["name"] == "pipeline.addBatch"]
    for s in ctx.tracer.spans:
        if s["name"] == "etl.load_star_batch":
            mid = (s["start"] + s["end"]) / 2
            holder = next((a for a in adds if a["start"] <= mid <= a["end"]), None)
            if holder is not None:
                s["parent"], s["trace"] = holder["id"], holder["trace"]
    loads = [(s["end"] - s["start"]) * 1000 for s in ctx.tracer.spans
             if s["name"] == "etl.load_star_batch"]
    ctx.layer["etl.load_star_batch_ms_p50"] = median(loads)


def warehouse_layout(ctx: Context, wh: str, input_bytes: int) -> None:
    total = 0
    for t in STAR_TABLES:
        files = glob.glob(os.path.join(wh, t, "**", "*.parquet"), recursive=True)
        ctx.layer[f"etl.files.{t}"] = len(files)
        total += sum(os.path.getsize(f) for f in files)
    ctx.layer["etl.warehouse_bytes"] = total
    ctx.layer["etl.bytes_per_input_byte"] = total / input_bytes if input_bytes else 0.0


def monitor_layer(ctx: Context, ledger: EvictionLedger, input_rows: int) -> None:
    ctx.layer["monitor.loaded_rows"] = ledger.total_loaded
    ctx.layer["monitor.evicted_rows"] = ledger.total_evicted
    ctx.layer["monitor.load_ratio"] = ledger.total_loaded / input_rows if input_rows else 0.0


def check_ingest(ctx: Context, txn_dir: str, masters: dict, wh: str,
                 ledger: EvictionLedger, q03_answer) -> dict:  # noqa: ANN001
    expected = check.expected_ingest(os.path.join(txn_dir, "*.csv"), masters)
    if (ledger.total_loaded, ledger.total_evicted) != (expected["loaded"], expected["evicted"]):
        ctx.problems.append(f"ledger loaded/evicted {ledger.total_loaded}/{ledger.total_evicted}, "
                            f"want {expected['loaded']}/{expected['evicted']}")
    ctx.problems += check.ingest_problems(expected, check.actual_ingest(read_star(ctx.spark, wh)))
    if q03_answer is None:
        ctx.problems.append("no q03 answer to check")
    else:
        ctx.problems += check.answer_problems(Q03, *q03_answer,
                                              check.warehouse_connection(wh), QUERIES[Q03].oracle)
    return expected


# --- workloads ----------------------------------------------------------------

def ingest_trickle(ctx: Context) -> None:
    p = PARAMS["ingest_trickle"]
    txn, stage = ctx.path("trickle", "txn"), ctx.path("trickle", "stage")
    wh, ck = ctx.path("trickle", "wh"), ctx.path("trickle", "ck")
    n_files = n_items(ctx, p["trigger_s"], p["files_per_s"])

    def generate() -> tuple[dict, list[str]]:
        masters = gen.write_masters(ctx.path("masters"), ctx.seed)
        return masters, [gen.transactions_csv(ctx.seed, 2, i, p["rows_per_file"])
                         for i in range(n_files)]

    masters, files = ctx.timed_setup("generate", generate, SETUP_REPEATS)
    os.makedirs(txn, exist_ok=True)
    os.makedirs(stage, exist_ok=True)
    ledger = EvictionLedger()

    def warm_up() -> None:
        # The first micro-batches of a session pay JIT and class loading.
        # The warm-up batches go through the measured checkpoint and
        # warehouse, so the first timed q03 reads a loaded star.
        for i in range(p["warmup_calls"]):
            _write(os.path.join(txn, f"w{i}.csv"),
                   gen.transactions_csv(ctx.seed, 9, i, WARMUP_ROWS))
            etl_call(ctx, txn, masters, wh, ck, ledger, timed=False)
        live_q03(ctx, wh, timed=False)

    ctx.timed_setup("warm_up", warm_up)

    def land(i: int, text: str) -> None:
        # Written aside, then renamed: the file source never sees half a file.
        name = f"f{i:05d}.csv"
        _write(os.path.join(stage, name), text)
        os.rename(os.path.join(stage, name), os.path.join(txn, name))

    answers: list[tuple[float, float]] = []  # (start, end) of each q03 after a call

    def serve(k: int, landed: dict) -> None:
        etl_call(ctx, txn, masters, wh, ck, ledger)
        t = time.time()
        live_q03(ctx, wh)
        answers.append((t, time.time()))

    # Spark counters cover the open loop and the drain. Marking reads the
    # REST API, which can take seconds, so it comes before the clock starts.
    ctx.counters.mark()
    t0 = time.time()
    landed = open_loop(ctx, p["trigger_s"], files, p["files_per_s"], land, serve)
    if len(file_batches(ck)) < len(landed) + p["warmup_calls"]:  # a late tail
        etl_call(ctx, txn, masters, wh, ck, ledger, timed=False)
    t = time.time()
    final = live_q03(ctx, wh, timed=False)
    answers.append((t, time.time()))
    wall = time.time() - t0
    ctx.layer.update(ctx.counters.collect(wall))

    tc = time.perf_counter()
    ends, batch_of = batch_ends(ctx, ck), file_batches(ck)
    ready, answered = {}, {}
    for i in landed:
        end = ends.get(batch_of.get(f"f{i:05d}.csv"))
        answer = next((b for a, b in answers if end is not None and a >= end), None)
        if answer is not None:
            ready[i], answered[i] = end, answer
    freshness(ctx, landed, ready, answered)
    expected = check_ingest(ctx, txn, masters, wh, ledger, final)
    ctx.detail.update({"timed_s": wall, "check_s": time.perf_counter() - tc})

    walls = [c["end"] - c["start"] for c in ctx.calls]
    qid = checkpoint_query_id(ck)
    timed_batches = {b["batch"] for b in ctx.progress.for_query(qid)
                     if any(c["start"] <= b["start"] <= c["end"] for c in ctx.calls)}
    timed_loaded = sum(b["loaded"] for b in ledger.batches if b["epoch_id"] in timed_batches)
    ctx.detail.update({"etl_calls": len(walls), "call_walls_s": walls,
                       "q03_ms": ctx.queries.get(Q03, []),
                       "ingest_rows_per_s": timed_loaded / sum(walls) if walls else 0.0})
    pipeline_layer(ctx)
    input_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(txn, "*.csv")))
    warehouse_layout(ctx, wh, input_bytes)
    monitor_layer(ctx, ledger, expected["input_rows"])


def publish(base: str, land_dir: str, snap: str, batches: list[int]) -> None:
    """Publish a snapshot: hard links to the base tables and to every
    landed batch of new orders, under ``snap`` in ``write_tpch``'s layout."""
    for name in ("customer", "supplier", "part"):
        os.makedirs(snap, exist_ok=True)
        os.link(os.path.join(base, f"{name}.parquet"), os.path.join(snap, f"{name}.parquet"))
    for name in ("orders", "lineitem"):
        d = os.path.join(snap, f"{name}.parquet")
        os.makedirs(d)
        os.link(os.path.join(base, f"{name}.parquet", "base.parquet"), os.path.join(d, "base.parquet"))
        for i in batches:
            f = f"b{i:05d}.parquet"
            os.link(os.path.join(land_dir, name, f), os.path.join(d, f))


def olap_serve(ctx: Context) -> None:
    import pyarrow.parquet as pq

    p = PARAMS["olap_serve"]
    base, land_dir, stage = ctx.path("olap", "base"), ctx.path("olap", "land"), ctx.path("olap", "stage")
    queries = driver_api.queries()
    oracles = driver_api.oracle_sql()
    n_batches = n_items(ctx, p["trigger_s"], p["batches_per_s"])
    order = list(OLAP_QUERIES)
    random.Random(ctx.seed).shuffle(order)

    def generate() -> list:
        gen.write_tpch(base, ctx.seed, p["orders"])
        return [gen.tpch_delta(ctx.seed, i, p["orders_per_batch"], p["orders"])
                for i in range(n_batches)]

    batches = ctx.timed_setup("generate", generate, SETUP_REPEATS)
    for d in (stage, os.path.join(land_dir, "orders"), os.path.join(land_dir, "lineitem")):
        os.makedirs(d, exist_ok=True)
    star: dict = {}
    snaps = itertools.count()
    refresh_ms: list[float] = []

    def refresh(landed: list[int], timed: bool = True) -> str:
        """Make ``landed`` queryable: publish a snapshot, drop the old star
        (unpersist, clear the query memos) and build the new one with
        ``star_tables``. Returns the snapshot directory."""
        nonlocal star
        snap = ctx.path("olap", f"snap{next(snaps)}")
        t = time.perf_counter()
        publish(base, land_dir, snap, landed)
        for df in star.values():
            df.unpersist(blocking=True)
        clear_query_memos()
        with ctx.tracer.span("star.star_tables"):
            star = star_tables(ctx.spark, snap)
            rows = {name: df.count() for name, df in star.items()}
        if timed:
            refresh_ms.append((time.perf_counter() - t) * 1000)
        ctx.layer.update({f"star.rows.{name}": n for name, n in rows.items()})
        return snap

    answers: list[tuple[str, str, object]] = []  # (query, snapshot, rows and schema)

    def serve_query(name: str, snap: str, timed: bool = True) -> None:
        answer = run_query(ctx, name, lambda: queries[name](ctx.spark, snap), timed)
        if answer is not None:
            answers.append((name, snap, answer))

    def warm_up() -> float:
        # The cold build, one pass over q01-q20 (each query's first run in
        # the session, so its figures include code generation and JIT),
        # then a warm rebuild answering q03.
        t = time.perf_counter()
        snap = refresh([], timed=False)
        cold_s = time.perf_counter() - t
        for name in order:
            serve_query(name, snap)
        serve_query(Q03, refresh([], timed=False), timed=False)
        return cold_s

    ctx.layer["star.build_s"] = ctx.timed_setup("warm_up", warm_up)

    def land(i: int, batch) -> None:  # noqa: ANN001
        # Written aside, then renamed, lines before orders; a snapshot takes
        # only batches whose both files have landed.
        f = f"b{i:05d}.parquet"
        for name, table in zip(("lineitem", "orders"), reversed(batch)):
            pq.write_table(table, os.path.join(stage, f))
            os.rename(os.path.join(stage, f), os.path.join(land_dir, name, f))

    ready, answered, cycles = {}, {}, []

    def serve(k: int, landed: dict) -> None:
        t = time.perf_counter()
        now = sorted(dict(landed))  # the generator thread adds to it
        snap = refresh(now)
        t_ready = time.time()
        serve_query(Q03, snap)
        t_answer = time.time()
        for i in now:
            ready.setdefault(i, t_ready)
            answered.setdefault(i, t_answer)
        cycles.append(time.perf_counter() - t)

    ctx.counters.mark()
    t0 = time.time()
    landed = open_loop(ctx, p["trigger_s"], batches, p["batches_per_s"], land, serve)
    if len(ready) < len(landed):  # a late tail
        serve(0, landed)
    wall = time.time() - t0
    ctx.layer.update(ctx.counters.collect(wall))

    tc = time.perf_counter()
    freshness(ctx, landed, ready, answered)
    cons: dict[str, object] = {}
    for name, snap, answer in answers:
        if snap not in cons:
            cons[snap] = check.tpch_connection(snap)
        ctx.problems += check.answer_problems(name, *answer, cons[snap], oracles[name])
    for name in OLAP_QUERIES:
        if name not in ctx.queries:
            ctx.problems.append(f"{name}: no timed answer")
    for df in star.values():
        df.unpersist()
    ctx.detail.update({"timed_s": wall, "check_s": time.perf_counter() - tc,
                       "cycle_walls_s": cycles, "refresh_ms": refresh_ms})
    ctx.layer["star.refresh_ms_p50"] = median(refresh_ms)


RUNNERS = {"ingest_trickle": ingest_trickle, "olap_serve": olap_serve}


def exercises(workload: str, metric: str) -> bool:
    """Whether ``workload`` runs the layer ``metric`` measures. A metric of
    an exercised layer must be measured; the others print 0."""
    if workload == "ingest_trickle":
        return not metric.startswith("star.") and (
            not metric.startswith("analysis.") or metric.startswith(f"analysis.{Q03[:3]}."))
    return not metric.startswith(("pipeline.", "etl.", "monitor."))
