#!/usr/bin/env python3
"""Self-time table and tracing overhead from the benchmark's run records.

    python3 perfbench/report.py                      # every record in perfbench/work/results
    python3 perfbench/report.py a-trace0.json a-trace1.json

For each traced record it prints the span names by self time (a span's
duration minus what its child spans cover). For each workload, seed and
run length that has both an untraced and a traced record, it prints every
end-to-end metric of both runs and their difference: the tracing
overhead.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(paths: list[str]) -> int:
    paths = paths or sorted(glob.glob(os.path.join(HERE, "work", "results", "*.json")))
    records = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        records[(r["workload"], r["seed"], r["seconds"], r["trace"])] = r
    for (workload, seed, seconds, trace), r in sorted(records.items()):
        if not trace:
            continue
        print(f"== {workload} seed {seed}: self time by span")
        rows = sorted(r["self_times"].items(), key=lambda kv: -kv[1]["self_s"])
        print(f"{'span':40} {'count':>6} {'total_s':>9} {'self_s':>9}")
        for name, t in rows:
            print(f"{name:40} {t['count']:6d} {t['total_s']:9.3f} {t['self_s']:9.3f}")
        plain = records.get((workload, seed, seconds, 0))
        if plain is None:
            continue
        print(f"== {workload} seed {seed}: tracing overhead (traced vs untraced)")
        for name, untraced in sorted(plain["end_to_end"].items()):
            traced = r["end_to_end"].get(name)
            if traced is None or not untraced:
                continue
            print(f"{name:40} {untraced:12.4g} {traced:12.4g} {(traced - untraced) / untraced:+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
