#!/usr/bin/env python3
"""Per-task table of a traced run's spans.

    python3 perfbench/trace_report.py \
        .bench_work/traces/retail_daily-seed1.jsonl

For every pass (trace id): each task's construct and materialize time, and
the pass span's self time (wall time no task span covers: the
benchmark's own glue between tasks).
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def main():
    with open(sys.argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    own = metrics.self_time(spans)
    for trace in sorted({s["trace_id"] for s in spans}):
        group = [s for s in spans if s["trace_id"] == trace]
        root = next(s for s in group if s["parent_id"] is None)
        wall = (root["end_ns"] - root["start_ns"]) / 1e9
        print(f"{trace}: wall {wall:.3f} s, "
              f"self {own[root['span_id']] / 1e9:.3f} s")
        tasks = {}
        for s in group:
            if s["task"] is not None:
                tasks.setdefault(s["task"], {})[s["name"]] = \
                    (s["end_ns"] - s["start_ns"]) / 1e9
        print(f"  {'task':26s} {'construct_s':>12s} {'materialize_s':>14s}")
        for task, t in tasks.items():
            print(f"  {task:26s} {t.get('construct', 0):12.3f} "
                  f"{t.get('materialize', 0):14.3f}")


if __name__ == "__main__":
    main()
