"""Arithmetic of the chain benchmark: pass records in, metrics out.

Kept apart from run.py so selftest.py can check it without a JVM.
"""
import statistics

# Time a failed task counts for (graft.Bench's failure sentinel): a task
# that throws early or returns a wrong result can only make its pass
# look slower, never faster.
FAIL_S = 3600.0


def median_n(values):
    """Median of the samples and how many there were."""
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values), len(values)


def task_seconds(task):
    return task["construct_s"] + task["materialize_s"]


def task_failed(p, t, bad):
    """Task `t` of pass `p` threw, or its output failed the oracle check
    (`bad` holds the failed (pass, task) pairs)."""
    return t["error"] is not None or (p["pass"], t["task"]) in bad


def chain_seconds(p, bad):
    failed = any(task_failed(p, t, bad) for t in p["tasks"])
    return FAIL_S if failed else p["wall_s"]


def slowest_task_seconds(p, bad):
    return max(FAIL_S if task_failed(p, t, bad) else task_seconds(t)
               for t in p["tasks"])


def error_counts(passes, bad):
    """(attempted, failed) task runs; a failed task counts once per pass
    it failed in."""
    attempted = sum(len(p["tasks"]) for p in passes)
    failed = sum(1 for p in passes for t in p["tasks"]
                 if task_failed(p, t, bad))
    return attempted, failed


def self_time(spans):
    """Self time of every span: its duration minus the part of it that
    its child spans cover (overlapping children are counted once)."""
    kids = {}
    for s in spans:
        if s.get("parent_id") is not None:
            kids.setdefault(s["parent_id"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        covered, cur_s, cur_e = 0, None, None
        for c in sorted(kids.get(s["span_id"], []),
                        key=lambda c: c["start_ns"]):
            cs, ce = max(c["start_ns"], lo), min(c["end_ns"], hi)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["span_id"]] = (hi - lo) - covered
    return out


def end_to_end(result, bad):
    """The untraced passes' end-to-end metrics (seconds, MB)."""
    passes = [p for p in result["passes"] if not p["traced"]]
    chain, n = median_n(chain_seconds(p, bad) for p in passes)
    slowest, _ = median_n(slowest_task_seconds(p, bad) for p in passes)
    return {
        "setup_s": (result["setup_s"], "s"),
        "chain_s": (chain, "s"),
        "slowest_task_s": (slowest, "s"),
        "heap_peak_mb": (result["heap_peak_b"] / 1e6, "MB"),
        "heap_live_mb": (result["heap_live_b"] / 1e6, "MB"),
    }, n


def per_layer(result, bad, output_rows):
    """Per-layer metrics of the traced passes: timings as the median over
    passes, engine counters as the mean per pass."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    tr = result["trace"]
    n = len(traced)
    tot = {}
    for g in tr["groups"]:
        for k, v in g.items():
            if k != "group":
                tot[k] = tot.get(k, 0) + v

    def per_pass(key, scale=1.0):
        return tot.get(key, 0) * scale / n

    active_s = [a / 1e3 for a in tr["active_ms"]]
    busy_base = sum(active_s) * int(result["cpus"])
    build = [task_seconds(t) for p in traced for t in p["tasks"]
             if t["task"] == "ann_index_build"]
    return {
        "pipelines.construct_s": (statistics.median(
            sum(t["construct_s"] for t in p["tasks"]) for p in traced), "s"),
        "pipelines.materialize_s": (statistics.median(
            sum(t["materialize_s"] for t in p["tasks"]) for p in traced), "s"),
        "pipelines.output_rows": (output_rows, "count"),
        "runner.tasks": (len(traced[0]["tasks"]), "count"),
        "runner.failed_tasks": (error_counts(traced, bad)[1] / n, "count"),
        "catalyst.plan_s": (tr["plan_ms"] / 1e3 / n, "s"),
        "catalyst.actions": (tr["actions"] / n, "count"),
        "driver.sync_s": (statistics.median(
            p["wall_s"] - a for p, a in zip(traced, active_s)), "s"),
        "scheduler.jobs": (per_pass("jobs"), "count"),
        "scheduler.stages": (per_pass("stages"), "count"),
        "scheduler.tasks": (per_pass("tasks"), "count"),
        "scheduler.overhead_s": (
            (tot.get("task_ms", 0) - tot.get("run_ms", 0)) / 1e3 / n, "s"),
        "executor.run_s": (per_pass("run_ms", 1e-3), "s"),
        "executor.cpu_s": (per_pass("cpu_ns", 1e-9), "s"),
        "executor.gc_s": (per_pass("gc_ms", 1e-3), "s"),
        "executor.busy_ratio": (
            tot.get("run_ms", 0) / 1e3 / busy_base if busy_base else 0.0,
            "ratio"),
        "shuffle.write_mb": (per_pass("shuffle_write_b", 1e-6), "MB"),
        "shuffle.read_mb": (per_pass("shuffle_read_b", 1e-6), "MB"),
        "shuffle.fetch_wait_s": (per_pass("fetch_wait_ms", 1e-3), "s"),
        "io.scan_mb": (per_pass("scan_b", 1e-6), "MB"),
        "io.write_mb": (per_pass("written_b", 1e-6), "MB"),
        "io.write_files": (tr["files_written"] / n, "count"),
        "cache.stored_mb": (tr["stored_peak_b"] / 1e6, "MB"),
        "cache.spill_mb": (per_pass("spill_b", 1e-6), "MB"),
        "artifacts.build_s": (statistics.median(build) if build else 0.0, "s"),
        "artifacts.bytes_mb": (tr["artifact_bytes"] / 1e6, "MB"),
        "artifacts.files": (tr["artifact_files"], "count"),
        "machine.calib_s": (result["calib_s"], "s"),
        "trace.overhead_s": (
            median_n(chain_seconds(p, bad) for p in traced)[0] -
            median_n(chain_seconds(p, bad) for p in plain)[0], "s"),
    }
