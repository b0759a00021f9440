#!/usr/bin/env python3
"""Self-checks of the chain benchmark's own arithmetic and inputs.

    python3 perfbench/selftest.py           # arithmetic + seed layout (~1 min)
    python3 perfbench/selftest.py --live    # also a real run with a task
                                            # made to fail (~3 min)

Checks:
  1. span self time (children subtracted, overlaps counted once);
  2. median with its sample count;
  3. a task made to fail raises error_rate and never lowers chain_s or
     slowest_task_s (on synthetic records, and with --live in a real run);
  4. another seed changes the input layout but not the oracle results.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


def check_self_time():
    spans = [
        {"span_id": "p", "parent_id": None, "start_ns": 0, "end_ns": 100},
        {"span_id": "c", "parent_id": "p", "start_ns": 10, "end_ns": 40},
        {"span_id": "m", "parent_id": "p", "start_ns": 30, "end_ns": 60},
        {"span_id": "x", "parent_id": "p", "start_ns": 90, "end_ns": 120},
        {"span_id": "g", "parent_id": "c", "start_ns": 15, "end_ns": 20},
    ]
    st = metrics.self_time(spans)
    # p: 100 - [10,60] - [90,100] = 40; c: 30 - 5; x runs past its parent
    assert st == {"p": 40, "c": 25, "m": 30, "x": 30, "g": 5}, st


def check_median():
    assert metrics.median_n([3.0, 1.0, 2.0]) == (2.0, 3)
    assert metrics.median_n([4.0, 1.0, 2.0, 3.0]) == (2.5, 4)
    try:
        metrics.median_n([])
    except ValueError:
        pass
    else:
        raise AssertionError("median of no samples must fail")


def _result(fail_pass=None, fail_task=None):
    passes = []
    for i in range(1, 4):
        tasks = []
        for name, c, m in (("a", 1.0, 2.0), ("b", 0.5, 4.0), ("c", 0.2, 0.3)):
            err = None
            if i == fail_pass and name == fail_task:
                # a failing task stops early: its own time is small
                c, m, err = 0.01, 0.0, "boom"
            tasks.append({"task": name, "construct_s": c, "materialize_s": m,
                          "outputs": [], "error": err})
        wall = sum(t["construct_s"] + t["materialize_s"] for t in tasks)
        passes.append({"pass": i, "traced": False, "wall_s": wall,
                       "tasks": tasks})
    return {"setup_s": 5.0, "heap_peak_b": 2e8, "heap_live_b": 1e8,
            "passes": passes}


def check_failure_accounting():
    clean = _result()
    e2e0, n0 = metrics.end_to_end(clean, set())
    a0, f0 = metrics.error_counts(clean["passes"], set())
    assert (a0, f0, n0) == (9, 0, 3)
    for fail_pass in (1, 2, 3):
        broken = _result(fail_pass, "b")
        e2e1, _ = metrics.end_to_end(broken, set())
        a1, f1 = metrics.error_counts(broken["passes"], set())
        assert a1 == a0 and f1 > f0, (a1, f1)
        for k in ("chain_s", "slowest_task_s"):
            assert e2e1[k][0] >= e2e0[k][0], (k, e2e1[k], e2e0[k])
    # a wrong output (oracle mismatch) counts like a throw
    bad = {(3, "c")}
    e2e2, _ = metrics.end_to_end(clean, bad)
    assert metrics.error_counts(clean["passes"], bad)[1] == 1
    assert e2e2["chain_s"][0] >= e2e0["chain_s"][0]
    # every pass failing: the median is the sentinel, not a fast time
    allbad = {(p, "a") for p in (1, 2, 3)}
    assert metrics.end_to_end(clean, allbad)[0]["chain_s"][0] == metrics.FAIL_S


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def check_seed_layout(work):
    """Two seeds: different files, identical oracle results."""
    import duckdb
    check = run.load_checker()
    jars = run.spark_jars()
    classes = run.build(jars)
    oracle_path = os.path.join(work, "oracle.json")
    subprocess.run(
        ["java", "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
         "graft.perfbench.ChainBench", "--oracle", oracle_path],
        check=True, capture_output=True)
    with open(oracle_path) as f:
        oracle = {q: sql for q, sql in json.load(f).items() if sql}
    results = []
    for seed in (1, 2):
        d = os.path.join(work, f"input-{seed}")
        run.derive_inputs(seed, d)
        con = duckdb.connect()
        for t in run.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(d, t + '.parquet')}'")
        results.append({q: con.execute(sql).fetchdf()
                        for q, sql in sorted(oracle.items())})
    for t in run.TABLES:
        a = os.path.join(work, "input-1", t + ".parquet")
        b = os.path.join(work, "input-2", t + ".parquet")
        if t not in ("region",):  # five rows may permute to one order
            assert _digest(a) != _digest(b), f"{t}: same layout for two seeds"
    for q in oracle:
        res = check.compare(q, results[0][q], results[1][q])
        assert res == "OK", f"{q}: oracle differs across seeds: {res}"
    return len(oracle)


def check_live():
    """A real retail_daily run with one task made to fail."""
    def once(extra):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "retail_daily", "--seed", "7", "--seconds", "1"] + extra,
            capture_output=True, text=True)
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads(r.stdout.strip().splitlines()[-1])
    clean = once([])
    broken = once(["--fail-task", "product_performance"])
    assert clean["failed"] == 0 and clean["correct"], clean
    assert broken["failed"] > 0 and not broken["correct"], broken
    for k in ("chain_s", "slowest_task_s"):
        assert broken["metrics"][k]["value"] >= clean["metrics"][k]["value"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--live", action="store_true")
    a = ap.parse_args()
    check_self_time()
    check_median()
    check_failure_accounting()
    print("selftest: span self time, median, failure accounting: ok")
    work = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        n = check_seed_layout(work)
        print(f"selftest: two seeds, different layout, same oracle "
              f"results on {n} queries: ok")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.live:
        check_live()
        print("selftest: live failed task raises error_rate, "
              "chain_s does not fall: ok")


if __name__ == "__main__":
    main()
