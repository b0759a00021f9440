#!/usr/bin/env python3
"""Chain benchmark: the Runner's daily and incremental chains timed
to their full result, checked against the DuckDB oracle.

Usage (from the repository root):

    python3 perfbench/run.py --workload retail_daily --seed 1 \
        --seconds 1 --trace 0

Builds the program and perfbench/src/ChainBench.scala with scalac into
.bench_build/ (once per source digest), derives the workload's inputs from
the sf0.01 fixture by a seeded row permutation, runs the chain in one JVM
under .bench_work/, compares every task's output with the oracle, and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("retail_daily", "corpus_incremental")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RUN_LIMIT_S = 170
# Driver heap. build.sbt forks the program with 8g; at 8g G1's young
# generation is so large that a pass sees few collections, and the
# after-GC peak (heap_peak_mb) read from them swung 394-531 MB over three
# retail_daily runs of one seed on 4 cores, against 304-308 MB at 4g. The chains' live set stays
# under 250 MB, and 4g claims less of a shared machine.
HEAP = "4g"
# The JVM flags build.sbt forks the program with.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cpus():
    return len(os.sched_getaffinity(0))


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else spark-submit's."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars") if home else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail("no Spark distribution: set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        fail(f"no program sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(jars):
    """Compile the program and ChainBench once per source digest."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cp = os.pathsep.join([os.path.join(jars, "*")] + extra_jars())
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xmx3g", "-Xss16m", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp]
            + srcs, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
            fail("build failed")
        os.rename(tmp, out)
        for stale in glob.glob(os.path.join(BUILD, "classes-*")):
            if stale != out:
                shutil.rmtree(stale, ignore_errors=True)
        print(f"perfbench: built {len(srcs)} sources in "
              f"{time.time() - t0:.1f} s", file=sys.stderr)
    return out


def extra_jars():
    return sorted(glob.glob(os.path.join(ROOT, "lib", "*.jar")))


def fixture_dir():
    """The read-only sf0.01 fixture the inputs are derived from:
    PERFBENCH_SOURCE, else the sf0.01 directory TESTDATA.md names."""
    if os.environ.get("PERFBENCH_SOURCE"):
        return os.environ["PERFBENCH_SOURCE"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"`([^`\s]*/sf0\.01)/?`", f.read())
    except OSError:
        m = None
    if not m:
        fail("TESTDATA.md names no sf0.01 directory; set PERFBENCH_SOURCE")
    return m.group(1)


def derive_inputs(seed, dest):
    """Every fixture table with its rows in a seeded order: the same rows
    and value distribution, another layout."""
    import numpy as np
    import pyarrow.parquet as pq
    rng = np.random.default_rng(seed)
    source = fixture_dir()
    os.makedirs(dest)
    for t in TABLES:
        src = os.path.join(source, f"{t}.parquet")
        if not os.path.isfile(src):
            fail(f"fixture table missing: {src}")
        table = pq.read_table(src)
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(dest, f"{t}.parquet"))


def run_jvm(classes, jars, workload, inputs, run_dir, seconds, trace,
            deadline, fail_task=None):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dderby.system.home=" + tmp]
           + ([f"-Dperfbench.failTask={fail_task}"] if fail_task else [])
           + [a for p in ADD_OPENS for a in ("--add-opens",
                                              f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]
                                     + extra_jars()),
              "graft.perfbench.ChainBench", workload, inputs, run_dir,
              str(seconds), str(trace), str(cpus())])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        env = dict(os.environ,
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM running
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"chain run ended with {rc}")


def load_checker():
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_outputs(result, run_dir, inputs):
    """Compare the last pass's outputs with the oracle on the same inputs
    (tools/check.py rules). Returns the failed (pass, task) pairs, total
    output rows and a list of failure notes."""
    import duckdb
    import pandas as pd
    check = load_checker()
    with open(os.path.join(run_dir, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(run_dir, 'tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(inputs, t + '.parquet')}'")
    last = result["passes"][-1]
    bad, notes, rows = set(), [], 0
    for task in last["tasks"]:
        if task["error"] is not None:
            continue
        for q in task["outputs"]:
            files = sorted(glob.glob(os.path.join(
                result["last_pass_dir"], q, "*.parquet")))
            try:
                got = pd.concat([pd.read_parquet(f) for f in files],
                                ignore_index=True)
                rows += len(got)
                if oracle.get(q) is None:
                    res = "no oracle"
                else:
                    res = check.compare(q, got,
                                        con.execute(oracle[q]).fetchdf())
            except Exception as e:  # noqa: BLE001 - any error is a failure
                res = f"ERROR: {e}"
            if res != "OK":
                bad.add((last["pass"], task["task"]))
                notes.append(f"{task['task']}/{q}: {res}")
    for p in result["passes"]:
        for t in p["tasks"]:
            if t["error"] is not None:
                notes.append(f"pass {p['pass']} {t['task']}: {t['error']}")
    return bad, rows, notes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="'all' runs every workload of BENCHMARK.json in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fail-task", metavar="TASK",
                    help="make TASK throw in every timed pass (self-check)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
        rest = [x for x in sys.argv[1:] if x not in ("--workload", "all")]
        for name in names:
            rc = subprocess.call([sys.executable, __file__, "--workload", name]
                                 + rest)
            if rc != 0:
                sys.exit(rc)
        return
    deadline = time.time() + RUN_LIMIT_S

    jars = spark_jars()
    classes = build(jars)
    if time.time() > deadline - 60:  # a first run that built
        deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(WORK, f"{a.workload}-seed{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs = os.path.join(run_dir, "input")
        t0 = time.time()
        derive_inputs(a.seed, inputs)
        t1 = time.time()
        run_jvm(classes, jars, a.workload, inputs, run_dir, a.seconds,
                a.trace, deadline, a.fail_task)
        t2 = time.time()
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        bad, rows, notes = check_outputs(result, run_dir, inputs)
        print(f"perfbench: inputs {t1 - t0:.1f} s, chain JVM {t2 - t1:.1f} s "
              f"(set-up pass {result['warm']['wall_s']:.1f} s), "
              f"oracle check {time.time() - t2:.1f} s", file=sys.stderr)
        for w in result["warm_errors"]:
            notes.append(f"set-up pass: {w}")
        timed = result["passes"]
        attempted, failed = metrics.error_counts(timed, bad)
        e2e, n = metrics.end_to_end(result, bad)
        if a.trace:
            out = metrics.per_layer(result, bad, rows)
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            stem = os.path.join(traces, f"{a.workload}-seed{a.seed}")
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), stem + ".jsonl")
            shutil.copy(os.path.join(run_dir, "result.json"),
                        stem + ".result.json")
        else:
            out = e2e
        for note in notes:
            print(f"perfbench: FAIL {note}", file=sys.stderr)
        summary = ", ".join(f"{k}={v:.4f} {u}" for k, (v, u) in out.items())
        print(f"{a.workload} seed={a.seed} passes={n} "
              f"error_rate={failed / attempted:.4f} "
              f"(failed {failed} of {attempted} tasks) "
              f"machine.calib_s={result['calib_s']:.4f} s | {summary}")
        print(json.dumps({
            "correct": failed == 0 and not result["warm_errors"],
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in out.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
