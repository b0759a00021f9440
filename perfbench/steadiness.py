#!/usr/bin/env python3
"""Steadiness record: run every workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (interquartile
distance as a share of the median), beside nproc and machine.calib_s.

    python3 perfbench/steadiness.py --seeds 10 --out perfbench/STEADINESS.json
    python3 perfbench/steadiness.py --seeds 5 --workload corpus_incremental
    python3 perfbench/steadiness.py --layers --out perfbench/LAYERS.json

--layers makes one traced run per workload instead and records its
per-layer metrics (the layer baseline).
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    calib = float(re.search(r"machine\.calib_s=([0-9.]+)", lines[-2]).group(1))
    return json.loads(lines[-1]), calib, time.time() - t0


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--layers", action="store_true")
    ap.add_argument("--out")
    a = ap.parse_args()
    cfg = bench_config()
    workloads = a.workload or [w["name"] for w in cfg["workloads"]]
    bounds = {m["name"]: m["bound"] for m in cfg["end_to_end"]}
    record = {"nproc": len(os.sched_getaffinity(0)),
              "run_seconds": cfg["run_seconds"], "workloads": {}}
    for w in workloads:
        if a.layers:
            res, calib, wall = one_run(w, a.first_seed, cfg["run_seconds"], 1)
            record["workloads"][w] = {
                "seed": a.first_seed, "correct": res["correct"],
                "metrics": res["metrics"], "wall_s": wall}
            print(f"{w}: traced run, {wall:.0f} s, correct={res['correct']}")
            for k, v in res["metrics"].items():
                print(f"  {k:26s} {v['value']:12.4f} {v['unit']}")
            continue
        runs = []
        for i in range(a.seeds):
            seed = a.first_seed + i
            res, calib, wall = one_run(w, seed, cfg["run_seconds"], 0)
            runs.append((res, calib, wall))
            print(f"{w} seed {seed}: {wall:.0f} s, correct={res['correct']}, "
                  + ", ".join(f"{k}={v['value']:.3f}"
                              for k, v in res["metrics"].items())
                  + f", calib={calib:.3f}", flush=True)
        per = {}
        for k in runs[0][0]["metrics"]:
            per[k] = spread([r[0]["metrics"][k]["value"] for r in runs])
            per[k]["bound"] = bounds.get(k)
        record["workloads"][w] = {
            "seeds": [a.first_seed + i for i in range(a.seeds)],
            "all_correct": all(r[0]["correct"] for r in runs),
            "calib_s": spread([r[1] for r in runs]),
            "run_wall_s": spread([r[2] for r in runs]),
            "metrics": per}
        for k, s in per.items():
            print(f"  {k:16s} median {s['median']:.4f} q1 {s['q1']:.4f} "
                  f"q3 {s['q3']:.4f} spread {s['spread']:.4f} "
                  f"(bound {s['bound']})")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
