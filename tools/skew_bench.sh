#!/bin/bash
# ADVERSARIAL-SKEW BENCH ARTIFACT: runs the per-(source|lang)-keyed
# families on the uniform 10x-replicated corpus twin AND the mega-key
# twin (make_skew.py: identical volume/text, ALL docs in one source +
# one language), then emits target/skew_bench.json with per-query
# wall ratios — skew immunity as recorded telemetry instead of prose.
# Ratio ~1 = the caps/salting bound the mega-key; a quadratic or
# single-reducer path shows up as a blowup. Each twin's timings are
# graft.Bench's on the query subset: one warmup pass, then one timed
# pass with the cache cleared before every query.
#
# Usage: skew_bench.sh [outJson]
set -euo pipefail

REPO=/root/repo
OUT=${1:-$REPO/target/skew_bench.json}
JAR=$REPO/target/scala-2.13/kusuma_metamorphetlspark_2.13-0.1.0.jar
U=$REPO/target/sf_skew_u
K=$REPO/target/sf_skew_1key

# the mega-key-sensitive families: per-source windows/prefixes,
# per-lang percentiles/samples/mixes, banded dedup, the funnel
QUERIES="q_minhash_lsh q_simhash_neardup q_dedup_clusters_lsh \
q_ingest_funnel q_curriculum q_source_cap q_boilerplate_apply \
q_dsir_weights q_top_tokens q_sample_k_per_lang q_temperature_mix \
q_lang_id"

[ -f "$U/documents.parquet" ] || \
  python3 "$REPO/tools/make_scale10.py" /root/testdata/sf0.01 "$U" 10
[ -f "$K/documents.parquet" ] || \
  python3 "$REPO/tools/make_skew.py" "$U" "$K"

run() { # $1 = dir, $2 = log, $3 = result json — fresh JVM per twin
  SPARK_GRAFT_CPUS=16 SPARK_GRAFT_REPO=$REPO SPARK_GRAFT_SF_DIR=$1 \
  SPARK_GRAFT_BENCH_ONLY=${QUERIES// /,} SPARK_GRAFT_BENCH_RUNS=1 \
  SPARK_GRAFT_BENCH_OUT=$3 \
  /opt/spark/bin/spark-submit --master 'local[16]' --driver-memory 16g \
    --class graft.Bench "$JAR" > "$2" 2>&1
}

echo "== uniform twin"
run "$U" "$REPO/target/skew_u.log" "$REPO/target/skew_u.json"
echo "== mega-key twin"
run "$K" "$REPO/target/skew_k.log" "$REPO/target/skew_k.json"

python3 - "$OUT" "$REPO/target/skew_u.json" "$REPO/target/skew_k.json" <<'EOF'
import json, sys
u, k = (json.load(open(p)) for p in sys.argv[2:4])
errors = {**u["errors"], **k["errors"]}
if errors:
    sys.exit(f"failed queries: {errors}")
u, k = u["queries"], k["queries"]
rows = {q: {"uniform_sec": u[q], "skew_sec": k[q],
            "ratio": round(k[q] / u[q], 3)}
        for q in sorted(u) if q in k}
worst = max(rows.values(), key=lambda r: r["ratio"])["ratio"] if rows else None
out = {"queries": rows, "n": len(rows), "worst_ratio": worst}
with open(sys.argv[1], "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps({q: r["ratio"] for q, r in rows.items()}, indent=1))
print(f"worst ratio: {worst}")
EOF
echo "wrote $OUT"
