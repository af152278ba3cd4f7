#!/bin/bash
# Plan-perturbation determinism matrix: run graft.Verify once as the
# base (5 threads, default plan) and once per cell, each cell changing
# one thing the plan or the partitioning depends on, then compare every
# query's dump against the base by symmetric EXCEPT ALL in DuckDB.
# Cells pass Spark settings as -Dspark.* system properties (SparkConf
# loads them); the thread cells set SPARK_GRAFT_CPUS, and Sessions sets
# shuffle partitions equal to it. Re-run whenever partitioning- or
# plan-affecting code changes in a covered family (PLANS.md
# "Determinism re-verified" protocol — one SparkContext per JVM means
# this cannot be an in-process spec). SPARK_GRAFT_VERIFY_ONLY (a comma
# list of query names) narrows every run. Prints a query x cell table
# and exits non-zero on any DIFF or MISSING dump.
# Usage: tools/determinism.sh [sfDir] [outRoot]
set -e -o pipefail
cd "$(dirname "$0")/.."
. tools/env.sh
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_det}
# name:threads:extra JVM flags
CELLS=(
  "aqe_off:5:-Dspark.sql.adaptive.enabled=false"
  "no_broadcast:5:-Dspark.sql.autoBroadcastJoinThreshold=-1"
  "codegen_off:5:-Dspark.sql.codegen.wholeStage=false"
  "threads_1:1:"
  "threads_7:7:"
)
run() { # name threads flags
  rm -rf "${OUT:?}/$1"
  # pipefail + grep wrapped in || true: a crashed Verify run fails the
  # script here instead of silently shrinking the compared query set
  SPARK_GRAFT_CPUS=$2 java $ADD_OPENS $GRAFT_JAVA_FLAGS $3 \
    -cp "$GRAFT_CP" graft.Verify "$SF" "$OUT/$1" 2>&1 \
    | { grep -E "\[verify\]|Exception" || true; }
}
mkdir -p "$OUT"
run base 5 ""
NAMES=()
for cell in "${CELLS[@]}"; do
  IFS=: read -r name threads flags <<< "$cell"
  run "$name" "$threads" "$flags"
  NAMES+=("$name")
done
python3 - "$OUT" "${NAMES[@]}" <<'PY'
import duckdb, json, os, sys
out, cells = sys.argv[1], sys.argv[2:]
base = os.path.join(out, "base")
def dirs(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))}
def manifest(root):
    p = os.path.join(root, "manifest.json")
    return set(json.load(open(p))) if os.path.exists(p) else set()
roots = [base] + [os.path.join(out, c) for c in cells]
# the INTENDED query set (manifest.json written by Verify) unioned with
# whatever dumps exist: a query that failed in every run is still in a
# manifest and is flagged MISSING, not silently dropped from the
# denominator
qs = sorted(set().union(*(manifest(r) | dirs(r) for r in roots)))
def compare(a, b, q):
    if not os.path.isdir(os.path.join(a, q)):
        return "MISSING"
    if not os.path.isdir(os.path.join(b, q)):
        return "MISSING"
    n = duckdb.sql(
        f"SELECT count(*) FROM ("
        f"(SELECT * FROM '{a}/{q}/*.parquet' EXCEPT ALL "
        f" SELECT * FROM '{b}/{q}/*.parquet') UNION ALL "
        f"(SELECT * FROM '{b}/{q}/*.parquet' EXCEPT ALL "
        f" SELECT * FROM '{a}/{q}/*.parquet'))").fetchone()[0]
    return f"DIFF({n})" if n else "SAME"
width = max([len(q) for q in qs] + [5])
print("query".ljust(width) + "".join(f"  {c:>12}" for c in cells))
bad = 0
same = {c: 0 for c in cells}
for q in qs:
    row = [compare(base, os.path.join(out, c), q) for c in cells]
    for c, r in zip(cells, row):
        if r == "SAME":
            same[c] += 1
        else:
            bad += 1
    print(q.ljust(width) + "".join(f"  {r:>12}" for r in row))
print("\n" + ", ".join(f"{c} {same[c]}/{len(qs)}" for c in cells)
      + " bit-identical to the base (5 threads, default plan)")
sys.exit(1 if bad else 0)
PY
