#!/usr/bin/env bash
# Paired A/B bench (VERDICT r16 ask #4): adjudicate a code change from
# ONE artifact instead of bracketing three full runs against a ±9%
# session-epoch band.
#
# For each query, runs baseline (A) and candidate (B) classes
# INTERLEAVED — A,B,A,B — each in a fresh JVM via bench_forked.sh, so
# every A/B pair shares epoch state (page cache, CPU frequency, box
# neighbors) and the per-query ratio cancels epoch drift that wrecks
# cross-run absolute comparisons (measured this round: the same code
# drifted 1.4x between sessions while interleaved pairs stayed
# consistent). A change is adjudicated REAL only when its direction
# agrees at BOTH positions; disagreement = wash (epoch noise). Each
# query's dead band is its own same-code spread, max(0.02, |A1/A2 - 1|),
# and is written into the receipt as "band".
#
# Usage: tools/bench_paired.sh <sf_dir> <out.json> <classesA> <classesB> <q1,q2,...>
# Env: SPARK_GRAFT_REPEATS (default 3), SPARK_GRAFT_HEAVY_EXTRA (default 1)
set -euo pipefail
SF_DIR=$1; OUT=$2; CLS_A=$3; CLS_B=$4; QUERIES=$5
REPO=$(cd "$(dirname "$0")/.." && pwd)
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT
export SPARK_GRAFT_REPEATS="${SPARK_GRAFT_REPEATS:-3}"
export SPARK_GRAFT_HEAVY_EXTRA="${SPARK_GRAFT_HEAVY_EXTRA:-1}"
IFS=',' read -ra QS <<< "$QUERIES"
for q in "${QS[@]}"; do
  for pos in 1 2; do
    for side in A B; do
      cls_var="CLS_$side"
      echo "[bench_paired] $q $side$pos ..." >&2
      GRAFT_CLASSES="${!cls_var}" "$REPO/tools/bench_forked.sh" \
        "$SF_DIR" "$TMP/${q}_${side}${pos}.json" "$q" >/dev/null 2>"$TMP/err" \
        || { echo "[bench_paired] $q $side$pos FAILED:" >&2; tail -3 "$TMP/err" >&2; exit 1; }
    done
  done
done
python3 - "$SF_DIR" "$OUT" "$TMP" "${QS[@]}" <<'PY'
import json, sys
sf, out, tmp, qs = sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:]
res = {"metric": "paired_ab", "unit": "sec", "sf": sf,
       "method": "paired-interleaved-forked", "queries": {}}
for q in qs:
    cell = {}
    for side in "AB":
        for pos in "12":
            d = json.load(open(f"{tmp}/{q}_{side}{pos}.json"))
            cell[f"{side}{pos}"] = d["queries"][q]
    # Dead band: a single sample per position can land same-direction
    # ratios from pure noise, so a direction needs an effect larger than
    # the query's own A-vs-A spread (at least 2%) at BOTH positions.
    band = max(0.02, abs(cell["A1"] / cell["A2"] - 1)) if cell["A2"] > 0 \
        else float("inf")
    r1 = cell["B1"] / cell["A1"] if cell["A1"] > 0 else float("inf")
    r2 = cell["B2"] / cell["A2"] if cell["A2"] > 0 else float("inf")
    if r1 < 1 - band and r2 < 1 - band:
        verdict = "improved"
    elif r1 > 1 + band and r2 > 1 + band:
        verdict = "regressed"
    else:
        verdict = "wash"
    cell["ratio_pos1"] = round(r1, 4)
    cell["ratio_pos2"] = round(r2, 4)
    cell["band"] = round(band, 4)
    cell["ratio_minmin"] = round(min(cell["B1"], cell["B2"]) /
                                 min(cell["A1"], cell["A2"]), 4)
    cell["verdict"] = verdict
    res["queries"][q] = cell
with open(out, "w") as f:
    json.dump(res, f, indent=1)
for q, c in res["queries"].items():
    print(f"{q}: A={c['A1']:.2f}/{c['A2']:.2f} B={c['B1']:.2f}/{c['B2']:.2f} "
          f"ratios={c['ratio_pos1']}/{c['ratio_pos2']} band={c['band']} "
          f"-> {c['verdict']}")
print(f"[bench_paired] wrote {out}")
PY
