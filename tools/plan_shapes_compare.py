#!/usr/bin/env python3
"""Plan-shape regression gate (VERDICT r12 ask #2): diff two PlanShapes
snapshots (bench/plan_shapes_r{N}.json) and flag STRUCTURAL regressions
— the ext_roc_auc class (a guard silently re-evaluating its subtree)
shows up statically as "exchanges/scans jumped", which this catches
without any timing noise.

Exit code 1 on any regression (count increased on a watched family,
a cartesian product appeared where the baseline had none, or more
operators hold a CodegenFallback expression — `codegen_fallback_ops`).
Improvements and additions are reported but pass; a baseline that
deliberately carries a bounded cartesian stays green unless its count
grows. A baseline snapshot without `codegen_fallback_ops` gives one
note, not a failure.

Usage: plan_shapes_compare.py <old.json> <new.json>
"""
import json
import sys

WATCHED = ["exchanges", "broadcasts", "sorts", "smj", "bhj", "shj",
           "bnlj", "cartesian", "scans", "aggregates", "windows",
           "generates"]
# families where an INCREASE is a regression signal (others informational)
REGRESSING = ["exchanges", "sorts", "scans", "cartesian", "bnlj"]
# operators a CodegenFallback expression keeps out of whole-stage codegen
FALLBACK = "codegen_fallback_ops"


def _rt_rows(shape):
    """Sum of rt_rows_read over a query's scans, or None when the
    snapshot predates the runtime fields / the query isn't
    runtime-gated."""
    vals = [s.get("rt_rows_read") for s in shape.get("scan_details", [])]
    vals = [v for v in vals if v is not None and v >= 0]
    return sum(vals) if vals else None


def main(old_path, new_path):
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    regressions, improvements, infos = [], [], []
    unbaselined = 0
    for q in sorted(new):
        if q not in old:
            infos.append(f"NEW      {q}: no baseline shape")
            # no baseline to diff against, but a cartesian in a
            # brand-new query is still worth a red gate
            if new[q].get("cartesian", 0) > 0:
                regressions.append(
                    f"REGRESSED {q}: cartesian product in new query")
            continue
        o, n = old[q], new[q]
        for fam in WATCHED:
            ov, nv = o.get(fam, 0), n.get(fam, 0)
            if nv == ov:
                continue
            line = f"{q}: {fam} {ov} -> {nv}"
            if fam in REGRESSING and nv > ov:
                regressions.append("REGRESSED " + line)
            elif fam in REGRESSING and nv < ov:
                improvements.append("IMPROVED  " + line)
            else:
                infos.append(f"CHANGED  {line}")
        if FALLBACK in o and FALLBACK in n:
            ov, nv = o[FALLBACK], n[FALLBACK]
            if nv > ov:
                exprs = sorted({e for f in n.get("codegen_fallback", [])
                                for e in f["exprs"]})
                regressions.append(f"REGRESSED {q}: {FALLBACK} {ov} -> {nv} "
                                   f"({', '.join(exprs)})")
            elif nv < ov:
                improvements.append(f"IMPROVED  {q}: {FALLBACK} {ov} -> {nv}")
        elif FALLBACK in n:
            unbaselined += 1
        # Cartesian INTRODUCTIONS/increases on baselined queries are
        # already caught by the REGRESSING loop above (nv > ov); a
        # baseline that deliberately carries one stays green.
        # Runtime skipping profile (VERDICT r14 ask #3): rt_rows_read is
        # the post-execution row count surviving parquet row-group
        # min/max skipping on the layout queries (PlanShapes
        # RuntimeGated). The writes are deterministic at a fixed SF, so
        # a >10% rise means the clustering layout stopped skipping —
        # the regression the static files_scanned field cannot see.
        orr = _rt_rows(o)
        nrr = _rt_rows(n)
        if orr is not None and nrr is not None and nrr > orr * 1.10:
            regressions.append(
                f"REGRESSED {q}: rt_rows_read {orr} -> {nrr} "
                f"(row-group skipping degraded)")
        elif orr is not None and nrr is not None and nrr < orr * 0.90:
            improvements.append(
                f"IMPROVED  {q}: rt_rows_read {orr} -> {nrr}")
    for q in sorted(set(old) - set(new)):
        infos.append(f"DROPPED  {q}: not in new snapshot")
    if unbaselined:
        infos.append(f"NOTE     baseline has no {FALLBACK} for {unbaselined} "
                     f"queries; their fallback counts are not compared")
    for line in regressions + improvements + infos:
        print(line)
    print(f"\n{len(regressions)} regression(s), {len(improvements)} "
          f"improvement(s), {len(infos)} note(s) over {len(new)} queries")
    return 1 if regressions else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
