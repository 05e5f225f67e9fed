#!/usr/bin/env python3
"""Steadiness receipt: run the benchmark on several seeds per workload and
summarise each metric, from the root of a checkout:

    python3 perfbench/steady.py --seeds 1-10 --trace 0 --out untraced.json
    python3 perfbench/steady.py --seeds 1-3 --trace 1 --out traced.json
    python3 perfbench/steady.py --compare untraced.json traced.json
    python3 perfbench/steady.py --seeds 21-24 --paired --out overhead.json

Runs are placed back to back and interleaved across workloads (seed 1 of
every workload, then seed 2, ...), so a drift of the machine during the
receipt spreads over all workloads rather than landing on one. Each run
records its end-to-end metrics (recomputed from the run's raw file, so a
traced run has them too), its per-layer metrics when traced, the 1-minute
load average before it and the CPU steal share during it (from
/proc/stat). For each workload and metric the summary gives the median, the
quartiles (statistics.quantiles, n=4) and the quartile spread as a share of
the median.

`--paired` runs each seed untraced and traced back to back (which one goes
first alternates with the seed), so that the tracing overhead, the median
of the per-pair differences, is not confounded by a drift of the machine
between two receipts.

`--compare A B` prints, per workload and end-to-end metric, the median of B
minus the median of A (the tracing overhead when A is untraced and B
traced), and for runs of the same seed in both, whether the deterministic
counters are equal.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DETERMINISTIC = ("tables.jobs", "operators.build_jobs", "exec.jobs", "exec.stages",
                 "sources.files_written")


def cpu_times():
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def seed_range(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace):
    total0, steal0 = cpu_times()
    load = load1()
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    total1, steal1 = cpu_times()
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(run.BUILD_DIR, "runs",
                           f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        raw = json.load(fh)
    return {
        "workload": workload, "seed": seed, "trace": trace,
        "started": time.strftime("%H:%M:%S", time.gmtime(t0)), "wall_s": wall,
        "load1_before": load,
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "correct": result["correct"], "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: v for k, (v, _, _) in run.end_to_end(raw).items()},
        "layers": {k: v["value"] for k, v in result["metrics"].items()} if trace else {},
    }


def summarise(runs):
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w]
        out[w] = {}
        for m in mine[0]["metrics"]:
            vals = [r["metrics"][m] for r in mine]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med,) * 3
            out[w][m] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med, "n": len(vals)}
    return out


def compare(path_a, path_b):
    with open(path_a) as fh:
        a = json.load(fh)
    with open(path_b) as fh:
        b = json.load(fh)
    for w, metrics in b["summary"].items():
        for m, s in metrics.items():
            base = a["summary"][w][m]["median"]
            print(f"{w:11s} {m:16s} {s['median'] - base:+.4g} "
                  f"({(s['median'] - base) / base:+.1%} of {base:.4g})")
    for rb in b["runs"]:
        for ra in a["runs"]:
            if (ra["workload"], ra["seed"]) == (rb["workload"], rb["seed"]) and ra["layers"]:
                same = {k: ra["layers"][k] == rb["layers"][k] for k in DETERMINISTIC}
                print(f"{rb['workload']:11s} seed {rb['seed']}: deterministic counters "
                      f"{'equal' if all(same.values()) else 'DIFFER'} "
                      f"{ {k: rb['layers'][k] for k in DETERMINISTIC} }")


def paired_overhead(runs):
    """Per workload and end-to-end metric: the median untraced and traced
    values and the median of the traced-minus-untraced pair differences."""
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        pairs = {}
        for r in runs:
            if r["workload"] == w:
                pairs.setdefault(r["seed"], {})[r["trace"]] = r["metrics"]
        pairs = [p for p in pairs.values() if len(p) == 2]
        out[w] = {m: {"untraced": statistics.median(p[0][m] for p in pairs),
                      "traced": statistics.median(p[1][m] for p in pairs),
                      "diff": statistics.median(p[1][m] - p[0][m] for p in pairs),
                      "pairs": len(pairs)}
                  for m in pairs[0][0]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--paired", action="store_true",
                    help="run every seed untraced and traced, for the tracing overhead")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        compare(*args.compare)
        return
    runs = []
    for seed in seed_range(args.seeds):
        for w in args.workloads.split(","):
            traces = ((0, 1) if seed % 2 else (1, 0)) if args.paired else (args.trace,)
            for trace in traces:
                r = run_once(w, seed, args.seconds, trace)
                runs.append(r)
                print(json.dumps(r), flush=True)
    if args.paired:
        report = {"runs": runs, "overhead": paired_overhead(runs)}
        for w, ms in report["overhead"].items():
            for m, o in ms.items():
                print(f"{w:11s} {m:16s} untraced {o['untraced']:.4g} traced {o['traced']:.4g} "
                      f"overhead {o['diff']:+.4g} ({o['diff'] / o['untraced']:+.1%}, "
                      f"{o['pairs']} pairs)")
    else:
        report = {"runs": runs, "summary": summarise(runs)}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    for w, ms in report.get("summary", {}).items():
        for m, s in ms.items():
            print(f"{w:11s} {m:16s} median {s['median']:.4g} q1 {s['q1']:.4g} "
                  f"q3 {s['q3']:.4g} spread {s['spread']:.3f}")


if __name__ == "__main__":
    main()
