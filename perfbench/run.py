#!/usr/bin/env python3
"""Benchmark of the engine, run from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (into
`perfbench/target` and `.bench_build/`), runs one workload over the tables
in `perfbench/data/sf0.01` in one JVM with a single client thread in a
closed loop on `local[nproc]`, checks the outputs, and prints a report:
one line per metric with its unit and sample count, then one JSON line
with `correct`, `attempted`, `failed` and `metrics`. `--trace 0` gives the
end-to-end metrics, `--trace 1` the per-layer ones. See
`perfbench/NOTES.md` for the workloads, metrics and layers.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# The engine's sf0.01 test tables, byte for byte (see NOTES.md)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = ("dashboard", "car_ingest")
BUILD_DIR = ".bench_build"
RUN_LIMIT_S = 175  # a run that does not build
BUILD_LIMIT_S = 880  # the first run in a checkout, which builds
MIN_BEYOND = 10  # samples beyond a reported tail percentile
TAIL = 75  # the tail percentile reported: a run has at least 40 reads

JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
     "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(values, p):
    """Nearest-rank percentile of `values`, `p` in (0, 100]."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(n, p):
    """How many of `n` samples lie above the nearest-rank `p`th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_supported_percentile(n, min_beyond=MIN_BEYOND):
    """The highest whole percentile with at least `min_beyond` of `n`
    samples beyond it, or None when there are too few samples."""
    for p in range(99, 49, -1):
        if beyond(n, p) >= min_beyond:
            return p
    return None


def source_stamp(root):
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(x for x in subdirs if x != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine and the harness; return (classpath, built_now)."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), False
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    log("building the engine and the harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S - 60)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed with code {proc.returncode}")
    cp = proc.stdout.strip().splitlines()[-1].strip()
    if "perfbench" not in cp or cp.startswith("["):
        raise SystemExit("perfbench: build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp, True


def run_jvm(cp, tmp, args, deadline):
    """Run one harness JVM; its output goes to stderr, stdout stays ours."""
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"]
           + args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: the run did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def end_to_end(raw):
    """The end-to-end metrics of one run: name -> (value, unit, samples)."""
    reads = [s["s"] for s in raw["samples"] if s["kind"] in ("query", "read")]
    if not reads:
        raise SystemExit("perfbench: no read completed")
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "query_p50_s": (statistics.median(reads), "s", len(reads)),
        "query_p75_s": (percentile(reads, TAIL), "s", len(reads)),
        "ops_per_s": (len(raw["samples"]) / raw["loop_s"], "1/s", len(raw["samples"])),
        "mem_retained_mb": (raw["mem_retained_mb"], "MB", 1),
    }


def summarise(raw, per_layer_units):
    """The metrics of one run, its failure count, and the report lines."""
    e2e = end_to_end(raw)
    reads = [s["s"] for s in raw["samples"] if s["kind"] in ("query", "read")]
    appends = [s["s"] for s in raw["samples"] if s["kind"] == "append"]
    compacts = [s["s"] for s in raw["samples"] if s["kind"] == "compact"]
    n = len(reads)
    tail = highest_supported_percentile(n)
    lines = [f"{k} = {v:.6g} {u} (n={c})" for k, (v, u, c) in e2e.items()]
    lines.append(f"query_p75_s has {beyond(n, TAIL)} samples beyond it; the highest "
                 f"percentile with {MIN_BEYOND} beyond is "
                 f"{'p%d' % tail if tail else 'none'} = "
                 f"{percentile(reads, tail) if tail else float('nan'):.6g} s")
    lines.append(f"mem_peak_mb = {raw['mem_peak_mb']:.6g} MB (heap after the loop's "
                 f"collections, highest)")
    if appends:
        lines.append(f"append_p50_s = {statistics.median(appends):.6g} s (n={len(appends)})")
    if compacts:
        lines.append(f"compact_s = {statistics.median(compacts):.6g} s (n={len(compacts)})")
    if raw["bytes_per_row"] > 0:
        lines.append(f"bytes_per_row = {raw['bytes_per_row']:.6g} B (end of run)")
    failed = len(raw["failures"])
    lines.append(f"failed_frac = {failed / raw['attempted']:.6g} "
                 f"({failed} of {raw['attempted']} operations and checks)")
    if raw["traced"]:
        layers = raw["layers"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in per_layer_units.items()}
        lines += [f"{k} = {m['value']:.6g} {m['unit']}" for k, m in metrics.items()]
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u, _) in e2e.items()}
    return metrics, failed, lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write perfbench/digests.json from this checkout's outputs")
    args = ap.parse_args(argv)
    start = time.time()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: run from the root of a checkout of the engine")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        per_layer = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}

    build_dir = os.path.join(root, BUILD_DIR)
    os.makedirs(build_dir, exist_ok=True)
    cp, built = build(root, build_dir)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build_dir, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(build_dir, "runs", run_id + ".json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    deadline = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    jvm_args = [args.workload, str(args.seed), str(args.seconds), str(args.trace),
                DATA_DIR, work, out, os.path.join(HERE, "digests.json")]
    if args.record_digests:
        jvm_args.append("record")
    try:
        code = run_jvm(cp, os.path.join(work, "tmp"), jvm_args, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: the harness exited with code {code}")
    with open(out) as fh:
        raw = json.load(fh)
    metrics, failed, lines = summarise(raw, per_layer)
    for line in lines:
        print(line)
    for f in raw["failures"]:
        print(f"failure: {f}")
    print(json.dumps({"correct": failed == 0, "attempted": raw["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
