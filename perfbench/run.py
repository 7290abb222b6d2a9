#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first call builds the program and the
harness with sbt (perfbench/harness) and generates the inputs
(perfbench/gen.py); later calls reuse both while the sources are unchanged.
Each call then starts one JVM that hosts the engine and runs the workload
for S seconds in a fresh directory under perfbench/.run, checks the outputs
with DuckDB, removes that directory and prints, as its last line,
{"correct", "attempted", "failed", "metrics"}. With --trace 1 the metrics
are the per-layer ones, and the spans go to perfbench/.traces.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["olap_sf1", "registry_sf0.01", "serve_sf0.1", "refresh_sf0.1"]
BUILD_DIR = os.path.join(HERE, ".build")
DATA_DIR = os.path.join(HERE, ".data", f"v{gen.GEN_VERSION}")
RUN_ROOT = os.path.join(HERE, ".run")
TRACE_DIR = os.path.join(HERE, ".traces")
HARNESS_BUDGET_S = 150  # a run must end within 180 s once built

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_geomean_s": "s",
              "serve_rps": "req/s", "serve_p50_ms": "ms", "serve_tail_ms": "ms",
              "peak_rss_mb": "MB"}
LAYER_UNITS = {"construct_jobs": "count", "plan_exchanges": "count",
               "plan_scans": "count", "jobs": "count", "stages": "count",
               "tasks": "count", "output_files": "count",
               "serve_cache_hits": "count", "serve_cache_misses": "count",
               "serve_collapsed": "count", "serve_jobs_per_miss": "count"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]:
        for root, dirs, names in os.walk(base):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project")
                             or root != os.path.join(HERE, "harness"))
            files += [os.path.join(root, n) for n in names]
    files += glob.glob(os.path.join(HERE, "harness", "project", "*.properties"))
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no program sources next to perfbench/ (need build.sbt and src/main/scala)")
        sys.exit(2)
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    target = os.path.join(HERE, "harness", "target")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp \
            and all(os.path.isfile(os.path.join(target, f))
                    for f in ("classpath.txt", "javaoptions.txt")):
        return
    log("building program and harness with sbt")
    # the program's own heap knob (its build.sbt reads it into -Xmx): a 4 GB
    # heap instead of the 16 GB default, as the box has 15 GB
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="4g")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    harness = os.path.join(HERE, "harness")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=harness, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def jvm_command():
    """The classpath and the program's own JVM options (its build's
    javaOptions), both as the harness build wrote them, less the JIT
    compiler thread count: the program asks for 12 compiler threads, which
    on a 4-core box compete with the engine's own threads (see README); the
    JVM then sizes the count to the cores."""
    target = os.path.join(HERE, "harness", "target")
    with open(os.path.join(target, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(target, "javaoptions.txt")) as fh:
        opts = [line.strip() for line in fh if line.strip()]
    return cp, [o for o in opts if not o.startswith("-XX:CICompilerCount=")]


def ensure_inputs():
    ok = os.path.join(DATA_DIR, "CHECKSUM")
    want = gen.expected()
    if os.path.isfile(ok) and open(ok).read().strip() == want:
        return
    log("generating inputs")
    gen.write(DATA_DIR)
    got = gen.digest(DATA_DIR)
    if got != want:
        log(f"generated inputs hash to {got}, expected {want} (perfbench/inputs.sha256)")
        sys.exit(2)
    with open(ok, "w") as fh:
        fh.write(got)


def run_harness(args, run_dir, budget_s):
    cp, opts = jvm_command()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the program's options, whose relative paths (warehouse, Derby log)
    # resolve inside the run directory, plus a temporary directory there
    # and a fixed heap: with the heap and young generation at fixed sizes,
    # peak_rss_mb does not follow G1's adaptive sizing from run to run
    cmd = ["java", *opts, "-Xms4g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA_DIR, "--run", run_dir]
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"harness exceeded {budget_s:.0f} s")
    result = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.isfile(result):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        log(f"harness failed (exit {p.returncode})")
        return None
    with open(result) as fh:
        return json.load(fh)


def tail(lat):
    """Latency at the highest rank with at least 10 samples beyond it, and
    that rank's percentile. Below 40 samples that rank is no tail, and the
    median stands in for it (percentile 50)."""
    s = sorted(lat)
    if len(s) < 40:
        return statistics.median(s), 50.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def end_to_end(res, workload):
    ops = res["ops"]
    wall = [o["wall_s"] for o in ops]
    by_round = {}
    for o in ops:
        by_round[o["round"]] = by_round.get(o["round"], 0.0) + o["wall_s"]
    if workload.startswith("serve"):
        rps = len(ops) / res["serve"]["elapsed_s"]
    else:
        rps = len(ops) / sum(wall)
    # a served cache hit runs no query: on serve the geomean covers the
    # requests that always evaluate one (unique lookups and aggregates)
    geo = [o["wall_s"] for o in ops if o["name"] in ("unique", "agg")] \
        if workload.startswith("serve") else wall
    t, pct = tail([w * 1e3 for w in wall])
    log(f"{workload}: {len(ops)} ops in {res['rounds']} rounds; "
        f"serve_tail_ms is p{pct:.1f} of {len(ops)} samples")
    return {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(by_round.values()),
        "query_geomean_s": math.exp(sum(math.log(w) for w in geo) / len(geo)),
        "serve_rps": rps,
        "serve_p50_ms": statistics.median(wall) * 1e3,
        "serve_tail_ms": t,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, workload):
    m = dict(res["layers"] or {})
    m["traced_wall_s"] = end_to_end(res, workload)["wall_s"]
    m["output_files"] = check.output_files(res)
    sv = res.get("serve") or {}
    ev = res.get("serve_eval") or {}
    misses = sv.get("cache_misses", 0)
    rounds = res["rounds"]
    # jobs is per round; every miss is one evaluation with all its jobs
    m.update({
        "serve_eval_ms": ev.get("eval_ms", 0.0),
        "serve_construct_ms": ev.get("construct_ms", 0.0),
        "serve_plan_ms": ev.get("plan_ms", 0.0),
        "serve_take_ms": ev.get("take_ms", 0.0),
        "serve_cache_hits": sv.get("cache_hits", 0) / rounds,
        "serve_cache_misses": misses / rounds,
        "serve_collapsed": sv.get("collapsed", 0) / rounds,
        "serve_jobs_per_miss": m["jobs"] * rounds / misses if misses else 0.0,
    })
    if workload.startswith("serve"):
        m["codegen_compile_s"] = sv.get("codegen_s", 0.0) / rounds
    return m


def unit(name):
    if name in END_TO_END:
        return END_TO_END[name]
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ms"):
        return "ms"
    return "s"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # a run killed before its cleanup leaves its directory behind
    shutil.rmtree(RUN_ROOT, ignore_errors=True)
    ensure_build()
    ensure_inputs()
    run_dir = os.path.join(RUN_ROOT, f"{os.getpid()}")
    os.makedirs(run_dir)
    try:
        res = run_harness(args, run_dir, HARNESS_BUDGET_S)
        if res is None:
            sys.exit(1)
        failed_ops = [o for o in res["ops"] if not o["ok"]]
        for o in failed_ops[:5]:
            log(f"failed: {o['name']} (round {o['round']}): {o['error']}")
        bad = check.run(res, args.workload, DATA_DIR)
        for b in bad[:10]:
            log(f"check failed: {b}")
        if args.trace:
            metrics = per_layer(res, args.workload)
            os.makedirs(TRACE_DIR, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(res, args.workload)
    finally:
        shutil.rmtree(RUN_ROOT, ignore_errors=True)
    attempted = len(res["ops"])
    failed = len(failed_ops) + len(bad)
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
