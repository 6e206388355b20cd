#!/usr/bin/env python3
"""One benchmark run of the graft engine.

    python3 perfbench/run.py --workload <lake_ingest|query_mix|stream_gates>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) into the checkout; later runs
reuse the build while the sources are unchanged. Each run then makes
its inputs from the seed, starts one fresh JVM on the compiled
classpath, waits for its warm-up, lets it measure whole rounds for
--seconds, checks the outputs, and prints one JSON object as its last
line: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1).
Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

WORKLOADS = ("lake_ingest", "query_mix", "stream_gates")
# Spark task slots: at most 4, never more than the machine has
CORES = min(4, len(os.sched_getaffinity(0)))
HEAP = "3g"
# input scale of the gate workloads and shard count of the stream gates
SCALE = {"query_mix": 0.1, "stream_gates": 0.001}
SHARDS, WARM_SHARDS = 4, 2
# a run's JVM is killed after this long; stream_gates is run by hand
DEADLINE_S = {"stream_gates": 600}
TAIL_GRID = (99.0, 95.0, 90.0, 75.0, 50.0)
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "work_per_s": "1/s",
             "op_p50_ms": "ms", "op_tail_ms": "ms", "heap_live_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and harness once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/; run from a repository checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, launch = source_stamp(), os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(launch) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return launch
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "compile", "writeLaunch"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch


def tail_percentile(values):
    """Highest grid percentile with at least ten ops beyond it."""
    n = len(values)
    for p in TAIL_GRID:
        if n * (100.0 - p) / 100.0 >= 10:
            s = sorted(values)
            return p, s[max(0, math.ceil(p / 100.0 * n) - 1)]
    return None, max(values)


def run_jvm(launch, args, run_dir, deadline):
    with open(launch) as f:
        lines = [x for x in f.read().splitlines() if x]
    cp, opts = lines[0], lines[1:]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"] + opts
           + ["-cp", cp, "graftbench.Main"] + args)
    err = open(os.path.join(run_dir, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                            stdin=subprocess.DEVNULL, cwd=run_dir)
    ready, result = None, None
    # a JVM that outlives the deadline is killed, so a run always ends
    watchdog = threading.Timer(deadline, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH_READY"):
                ready = time.monotonic()
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        err.close()
    if proc.returncode != 0 or result is None or ready is None:
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
        fail(f"benchmark JVM failed (rc={proc.returncode})")
    return ready, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    launch = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.monotonic()
        data = os.path.join(run_dir, "data")
        if a.workload in SCALE:
            import tables
            tables.write(data, a.seed, SCALE[a.workload])
        work = os.path.join(run_dir, "work")
        ready, r = run_jvm(launch, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work,
            "--cores", str(CORES), "--shards", str(SHARDS),
            "--warm-shards", str(WARM_SHARDS)], run_dir, DEADLINE_S.get(a.workload, 150))
        errors = list(r["check_errors"])
        gates_checked = 0
        if a.workload in SCALE:
            import oracle_check
            for dump in ("dump", "dump_timed"):
                if os.path.isdir(os.path.join(work, dump)):
                    n, fails = oracle_check.check(data, os.path.join(work, dump))
                    gates_checked += n
                    errors += [f"{dump}: {f}" for f in fails]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = r["ops"]
    ok_ms = [o[2] for o in ops if o[3]]
    failed = sum(1 for o in ops if not o[3])
    pct, tail = tail_percentile(ok_ms) if ok_ms else (None, 0.0)
    e2e = {
        "setup_s": ready - t0,
        "wall_s": statistics.median(r["round_s"]),
        "work_per_s": sum(o[4] for o in ops if o[3]) / r["timed_s"],
        "op_p50_ms": statistics.median(ok_ms) if ok_ms else 0.0,
        "op_tail_ms": tail,
        "heap_live_mb": r["heap_live_mb"],
    }
    for e in errors:
        print(f"check: FAIL {e}")
    print(f"set-up: {e2e['setup_s']:.1f} s, of which JVM and session {r['session_s']:.1f} s, "
          f"warm-up {r['warm_s']:.1f} s")
    print("round seconds: " + ", ".join(f"{x:.3f}" for x in r["round_s"]))
    print(f"workload {a.workload}: seed {a.seed}, {r['rounds']} rounds, {len(ops)} ops "
          f"({failed} failed), {CORES} task slots, heap {HEAP}"
          + (f", {gates_checked} gate results equal to their DuckDB twins" if a.workload in SCALE else ""))
    by_name = {}
    for o in ops:
        by_name.setdefault(o[0], []).append(o[2])
    print("op median ms by name: " + ", ".join(
        f"{k} {statistics.median(v):.0f} (n={len(v)})" for k, v in sorted(by_name.items())))
    print(f"op_tail_ms is p{pct:g} over {len(ok_ms)} ops" if pct is not None
          else f"op_tail_ms is the maximum of {len(ok_ms)} ops (fewer than 20)")
    last = os.path.join(BUILD, f"last_{a.workload}.json")
    if a.trace == 0:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        with open(last, "w") as f:
            json.dump(e2e, f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in r["layers"].items()}
        for k in LAYER_NAMES:
            metrics.setdefault(k, {"value": 0.0, "unit": LAYER_UNITS.get(k, "count")})
        if os.path.exists(last):
            base = json.load(open(last))
            print("tracing overhead against the last untraced run: " + ", ".join(
                f"{k} {100.0 * (e2e[k] - base[k]) / base[k]:+.1f}%" for k in e2e if base.get(k)))
        print("traced end-to-end: " + json.dumps(e2e))
    print(json.dumps({"correct": not errors, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


def _layer_names():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer"]], {m["name"]: m["unit"] for m in spec["per_layer"]}


LAYER_NAMES, LAYER_UNITS = _layer_names() if os.path.exists(
    os.path.join(HERE, "..", "BENCHMARK.json")) else ([], {})

if __name__ == "__main__":
    main()
