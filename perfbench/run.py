#!/usr/bin/env python3
"""The repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload {dashboard,ingest_serve}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine and the
harness from source (`sbt`, in `perfbench/harness`) and generates the
inputs; both are cached under `perfbench/.build` and `perfbench/.work`
and rebuilt when their sources change. Each run starts one JVM
(`perfbench.Main`), which sets up, warms, then runs whole passes of the
workload for `--seconds` and writes raw samples; this script reduces
them, checks every output against `reference.json`, prints one line per
metric with its unit and sample count, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. See NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
RUN_LIMIT_S = 165
BUILD_LIMIT_S = 870
# generator copies for ingest_serve: the standing base and one arrival
COPIES = 2
# nominal seconds of one pass: `--seconds` buys this many whole passes
# (at least one), the same count on every run of a workload
PASS_S = {"dashboard": 10, "ingest_serve": 11}
# input scale of each workload (`gen_data.py`), named after the engine
# test data whose shape it has
SCALE = {"dashboard": "sf0.1", "ingest_serve": "sf0.01"}
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "harness", "build.sbt"),
             os.path.join(BENCH, "harness", "project", "build.properties"),
             os.path.join(BENCH, "harness", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_build():
    """Classpath of the engine + harness, compiled from this checkout."""
    stamp = sources_digest()
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export perfbench/Runtime/fullClasspath"],
            cwd=os.path.join(BENCH, "harness"), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env, timeout=BUILD_LIMIT_S)
    lines = open(log).read().splitlines()
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if p.returncode != 0 or cp is None:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def ensure_inputs(scale, intervals):
    """Base tables (and ingest intervals), generated once per checkout."""
    base = os.path.join(WORK, "data", scale)
    ingest = os.path.join(WORK, "data", f"{scale}_intervals")
    if not os.path.exists(os.path.join(base, "_MANIFEST.json")):
        shutil.rmtree(base, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), scale, base],
                       check=True)
    if intervals and not os.path.exists(os.path.join(ingest, "_MANIFEST.json")):
        shutil.rmtree(ingest, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "prep_ingest.py"), ROOT,
                        base, ingest, str(COPIES)], check=True)
    return base, ingest


def steal_s():
    """CPU time the hypervisor gave other guests so far (`/proc/stat`)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def heap():
    """Driver heap: half the memory, clamped to 2-4 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(args, cp, base, ingest):
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run, d))
    out = os.path.join(run, "result.json")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xmx{args.heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run}/tmp",
            f"-Dspark.local.dir={run}/local", f"-Dspark.sql.warehouse.dir={run}/warehouse",
            f"-Dderby.system.home={run}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--passes", str(max(1, round(args.seconds / PASS_S[args.workload]))),
            "--trace", str(args.trace),
            "--data", base, "--ingest", ingest, "--work", run, "--out", out,
            "--launch-ms", str(int(time.time() * 1000))])
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("interrupted")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run exceeded its time limit")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"harness exited with {p.returncode}, see {run}/jvm.log")
    with open(out) as f:
        return json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["sf0.1", "sf0.01", "sf0.001"],
                    help="input scale (default: the workload's own)")
    args = ap.parse_args()
    args.scale = args.scale or SCALE[args.workload]
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources next to perfbench/: run from a repository checkout")
    args.heap = heap()
    cp = ensure_build()
    base, ingest = ensure_inputs(args.scale, args.workload == "ingest_serve")
    steal0 = steal_s()
    res = run_jvm(args, cp, base, ingest)
    steal = steal_s() - steal0

    series, nums = res["series"], res["nums"]
    digests = {k[len("digest."):]: v for k, v in res["strings"].items()
               if k.startswith("digest.")}
    errors = dict(res["errors"])
    with open(os.path.join(BENCH, "reference.json")) as f:
        ref = json.load(f)
    expected = ref.get(args.scale, {}).get(args.workload, {})
    attempted, failed = res["attempted"], res["failed"]
    for name in sorted(set(expected) | set(digests)):
        attempted += 1
        if digests.get(name) != expected.get(name):
            failed += 1
            errors[f"digest.{name}"] = f"got {digests.get(name)}, want {expected.get(name)}"
    correct = failed == 0 and not errors and bool(expected)

    # end-to-end metrics: (value, unit, sample count)
    m = {"setup_s": (nums.get("setup_s"), "s", 1)}

    def median(name, key):
        xs = series.get(key)
        m[name] = (statistics.median(xs) if xs else None, "s", len(xs or []))

    def geomean(name, prefix):
        # over operations of each operation's median latency: every
        # operation weighs the same, whichever sits in the middle
        ops = [v for k, v in series.items() if k.startswith(f"op.{prefix}") and v]
        m[name] = (statistics.geometric_mean(statistics.median(v) for v in ops) if ops
                   else None, "s", sum(map(len, ops)))

    def percentiles(name, key):
        median(f"{name}_p50_s", key)
        xs = series.get(key) or []
        # interpolated between the two nearest ranks, like the median
        p90 = statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else None
        m[f"{name}_p90_s"] = (p90, "s", len(xs))

    median("pass_s", "pass_s")
    if args.workload == "ingest_serve":
        # a landing is the operation whose latency an ingest user waits on
        percentiles("latency", "land_s")
        geomean("latency_geomean_s", "land.")
        percentiles("land", "land_s")
        percentiles("read", "read_s")
        median("compact_p50_s", "compact_s")
        median("delete_p50_s", "delete_s")
    else:
        percentiles("latency", "latency_s")
        geomean("latency_geomean_s", "")
    m["failed_frac"] = (failed / max(1, attempted), "ratio", attempted)
    m["live_heap_mb"] = (nums.get("live_heap_mb"), "MB", 1)
    m["peak_rss_mb"] = (nums.get("peak_rss_mb"), "MB", 1)
    layers = {k[len("layer."):]: v for k, v in nums.items() if k.startswith("layer.")}
    if args.trace and series.get("traced.pass_s") and series.get("later.pass_s"):
        layers["trace.overhead_s"] = (statistics.median(series["traced.pass_s"]) -
                                      statistics.median(series["later.pass_s"]))

    context = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "scale": args.scale, "nproc": os.cpu_count(),
               "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
               "spark_cpus": nums.get("cpus"), "heap": args.heap, "steal_s": steal,
               **res["context"], "session_s": nums.get("session_s")}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    ctx_file = os.path.join(
        WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(ctx_file, "w") as f:
        json.dump({"context": context, "metrics": {k: v[0] for k, v in m.items()},
                   "layers": layers, "errors": errors, "digests": digests,
                   "ops": {k[len("op."):]: statistics.median(v) for k, v in series.items()
                           if k.startswith("op.")},
                   "series": series}, f, indent=1)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} context: " +
          " ".join(f"{k}={v}" for k, v in context.items()))
    for name, (v, unit, n) in m.items():
        print(f"{args.workload} {name} = {v} {unit} (n={n})")
    for name, v in sorted(layers.items()):
        print(f"{args.workload} layer {name} = {v}")
    for name, msg in errors.items():
        print(f"{args.workload} FAILED {name}: {msg}")

    s = spec()
    wanted = s["per_layer"] if args.trace else s["end_to_end"]
    metrics = {}
    for d in wanted:
        v = layers.get(d["name"]) if args.trace else m.get(d["name"], (None,))[0]
        if v is None:
            correct = False
            v = 0.0
        metrics[d["name"]] = {"value": v, "unit": d["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
