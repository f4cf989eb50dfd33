#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|play> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine together with the
benchmark harness (perfbench/build.sbt, offline sbt) into .bench_build/ on
first use, then runs one workload in one JVM started with `java -cp`, so
no build-tool start-up is timed. The last stdout line is the result object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Each
run also leaves a record under .bench_build/records/ (box telemetry, check
failures and, for traced runs, spans, per-layer self time and the tracing
overhead against the untraced records of the same workload).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the one whose spark-submit
    is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution: set SPARK_HOME")
    return home


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found; run from a checkout root")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Xmx2g").strip()
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0:
        die(f"build failed (exit {p.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    time.sleep(10)  # let the build's JVMs exit before anything is timed


def heap():
    """Half of MemTotal, clamped to [2, 8] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(args, work, record):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{HERE}/src/main/resources:{spark_home()}/jars/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--dir", work, "--record", record]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("run timed out", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        die(f"run failed (exit {proc.returncode})", 3)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        die("run printed no result", 3)
    return json.loads(lines[-1])


def overhead(record_path, workload):
    """Traced minus untraced end-to-end metrics: the traced record against
    the median of this checkout's untraced records of the same workload."""
    with open(record_path) as f:
        rec = json.load(f)
    recs = os.path.join(BUILD, "records")
    base = {}
    for name in os.listdir(recs):
        if name.startswith(workload + "-") and name.endswith("-t0.json"):
            with open(os.path.join(recs, name)) as f:
                for k, v in json.load(f).get("e2e", {}).items():
                    base.setdefault(k, []).append(v)
    rec["tracing_overhead"] = {
        k: {"traced": v, "untraced_median": statistics.median(base[k]),
            "untraced_runs": len(base[k]), "delta": v - statistics.median(base[k])}
        for k, v in rec.get("e2e", {}).items() if base.get(k)}
    with open(record_path, "w") as f:
        json.dump(rec, f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        die(f"unknown workload {args.workload}")
    build()

    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    work = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    record = os.path.join(BUILD, "records",
                          f"{args.workload}-{stamp}-s{args.seed}-t{args.trace}.json")
    t0 = time.time()
    try:
        res = run_jvm(args, work, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: run took {time.time() - t0:.1f} s", file=sys.stderr)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    got = res["metrics"]
    unknown = sorted(set(got) - set(units))
    if unknown:
        die(f"run reported undeclared metrics {unknown}", 3)
    if not args.trace:
        missing = sorted(set(units) - set(got))
        if missing:
            die(f"run did not report {missing}", 3)
    else:
        overhead(record, args.workload)
    # A layer the workload does not reach reports 0 (perfbench/metrics.json
    # lists which layers each workload measures).
    metrics = {k: {"value": got.get(k, 0), "unit": u} for k, u in units.items()}
    print(f"perfbench: record {os.path.relpath(record, ROOT)}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
