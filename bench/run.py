#!/usr/bin/env python3
"""Run one benchmark workload in its own JVM and print its result.

    python3 bench/run.py --master 'local[4]' --shuffle-partitions 4 \\
        --workload ingest_keyed --seed 1 --seconds 15 --trace 0

Builds the harness (bench/build.sbt, which compiles the repository's
src/main/scala with bench/src/main/scala) on first use or when a source
changed, then starts `java bench.Main` directly. Everything a run writes
stays under bench/out/: the run's work directory (deleted at the end),
the JVM's stderr log and the results file with the per-layer table and
spans. The last stdout line is the result object.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "bench-build.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# C1 only: a run lasts about a minute, and with the C2 tier the JVM keeps
# recompiling through all of it, so timings fell through every run and a
# slow host started timing on a colder JVM. C1 code is steady after the
# first drain or trigger. See README.md, "JVM".
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-Xmx3g"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark (expected ../src/main/scala)")
    want = build_inputs()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


def run_jvm(args, work, results, log_path, limit_s):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "bench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--master", args.master, "--shuffle-partitions", str(args.shuffle_partitions),
        "--work", work, "--out", results]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {limit_s:.0f} s; JVM log: {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out.splitlines()


def overhead(results, untraced):
    """Tracing overhead: traced minus untraced end-to-end, same seed."""
    with open(results) as fh:
        t = json.load(fh)
    with open(untraced) as fh:
        u = json.load(fh)
    diff = {k: {"value": t["end_to_end"][k]["value"] - v["value"], "unit": v["unit"]}
            for k, v in u["end_to_end"].items()
            if k in t["end_to_end"] and None not in (v["value"], t["end_to_end"][k]["value"])}
    t["tracing_overhead"] = diff
    with open(results, "w") as fh:
        json.dump(t, fh)
    return diff


def main():
    # a terminated runner still stops its JVM and removes its work dir:
    # SystemExit unwinds through the `finally` blocks below
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", required=True)
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    args = ap.parse_args()

    ensure_built()
    os.makedirs(OUT, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(OUT, f"work-{name}-{os.getpid()}")
    results = os.path.join(OUT, f"{name}.json")
    log_path = os.path.join(OUT, f"{name}.log")
    if os.path.exists(results):
        os.remove(results)
    try:
        rc, lines = run_jvm(args, work, results, log_path, RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for line in lines:
        if line != result:
            print(line)
    if rc != 0 or result is None:
        fail(f"run failed (exit {rc}); JVM log: {log_path}")
    untraced = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace0.json")
    if args.trace == 1 and os.path.exists(untraced) and os.path.exists(results):
        print(json.dumps({"tracing_overhead": overhead(results, untraced)}))
    print(result)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
