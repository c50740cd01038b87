#!/usr/bin/env python3
"""Count the processes one benchmark run forks for file metadata.

    python3 tools/spawns.py --workload ingest_keyed --seed 1 [--dir CHECKOUT]

Without Hadoop's native library, Hadoop's local filesystem forks `chmod`
to set a new file's mode, `readlink` for a link status, and `ls` or `stat`
to read a file's owner and mode. This script makes a temporary directory
of logging shims for those four commands (each appends its name to a log,
then execs the real binary), runs the BENCHMARK.json command for the
workload once with that directory first on PATH, and prints the count per
command as one JSON line.

The harness is built before the shims go on PATH, so a build's own forks
are not counted. The run's timings are not evidence: a shim doubles each
exec it stands in for. Use tools/pairs.py for timings.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys
import tempfile

COMMANDS = ("chmod", "readlink", "ls", "stat")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    help="the checkout to run (default: this one)")
    args = ap.parse_args()
    root = os.path.abspath(args.dir)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'bench'); import run; run.ensure_built()"],
                   cwd=root, check=True)

    shims = tempfile.mkdtemp(prefix="spawn-shims-")
    try:
        log = os.path.join(shims, "spawns.log")
        open(log, "w").close()
        for name in COMMANDS:
            real = shutil.which(name)
            if real is None:
                continue
            shim = os.path.join(shims, name)
            with open(shim, "w") as fh:
                fh.write(f'#!/bin/sh\necho {name} >> "{log}"\nexec "{real}" "$@"\n')
            os.chmod(shim, 0o755)
        env = dict(os.environ, PATH=shims + os.pathsep + os.environ.get("PATH", ""))
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-2000:])
            raise SystemExit(f"spawns: run failed (exit {r.returncode})")
        with open(log) as fh:
            counts = collections.Counter(line.strip() for line in fh if line.strip())
    finally:
        shutil.rmtree(shims, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "spawns": {c: counts.get(c, 0) for c in COMMANDS},
                      "total": sum(counts.values())}))


if __name__ == "__main__":
    main()
