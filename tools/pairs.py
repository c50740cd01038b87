#!/usr/bin/env python3
"""Paired benchmark runs of two revisions: the evidence a speed claim needs.

    python3 tools/pairs.py --workload ingest_keyed --seeds 401-410 \\
        [--parent HEAD~1] [--change HEAD] [--work /tmp/pairs] \\
        [--parent-dir DIR] [--change-dir DIR]

Extracts each revision with `git archive` into <work>/parent and
<work>/change (or uses an existing checkout given by --parent-dir /
--change-dir, e.g. `--change-dir .` for the working tree), then for every
seed runs the BENCHMARK.json command for the workload once in each
checkout. Pair i runs the parent first when i is even and the change first
when i is odd, so host drift within a pair does not always favour one
side. Each checkout builds its own harness on its first run.

For every end-to-end metric of BENCHMARK.json it prints both medians, both
quartiles, the change/parent ratio of the medians, the change's wins out
of N, whether the change stays within the metric's bound, and whether the
claim rule holds: the change wins at least 9 pairs in 10 and its median is
better than the parent's by more than the parent's interquartile range.
Every pair's values, and each run's `failed` count, go to
<work>/pairs-<workload>.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def checkout(rev, path):
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    tar = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                         check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", path], input=tar, check=True)
    return path


def run_one(bench, cwd, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    line = next((l for l in reversed(r.stdout.splitlines()) if l.startswith('{"correct"')), None)
    if r.returncode != 0 or line is None:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"pairs: run failed in {cwd} (seed {seed}, exit {r.returncode})")
    res = json.loads(line)
    return {"failed": res["failed"], "correct": res["correct"],
            **{k: v["value"] for k, v in res["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 401-410 or 1,5,9")
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--parent-dir")
    ap.add_argument("--change-dir")
    ap.add_argument("--work", default="/tmp/graft-pairs")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(args.work, exist_ok=True)
    dirs = {
        "parent": os.path.abspath(args.parent_dir) if args.parent_dir
        else checkout(args.parent, os.path.join(args.work, "parent")),
        "change": os.path.abspath(args.change_dir) if args.change_dir
        else checkout(args.change, os.path.join(args.work, "change")),
    }
    pairs = []
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_one(bench, dirs[side], args.workload, seed)
        pairs.append(pair)
        print(json.dumps(pair), flush=True)
    with open(os.path.join(args.work, f"pairs-{args.workload}.json"), "w") as fh:
        json.dump({"workload": args.workload, "dirs": dirs, "pairs": pairs}, fh, indent=1)

    n = len(pairs)
    failed = sum(p[s]["failed"] for p in pairs for s in ("parent", "change"))
    print(f"\n{args.workload}: {n} pairs, failed operations in all runs: {failed}")
    print(f"{'metric':<18}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
          f"{'ratio':>8}{'wins':>7}{'bound':>7}{'claim':>7}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"][name] for p in pairs if p["parent"].get(name) is not None]
        chg = [p["change"][name] for p in pairs if p["change"].get(name) is not None]
        if not par or not chg:
            print(f"{name:<18} (no values)")
            continue
        pq, cq = quartiles(par), quartiles(chg)
        better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
        wins = sum(better(p["change"][name], p["parent"][name]) for p in pairs
                   if None not in (p["change"].get(name), p["parent"].get(name)))
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        worse_by = (ratio - 1) if lower else (1 - ratio)
        in_bound = worse_by <= m["bound"]
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        claim = wins * 10 >= 9 * n and gap > pq[2] - pq[0]
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)
        print(f"{name:<18}{fmt(pq):>28}{fmt(cq):>28}{ratio:>8.3f}"
              f"{wins:>4}/{n:<2}{'ok' if in_bound else 'OUT':>7}{'yes' if claim else 'no':>7}")


if __name__ == "__main__":
    main()
