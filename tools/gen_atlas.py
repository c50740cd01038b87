#!/usr/bin/env python3
"""Operator-atlas generator (r20, VERDICT r19 next-round #6): one table
mapping every declared query key to the things the judge reconstructs
each round by hand — source location, oracle coverage, and the 10x
rehearsal wall-times + scaling exponent.

Inputs: the two rehearsal logs written by tools/rehearse.sh
(/tmp/rehearse_sf0.1.log, /tmp/rehearse_graft_full10.log). Run AFTER
the frozen-tree rehearsal so the exponents are the round's own.

Usage: python3 tools/gen_atlas.py > /tmp/atlas.md   (driver python)
"""
import json
import math
import os
import re
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")


def locations() -> dict:
    """file:line of each '"q_x" ->' declaration under queries/."""
    out = {}
    qdir = os.path.join(ROOT, "src/main/scala/graft/queries")
    for f in sorted(os.listdir(qdir)):
        if not f.endswith(".scala"):
            continue
        with open(os.path.join(qdir, f)) as fh:
            for i, line in enumerate(fh, 1):
                for q in re.findall(r'"(q_[a-z0-9_]+)" -> ', line):
                    out.setdefault(q, f"queries/{f}:{i}")
    return out


def bench_ms(log_path: str) -> dict:
    """Full-precision per-query seconds from a rehearsal log's total line."""
    with open(log_path) as fh:
        for line in fh:
            m = re.search(r'\{"metric":"total".*\}', line)
            if m:
                d = json.loads(m.group(0))
                return {k: round(v * 1000) for k, v in d["queries"].items()}
    return {}


def main():
    log1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/rehearse_sf0.1.log"
    log10 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/rehearse_graft_full10.log"
    ms1, ms10 = bench_ms(log1), bench_ms(log10)
    locs = locations()
    keys = sorted(locs)
    print("| query | source | oracle | 1x ms | 10x ms | exp |")
    print("|---|---|---|---|---|---|")
    for q in keys:
        a, b = ms1.get(q), ms10.get(q)
        # ADVICE r20 #5: distinguish missing (None) from a legitimate 0 ms
        # (sub-0.5 ms rounded) reading, and clamp BOTH sides symmetrically
        # so very fast queries keep a scaling-column entry
        if a is not None and b is not None:
            exp = f"{math.log10(max(b, 1) / max(a, 1)):.2f}"
        else:
            exp = "—"
        orc = ("shared CTE" if q.endswith(("indexed", "_bucketed"))
               else "DuckDB")
        print(f"| {q} | {locs[q]} | {orc} | "
              f"{a if a is not None else '—'} | "
              f"{b if b is not None else '—'} | {exp} |")
    missing = [q for q in ms1 if q not in locs]
    if missing:
        print(f"\n<!-- benched but not located: {missing} -->", file=sys.stderr)


if __name__ == "__main__":
    main()
