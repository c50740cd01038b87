#!/usr/bin/env python3
"""Count the Scala code lines under src/main: blank lines and comment lines
(`//` lines and the lines of `/* ... */` and scaladoc blocks, which nest as
in Scala) are excluded.
A line holding code and a trailing comment counts as code.

    python3 tools/loc.py            # this checkout
    python3 tools/loc.py <root>     # another checkout (e.g. a `git archive`)
    python3 tools/loc.py -v         # per-file counts too
"""
import os
import sys


def code_lines(text):
    n = 0
    depth = 0  # Scala block comments nest
    for line in text.splitlines():
        s = line.strip()
        code = False
        i = 0
        while i < len(s):
            if s.startswith("/*", i):
                depth += 1
                i += 2
            elif depth and s.startswith("*/", i):
                depth -= 1
                i += 2
            elif depth:
                i += 1
            elif s.startswith("//", i):
                break
            elif s[i] == '"':
                # skip a string literal, so a "//" or "/*" inside one is
                # not taken for a comment
                q = '"""' if s.startswith('"""', i) else '"'
                end = s.find(q, i + len(q))
                i = len(s) if end < 0 else end + len(q)
                code = True
            else:
                i += 1
                code = True
        n += code
    return n


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    src = os.path.join(root, "src", "main")
    total = 0
    for d, _, files in sorted(os.walk(src)):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    c = code_lines(fh.read())
                total += c
                if verbose:
                    print(f"{c:6d} {os.path.relpath(p, root)}")
    print(f"src/main Scala code lines: {total}")


if __name__ == "__main__":
    main(sys.argv[1:])
