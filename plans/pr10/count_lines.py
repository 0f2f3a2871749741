#!/usr/bin/env python3
"""Count the code lines of the Scala sources under a directory.

A code line is a line that is not blank, not a `//` comment line and
not inside a `/* */` (or `/** */`) block. A line that holds code and a
trailing comment counts as code.

    python3 plans/pr10/count_lines.py [src/main]

Prints one line per file (sorted by path) and a total.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                end = line.find("*/")
                if end < 0:
                    continue
                in_block = False
                line = line[end + 2:].strip()
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                end = line.find("*/", 2)
                if end < 0:
                    in_block = True
                    continue
                line = line[end + 2:].strip()
                if not line or line.startswith("//"):
                    continue
            n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                rows.append((p, code_lines(p)))
    rows.sort()
    for p, n in rows:
        print(f"{n:6d} {p}")
    print(f"{sum(n for _, n in rows):6d} total")


if __name__ == "__main__":
    main()
