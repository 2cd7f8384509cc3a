#!/usr/bin/env python3
"""Line counter for the Scala sources: total and code lines per file.

A code line is a line that is not blank and not wholly a comment: `//`
lines, and lines inside or opening a `/* ... */` block (Scaladoc included)
do not count. A line with code before a `//` or `/*` counts as code.

Usage: python3 tools/loc.py [path ...]   (default: src/main)
Prints one `total code path` row per .scala file, then one row for all of
them. Standard library only.
"""
import os
import sys


def count(path):
    total = code = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            total += 1
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                    rest = s.split("*/", 1)[1].strip()
                    if rest and not rest.startswith("//"):
                        code += 1
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            code += 1
    return total, code


def scala_files(root):
    if os.path.isfile(root):
        return [root]
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def main(args):
    files = [f for r in (args or ["src/main"]) for f in scala_files(r)]
    tt = tc = 0
    for f in files:
        t, c = count(f)
        tt += t
        tc += c
        print(f"{t:7d} {c:7d} {f}")
    print(f"{tt:7d} {tc:7d} all ({len(files)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
