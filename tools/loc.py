#!/usr/bin/env python3
"""Count the code and comment lines of `src/main` in two source trees.

Usage: python3 tools/loc.py A B

A and B are repository roots (e.g. a clone of the parent commit and the
working tree). For every `.scala` file under `src/main` in either tree,
prints its code lines and comment lines in A and B and the change, then
the totals. Blank lines are not counted. A comment line is a line that
is only comment: it starts with `//`, or lies inside (or opens) a
`/* ... */` block, which covers every Scaladoc line. A line holding
code and a trailing comment counts as code.
"""
import os, sys


def count(path):
    code = comments = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            if in_block:
                comments += 1
                in_block = "*/" not in line
            elif line.startswith("//"):
                comments += 1
            elif line.startswith("/*"):
                comments += 1
                in_block = "*/" not in line[2:]
            else:
                code += 1
    return code, comments


def tree(root):
    base = os.path.join(root, "src", "main")
    out = {}
    for d, _, files in os.walk(base):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                out[os.path.relpath(p, base)] = count(p)
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = tree(sys.argv[1]), tree(sys.argv[2])
    row = "{:<48} {:>7} {:>7} {:>6}   {:>7} {:>7} {:>6}"
    print(row.format("file", "code A", "code B", "delta",
                     "cmt A", "cmt B", "delta"))
    tot = [0, 0, 0, 0]
    for f in sorted(set(a) | set(b)):
        ca, ma = a.get(f, (0, 0))
        cb, mb = b.get(f, (0, 0))
        tot = [tot[0] + ca, tot[1] + cb, tot[2] + ma, tot[3] + mb]
        if (ca, ma) != (cb, mb):
            print(row.format(f, ca, cb, f"{cb - ca:+d}", ma, mb, f"{mb - ma:+d}"))
    print(row.format("total", tot[0], tot[1], f"{tot[1] - tot[0]:+d}",
                     tot[2], tot[3], f"{tot[3] - tot[2]:+d}"))


if __name__ == "__main__":
    main()
