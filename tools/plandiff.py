#!/usr/bin/env python3
"""Compare two graft.PlanDump directories query by query.

Usage: python3 tools/plandiff.py A B [name ...]

A and B each hold `<query>_<suffix>.txt` plan dumps, e.g. from
`runMain graft.PlanDump A a all` in one tree and
`runMain graft.PlanDump B b all` in another. Before comparing, every
dump is normalized: expression ids (`#123`, `#123L`), RDD ids
(`MapPartitionsRDD[45]`), `plan_id=` values, `.scala:<line>` source
positions, lambda class names, `@1a2b3c` object hashes and the
numbers of lambda variables (`x_12`) are replaced by placeholders, since they differ between any two JVMs or source
trees. Prints each query whose normalized dumps
differ, each query dumped on one side only, and a count of identical
plans. With names after A and B, prints a unified diff of the
normalized dumps of each named query instead. Exits 1 when any plan
differs.
"""
import difflib, os, re, sys

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]+\b"), "@H"),
    (re.compile(r"lambda (\w+?)_\d+#N"), r"lambda \1_N#N"),
]


def dumps(directory):
    """query name -> normalized dump text."""
    out = {}
    for f in sorted(os.listdir(directory)):
        if not f.endswith(".txt") or "_" not in f:
            continue
        name = f[:-4].rsplit("_", 1)[0]
        with open(os.path.join(directory, f), encoding="utf-8") as fh:
            text = fh.read()
        for pat, rep in NORMALIZE:
            text = pat.sub(rep, text)
        out[name] = text
    return out


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    a, b = dumps(argv[1]), dumps(argv[2])
    if len(argv) > 3:
        for name in argv[3:]:
            sys.stdout.writelines(difflib.unified_diff(
                a.get(name, "").splitlines(True), b.get(name, "").splitlines(True),
                f"{argv[1]}/{name}", f"{argv[2]}/{name}"))
        return 0
    differ = sorted(n for n in a.keys() & b.keys() if a[n] != b[n])
    for n in differ:
        print(f"differs  {n}")
    for n in sorted(a.keys() - b.keys()):
        print(f"only A   {n}")
    for n in sorted(b.keys() - a.keys()):
        print(f"only B   {n}")
    same = len(a.keys() & b.keys()) - len(differ)
    print(f"{same} identical, {len(differ)} differ, "
          f"{len(a.keys() ^ b.keys())} on one side only")
    return 1 if differ or a.keys() ^ b.keys() else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
