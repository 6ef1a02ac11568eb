#!/usr/bin/env python3
"""Take the reference digests the benchmark checks every result against.

    python3 perfbench/refs.py

Runs every pinned query of every workload twice, in two different
orders, and keeps a digest only when both runs agree. Each reference
is cross-checked against the query's DuckDB twin from
`SparkEntry.oracleSql` where one exists and finishes within
ORACLE_SECONDS (columns compared by name, rows in order, as the
library's oracle gate does). Writes refs/sf<sf>.json. Run it only when a
query's expected output changes on purpose, and say why in the commit.
"""
import glob
import json
import math
import os
import random
import shutil
import threading

import run

ORACLE_SECONDS = 30
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def same(g, e):
    if hasattr(g, "tolist"):
        g = g.tolist()
    if hasattr(e, "tolist"):
        e = e.tolist()
    if isinstance(g, (list, tuple)) and isinstance(e, (list, tuple)):
        return len(g) == len(e) and all(same(x, y) for x, y in zip(g, e))
    if g == e:
        return True

    def null(x):
        return x is None or (isinstance(x, float) and math.isnan(x)) \
            or type(x).__name__ == "NaTType"
    return null(g) and null(e)


def oracle_check(con, sql, files, seconds):
    """'match', 'timeout', or a one-line reason for the first difference."""
    out = {}

    def work():
        try:
            out["got"] = con.sql("SELECT * FROM read_parquet(%r)" % files).fetchdf()
            out["exp"] = con.sql(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - any engine error is a result
            out["err"] = str(e).splitlines()[0][:200]
    t = threading.Thread(target=work)
    t.start()
    t.join(seconds)
    if t.is_alive():
        con.interrupt()
        t.join()
        return "timeout"
    if "err" in out:
        return "error: " + out["err"]
    got, exp = out["got"], out["exp"]
    got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return "columns %s vs %s" % (list(got.columns), list(exp.columns))
    if len(got) != len(exp):
        return "rows %d vs %d" % (len(got), len(exp))
    for c in got.columns:
        for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not same(g, e):
                return "col %s row %d: %r vs %r" % (c, i, g, e)
    return "match"


def main():
    import duckdb

    spec = run.load("workloads.json")
    names = sorted({q for w in spec["workloads"].values() for q in w["queries"]})
    data = run.data_dir(spec)
    cp = run.build()
    dump = os.path.join(run.OUT, "refs-dump")
    shutil.rmtree(dump, ignore_errors=True)
    digests = []
    for seed in (1, 2):
        order = list(names)
        random.Random(seed).shuffle(order)
        events, _, _ = run.run_harness(cp, order, data, 1, 0, "refs-%d" % seed,
                                    dump=dump if seed == 1 else None)
        digests.append({e["name"]: (e["rows"], e["digest"]) for e in events
                        if e["type"] == "query" and e["pass"] == "warmup"
                        and e["error"] is None})
    unstable = sorted(n for n in names if digests[0].get(n) != digests[1].get(n))
    if unstable:
        raise SystemExit("refs: results differ between runs or failed: %s" % unstable)

    con = duckdb.connect()
    for t in TABLES:
        con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, data, t))
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    verdicts = {}
    for n in names:
        if n not in oracles:
            verdicts[n] = "no twin"
            continue
        files = sorted(glob.glob(os.path.join(dump, n, "*.parquet")))
        verdicts[n] = oracle_check(con, oracles[n], files, ORACLE_SECONDS)
    bad = {n: v for n, v in verdicts.items() if v not in ("match", "no twin", "timeout")}
    out = {"sf": spec["sf"],
           "digests": {n: {"rows": digests[0][n][0], "digest": digests[0][n][1]}
                       for n in names},
           "oracle": verdicts}
    path = os.path.join(run.HERE, "refs", "sf%s.json" % spec["sf"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    counts = {}
    for v in verdicts.values():
        k = v if v in ("match", "no twin", "timeout") else "mismatch"
        counts[k] = counts.get(k, 0) + 1
    print("refs: %d digests, oracle %s" % (len(names), counts))
    for n, v in sorted(bad.items()):
        print("  MISMATCH %s: %s" % (n, v))
    shutil.rmtree(dump, ignore_errors=True)


if __name__ == "__main__":
    main()
