#!/usr/bin/env python3
"""Local rehearsal of the driver's t2 DuckDB-oracle compare.

Usage: python3 tools/rehearse.py <sfDir> <outDir> [name-filter ...]

Reads each Spark-written parquet dir under <outDir>/<name>, runs the
matching SQL from <outDir>/oracle_sql.json in DuckDB over the parquet
tables in <sfDir>, sorts columns by name on both sides, and compares
row-by-row. Mirrors what we know of the driver gate: row order matters
(queries end in a total-order sort), column names must match, values
must be (hash-)identical.

DuckDB runs under a memory limit of two thirds of the memory this
process may use: the host's MemTotal, or the memory limit of its cgroup
(or of an ancestor cgroup) when that is smaller. Memory that other
processes use at the same time is not subtracted. DuckDB runs at most
four threads and spills to the gitignored .tmp/ at the repository root.
At its default limit (80% of RAM) one sf0.1 run grew past 11 GB on a
16 GB host and the kernel killed it. The two-thirds figure was sized on
dedup_semdedup at sf0.01 before its oracle materialized its CTEs: it ran
out of memory at 7.2 GiB and passed at 9.3 GiB. Materialized, it peaks
near 0.4 GB at sf0.01 and 2 GB at sf0.1. An oracle that still runs out
of memory is reported as a FAIL like any other error.
"""
import sys, json, glob, math, os
import duckdb

SPILL_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".tmp")
THREADS = min(4, os.cpu_count() or 1)

def mem_total_bytes():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")

def cgroup_limit_bytes():
    """The smallest memory limit set on this process's cgroup or its
    ancestors (cgroup v2 memory.max, v1 memory.limit_in_bytes), or None
    where none is set or readable."""
    try:
        with open("/proc/self/cgroup") as f:
            entries = [line.rstrip("\n").split(":", 2) for line in f]
    except OSError:
        return None
    limits = []
    for _, controllers, path in entries:
        if controllers == "":
            root, name = "/sys/fs/cgroup", "memory.max"
        elif "memory" in controllers.split(","):
            root, name = "/sys/fs/cgroup/memory", "memory.limit_in_bytes"
        else:
            continue
        parts = [p for p in path.split("/") if p]
        for i in range(len(parts), -1, -1):
            try:
                with open(os.path.join(root, *parts[:i], name)) as f:
                    value = f.read().strip()
            except OSError:
                continue
            if value.isdigit():  # "max" is no limit
                limits.append(int(value))
    return min(limits, default=None)

def memory_limit_bytes():
    cgroup = cgroup_limit_bytes()
    total = mem_total_bytes()
    return (total if cgroup is None else min(total, cgroup)) * 2 // 3

def connect():
    con = duckdb.connect()
    con.sql(f"SET memory_limit = '{memory_limit_bytes() // 2**20}MB'")
    con.sql(f"SET threads = {THREADS}")
    con.sql(f"SET temp_directory = '{os.path.normpath(SPILL_DIR)}'")
    return con

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    name_filter = sys.argv[3:]
    con = connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    fails = []
    for name in sorted(oracle):
        if name_filter and not any(f in name for f in name_filter):
            continue
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; fails.append(name); continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            exp = con.sql(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; fails.append(name); continue
        got = got[sorted(got.columns)]
        exp = exp[sorted(exp.columns)]
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: cols spark={list(got.columns)} oracle={list(exp.columns)}")
            n_fail += 1; fails.append(name); continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}")
            n_fail += 1; fails.append(name); continue
        def norm(x):
            # list/array-valued cells: numpy arrays (and nested ones)
            # have ambiguous truth under ==; canonicalize to lists.
            if hasattr(x, "tolist"):
                return x.tolist()
            if isinstance(x, (list, tuple)):
                return [norm(v) for v in x]
            return x
        bad = None
        for c in got.columns:
            gv, ev = got[c].tolist(), exp[c].tolist()
            for i, (g, e) in enumerate(zip(gv, ev)):
                g, e = norm(g), norm(e)
                same = (g == e) or (g is None and e is None)
                if not same and isinstance(g, float) and isinstance(e, float):
                    same = (math.isnan(g) and math.isnan(e))
                if not same:
                    # tolerate pandas NaT/None/nan cross-representation
                    def isnull(x):
                        if x is None: return True
                        if isinstance(x, float) and math.isnan(x): return True
                        return type(x).__name__ == "NaTType"
                    if isnull(g) and isnull(e):
                        same = True
                if not same:
                    bad = (c, i, g, e); break
            if bad: break
        if bad:
            c, i, g, e = bad
            print(f"FAIL {name}: col={c} row={i} spark={g!r} oracle={e!r}")
            n_fail += 1; fails.append(name)
        else:
            print(f"PASS {name} ({len(got)} rows)"); n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail" + (f": {fails}" if fails else ""))
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
