#!/usr/bin/env python3
"""Benchmark of the graft pipeline library.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
harness from source with sbt (offline) and caches the classpath under
perfbench/out/build; later runs of the same sources reuse it.

One run is one JVM with one local SparkSession on every core the
process may use, driving one closed-loop client over the workload's
pinned query list (workloads.json) in the order the seed gives. The
harness warms up with one full pass that also digests every result
(the digests must equal the references in refs/), then times a fixed
number of passes: S seconds divided by the workload's pass time on the
reference machine (`pass_s`), so a slowed host changes how long a run
takes but not how warm the JVM is when it is measured. The report
keeps the later half of the timed passes (the JVM is still warming up
during the first ones) and reports the gated times net of the CPU time
the hypervisor stole from the machine and at a reference core speed
measured during the same pass (metrics.py). With --trace 0 the last stdout line
carries the gated end-to-end metrics, with --trace 1 the per-layer ones
(every second pass is traced; the others give the tracing overhead).
All metrics, the cores, the scale factor and the seed are printed
before that line; per-query rows go to perfbench/out/. The exit code is
0 only when every pinned query resolved, ran and matched.
"""
import argparse
import hashlib
import json
import os
import random
import signal
import shutil
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(OUT, "build")
RUN_TIMEOUT_S = 170
# Timed passes stop after this much pass time, so that a run on a badly
# slowed host still ends within RUN_TIMEOUT_S.
MAX_TIMED_S = 100
HEAP = "3g"

# Printed with every run; BENCHMARK.json names the ones the benchmark gates.
END_TO_END_UNITS = {"batch_s": "s", "setup_s": "s", "batch_wall_s": "s", "setup_wall_s": "s",
                    "steal_frac": "fraction", "probe_s": "s", "query_p50_s": "s", "query_p90_s": "s",
                    "storage_peak_mb": "MB"}

# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_files():
    """Every input of the build: the root build and sources, and the harness."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")]
    files = [os.path.join(d, f) for d in (ROOT, HARNESS) for f in ("build.sbt",)]
    files += [os.path.join(d, "project", "build.properties") for d in (ROOT, HARNESS)]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    missing = [f for f in files if not os.path.isfile(f)]
    if missing or not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: cannot build, missing %s" % (missing[:3] or roots[0]))
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build():
    """Classpath of the harness and the library, compiled with sbt if the
    sources changed."""
    fp = fingerprint()
    cp_file, fp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "fingerprint")
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       timeout=800, cwd=HARNESS, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or os.path.join("harness", "target") not in cp:
        raise SystemExit("perfbench: build failed (rc=%s), see %s" % (rc, log))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def data_dir(spec):
    return os.path.join(HERE, "data", "sf" + spec["sf"])


def cores():
    return len(os.sched_getaffinity(0))


def timed_passes(seconds, pass_s):
    """Number of timed passes for a run of `seconds` (at least one)."""
    return max(1, round(seconds / pass_s))


def host_ticks():
    """(busy, steal) CPU ticks of the machine now; (0, 0) without /proc."""
    try:
        with open("/proc/stat") as f:
            return metrics.host_ticks(f.readline())
    except OSError:
        return 0, 0


def run_harness(cp, order, data, passes, trace, tag, dump=None):
    """Run one harness JVM; returns (events, spawn epoch ms, host ticks
    at spawn)."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    order_file = os.path.join(OUT, tag + ".order")
    events_file = os.path.join(OUT, tag + ".jsonl")
    with open(order_file, "w") as f:
        f.write("\n".join(order) + "\n")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-cp", cp, "graft.perfbench.Harness",
        "--data", data, "--order", order_file, "--passes", str(passes),
        "--max-seconds", str(MAX_TIMED_S),
        "--trace", str(trace), "--cores", str(cores()), "--events", events_file]
    if dump:
        cmd += ["--dump", dump]
    spawn_ticks = host_ticks()
    spawn_ms = time.time() * 1000.0
    with open(os.path.join(OUT, tag + ".log"), "w") as log:
        rc = run_group(cmd, timeout=RUN_TIMEOUT_S, cwd=ROOT, stdout=log,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit("perfbench: harness %s (rc=%s), see %s" % (
            "timed out" if rc is None else "failed", rc, log.name))
    with open(events_file) as f:
        return [json.loads(l) for l in f if l.strip()], spawn_ms, spawn_ticks


def failures(events, pinned, refs):
    """name -> reason for every pinned query that did not resolve, threw,
    or whose checked result differs from its reference digest."""
    bad = {e["name"]: "unresolved" for e in events if e["type"] == "unresolved"}
    for e in events:
        if e["type"] == "query" and e["error"] is not None:
            bad.setdefault(e["name"], "pass %s: %s" % (e["pass"], e["error"]))
    checked = {e["name"]: e for e in events if e["type"] == "query" and e["pass"] == "warmup"}
    for name in pinned:
        if name in bad:
            continue
        got, want = checked.get(name), refs.get(name)
        if got is None:
            bad[name] = "not checked"
        elif want is None:
            bad[name] = "no reference digest"
        elif (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
            bad[name] = "digest %s/%d rows, reference %s/%d rows" % (
                got["digest"], got["rows"], want["digest"], want["rows"])
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = load("workloads.json")
    if a.workload not in spec["workloads"]:
        raise SystemExit("perfbench: unknown workload %r" % a.workload)
    pinned = spec["workloads"][a.workload]["queries"]
    passes = timed_passes(a.seconds, spec["workloads"][a.workload]["pass_s"])
    ref_file = os.path.join("refs", "sf%s.json" % spec["sf"])
    refs = load(ref_file)["digests"] if os.path.isfile(os.path.join(HERE, ref_file)) else {}
    data = data_dir(spec)
    cp = build()

    order = list(pinned)
    random.Random(a.seed).shuffle(order)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    events, spawn_ms, spawn_ticks = run_harness(cp, order, data, passes, a.trace, tag)
    bad = failures(events, pinned, refs)
    e2e, info = metrics.end_to_end(events, spawn_ms, spawn_ticks)
    n_cores = next(e["cores"] for e in events if e["type"] == "start")
    rows, layer_passes = metrics.trace_rows(events, n_cores)
    layers = {}
    if layer_passes:
        layers = {k: metrics.median([p[k] for p in layer_passes]) for k in layer_passes[0]}
        layers["trace.untraced_batch_s"] = e2e["batch_wall_s"]

    context = {"workload": a.workload, "seed": a.seed, "cores": n_cores, "sf": spec["sf"],
               "trace": a.trace, "order": order}
    with open(os.path.join(OUT, tag + ".json"), "w") as f:
        json.dump({"context": context, "end_to_end": e2e, "samples": info,
                   "per_layer": layers, "failures": bad, "per_query": rows,
                   "queries": [e for e in events if e["type"] == "query"]}, f, indent=1)

    print("perfbench %s: seed=%d cores=%d sf=%s trace=%d timed_passes=%d steady_passes=%d "
          "queries=%d" % (a.workload, a.seed, n_cores, spec["sf"], a.trace, passes,
                          info["passes"], len(pinned)))
    for k, unit in END_TO_END_UNITS.items():
        print("  %-16s %12s %s" % (k, "n/a" if e2e[k] is None else "%.6g" % e2e[k], unit))
    if info["query_samples"]:
        print("  query_p50_s is the p%.1f and query_p90_s the p%.1f of %d samples" % (
            100 * info["p50_quantile"], 100 * info["p90_quantile"], info["query_samples"]))
    print("  failed_frac      %12.4f (%d of %d)" % (len(bad) / len(pinned), len(bad), len(pinned)))
    for name, why in sorted(bad.items()):
        print("  FAILED %s: %s" % (name, why))
    if layers:
        over = layers["trace.traced_batch_s"] / layers["trace.untraced_batch_s"] - 1
        print("  tracing overhead %+.1f%% of the untraced pass wall" % (100 * over))
        odd = [r["query"] for r in rows if r["build_s"] + r["action_s"] > r["wall_s"] + 1e-6
               or r["build_self_s"] < 0 or r["action_self_s"] < 0]
        print("  span check: %s" % ("build_s + action_s <= wall_s and self times >= 0 for all %d "
                                    "query spans" % len(rows) if not odd else "FAILED for %s" % odd))
        for k, v in layers.items():
            print("  %-30s %12.4f" % (k, v))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        gated = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = layers if a.trace else e2e
    shown = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in gated}
    print(json.dumps({"correct": not bad, "attempted": len(pinned), "failed": len(bad),
                      "metrics": shown}))
    sys.exit(0 if not bad else 1)


if __name__ == "__main__":
    main()
