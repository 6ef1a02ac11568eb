"""Pure functions that turn the harness's event log into metrics.

The harness (harness/src/main/scala/graft/perfbench/Harness.scala)
writes one JSON object per line: `query`, `pass`, `job`, `setup`,
`digest` fields and so on. Nothing here touches Spark, so every rule
is unit-tested in tests/test_metrics.py.
"""
import bisect
import math
import statistics

MB = 1048576.0

# Source files of the layers that submit jobs while a query is built.
TABLES_FILES = ("Tables.scala", "Sources.scala")
OPMODULE_FILES = ("OpModule.scala", "GraftBridge.scala")
# Classes of the library; the benchmark's own frames (graft.perfbench)
# are not part of it.
LIBRARY_CLASSES = ("graft.", "org.apache.spark.sql.GraftBridge")
HARNESS_CLASSES = "graft.perfbench."


def tail_percentile(values, q, beyond=10):
    """The q-quantile of `values`, capped so at least `beyond` samples lie
    above it: the highest percentile at or below q that still has ten
    samples beyond it. Returns (value, effective quantile, sample count);
    with `beyond` samples or fewer it falls back to the minimum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    want = max(0, math.ceil(q * n) - 1)        # nearest-rank index
    idx = max(0, min(want, n - 1 - beyond))
    return xs[idx], (idx + 1) / n, n


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start, end, child_intervals):
    """A span's duration minus the part its children cover (never < 0)."""
    return (end - start) - union_length(child_intervals, start, end)


class Windows:
    """Time windows (start, end, key) of the phases a single client runs
    one after another. A job belongs to the window it started in; a job
    that starts in a gap between windows belongs to the last window that
    started before it, i.e. the phase that was running."""

    def __init__(self, windows):
        self.windows = sorted(windows)
        self.starts = [w[0] for w in self.windows]
        self.by_key = {w[2]: w for w in self.windows}

    def at(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        return self.windows[i][2] if i >= 0 else None

    def attribute(self, t, tag=None, slack=1):
        """Key for a job started at t. A tag is trusted only if its own
        window contains t; untagged jobs (pool threads) and stale tags
        (a pool thread created during an earlier query) go by time."""
        w = self.by_key.get(tag)
        if w is not None and w[0] - slack <= t <= w[1] + slack:
            return tag, True
        return self.at(t), False


def call_site_layer(call_stack):
    """Layer of a job from the innermost library frame of its call stack
    (a stage's `details`: one `Class.method(File.scala:line)` frame per
    line, innermost first). The short call site does not do: Spark names
    a job after the first frame outside its own packages, and GraftBridge
    lives in one of them, so its jobs are named after their caller."""
    for frame in call_stack.splitlines():
        head, _, where = frame.strip().partition("(")
        cls = head.rsplit("/", 1)[-1]           # drop a module/loader prefix
        if cls.startswith(LIBRARY_CLASSES) and not cls.startswith(HARNESS_CLASSES):
            source = where.split(":")[0].rstrip(")")
            if source in TABLES_FILES:
                return "tables"
            return "opmodule" if source in OPMODULE_FILES else "other"
    return "other"


def median(xs):
    return statistics.median(xs) if xs else None


def steady(passes):
    """The later half of a run's timed passes. Pass times still fall by a
    quarter or more over the first few passes of a fresh JVM (JIT and
    Spark's code-generation caches); the later half is the settled part.
    A run makes a fixed number of passes, so this is the same stretch of
    the JVM's warm-up in every run, however fast the host is."""
    return passes[len(passes) // 2:]


def host_ticks(stat_line):
    """(busy, steal) clock ticks from the first line of /proc/stat; the
    same split as HostCpu in Harness.scala."""
    f = [int(x) for x in stat_line.split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], (f[7] if len(f) > 7 else 0)


def net_of_steal(wall, busy, steal):
    """Wall time less the share the hypervisor took away: on a shared
    host a virtual CPU with work to do waits while another tenant runs,
    and the machine counts that wait as steal. A pass whose CPUs lost a
    share f of their busy time to steal would have taken wall * (1 - f)."""
    return wall * busy / (busy + steal) if busy + steal > 0 else wall


# Lower quartile of the core-speed probe's kernel time (Harness.scala
# `Probe`) on the reference machine, a 4-core x86 VM. A shared host runs
# the same cores up to 2x slower for minutes at a time; batch_s and
# setup_s are scaled by PROBE_REF_S / probe_s, the core speed measured
# during the same pass, so they read as seconds at the reference speed.
PROBE_REF_S = 0.0002


def at_reference_speed(seconds, probe_s):
    """`seconds` measured while the probe read `probe_s`, at the
    reference core speed; unscaled when the probe took no sample."""
    return seconds * PROBE_REF_S / probe_s if probe_s > 0 else seconds


def end_to_end(events, spawn_ms, spawn_ticks=(0, 0)):
    """End-to-end figures of one run: the settled untraced timed passes,
    and the set-up from process spawn to the first timed query (session
    creation and the warm-up pass). batch_s and setup_s are net of steal
    and at the reference core speed; the *_wall_s figures are the same
    times as measured."""
    passes = [e for e in events if e["type"] == "pass" and e["kind"] == "timed"]
    untraced = steady([p for p in passes if not p["traced"]])
    ids = {p["pass"] for p in untraced}
    qs = [e for e in events if e["type"] == "query" and e["pass"] in ids]
    walls = [q["wall_s"] for q in qs if q["error"] is None]
    p50 = tail_percentile(walls, 0.5)
    p90 = tail_percentile(walls, 0.9)
    setup = next(e for e in events if e["type"] == "setup")
    setup_wall = (setup["first_timed_ms"] - spawn_ms) / 1000.0
    setup_busy = setup["busy_ticks"] - spawn_ticks[0]
    setup_steal = setup["steal_ticks"] - spawn_ticks[1]
    return {
        "batch_s": median([at_reference_speed(
            net_of_steal(p["wall_s"], p["busy_ticks"], p["steal_ticks"]), p["probe_s"])
            for p in untraced]),
        "setup_s": at_reference_speed(net_of_steal(setup_wall, setup_busy, setup_steal),
                                      setup["probe_s"]),
        "batch_wall_s": median([p["wall_s"] for p in untraced]),
        "setup_wall_s": setup_wall,
        "steal_frac": median([p["steal_ticks"] / max(1, p["busy_ticks"] + p["steal_ticks"])
                              for p in untraced]),
        "probe_s": median([p["probe_s"] for p in untraced]),
        "query_p50_s": p50[0],
        "query_p90_s": p90[0],
        "storage_peak_mb": max((q["storage_mb"] for q in qs), default=None),
    }, {"passes": len(untraced), "query_samples": p50[2],
        "p50_quantile": p50[1], "p90_quantile": p90[1]}


def trace_rows(events, cores):
    """Per-query layer rows and per-pass layer totals of the settled traced
    passes.

    Each query is a root span with two children, `build` and `action`;
    each Spark job is a grandchild under the phase it was tagged with,
    or, when untagged or stale, under the phase whose window it started
    in. Jobs outside every query window (none in a traced pass) are
    counted as unattributed."""
    traced = steady([p for p in events
                     if p["type"] == "pass" and p["kind"] == "timed" and p["traced"]])
    rows, totals = [], []
    for p in traced:
        pid = p["pass"]
        mine = []
        qs = [e for e in events if e["type"] == "query" and e["pass"] == pid]
        wins = []
        for q in qs:
            wins.append((q["start_ms"], q["build_end_ms"], (q["name"], "build")))
            wins.append((q["action_start_ms"], q["end_ms"], (q["name"], "action")))
        windows = Windows(wins)
        per = {w[2]: [] for w in wins}
        unattributed = by_window = 0
        jobs = [e for e in events if e["type"] == "job"
                and p["start_ms"] <= e["start_ms"] <= p["end_ms"]]
        for j in jobs:
            tag = (j["query"], j["phase"]) if j["query"] else None
            key, tagged = windows.attribute(j["start_ms"], tag)
            if key is None:
                unattributed += 1
                continue
            by_window += not tagged
            per[key].append(j)
        for q in qs:
            row = {"query": q["name"], "wall_s": q["wall_s"], "error": q["error"],
                   "held_mb": q["held_mb"], "persisted_rdds": q["persisted_rdds"]}
            for phase, a, b, secs in (
                    ("build", q["start_ms"], q["build_end_ms"], q["build_s"]),
                    ("action", q["action_start_ms"], q["end_ms"], q["action_s"])):
                js = per[(q["name"], phase)]
                row[phase + "_s"] = secs
                row[phase + "_self_s"] = self_time(
                    a, b, [(j["start_ms"], j["end_ms"]) for j in js]) / 1000.0
                row[phase + "_jobs"] = len(js)
            allj = per[(q["name"], "build")] + per[(q["name"], "action")]
            layer = [call_site_layer(j["call_stack"]) for j in per[(q["name"], "build")]]
            row["cut_jobs"] = layer.count("opmodule")
            row["tables_jobs"] = sum(call_site_layer(j["call_stack"]) == "tables" for j in allj)
            row["tables_job_s"] = sum((j["end_ms"] - j["start_ms"]) / 1000.0 for j in allj
                                      if call_site_layer(j["call_stack"]) == "tables")
            row["stages"] = sum(j["stages"] for j in allj)
            row["tasks"] = sum(j["tasks"] for j in allj)
            row["task_s"] = sum(j["task_ms"] for j in allj) / 1000.0
            for k in ("shuffle_write", "shuffle_read", "spill", "input"):
                row[k + "_mb"] = sum(j[k + "_b"] for j in allj) / MB
            row["jobs"] = len(allj)
            mine.append(row)
        rows += mine
        wall = p["wall_s"]
        task_s = sum(r["task_s"] for r in mine)
        totals.append({
            "operators.build_s": sum(r["build_s"] for r in mine),
            "operators.build_self_s": sum(r["build_self_s"] for r in mine),
            "operators.build_jobs": sum(r["build_jobs"] for r in mine),
            "opmodule.cut_jobs": sum(r["cut_jobs"] for r in mine),
            "opmodule.held_mb": max((r["held_mb"] for r in mine), default=0.0),
            "opmodule.persisted_rdds": max((r["persisted_rdds"] for r in mine), default=0),
            "tables.jobs": sum(r["tables_jobs"] for r in mine),
            "tables.job_s": sum(r["tables_job_s"] for r in mine),
            "tables.input_mb": sum(r["input_mb"] for r in mine),
            "action.s": sum(r["action_s"] for r in mine),
            "action.self_s": sum(r["action_self_s"] for r in mine),
            "action.jobs": sum(r["action_jobs"] for r in mine),
            "spark.jobs": sum(r["jobs"] for r in mine),
            "spark.stages": sum(r["stages"] for r in mine),
            "spark.tasks": sum(r["tasks"] for r in mine),
            "spark.task_s": task_s,
            "spark.core_busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
            "spark.shuffle_write_mb": sum(r["shuffle_write_mb"] for r in mine),
            "spark.shuffle_read_mb": sum(r["shuffle_read_mb"] for r in mine),
            "spark.spill_mb": sum(r["spill_mb"] for r in mine),
            "jvm.gc_s": p["gc_ms"] / 1000.0,
            "jvm.jit_cpu_s": p["jit_cpu_s"],
            "jvm.classes_loaded": p["classes_loaded"],
            "jvm.heap_peak_mb": p["heap_peak_mb"],
            "trace.window_attributed_jobs": by_window,
            "trace.unattributed_jobs": unattributed,
            "trace.traced_batch_s": wall,
        })
    return rows, totals
