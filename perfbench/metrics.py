"""Metrics of one harness run, computed from its run record.

The harness (src/main/scala/perfbench/Harness.scala) writes every call,
round, Spark job, stage and micro-batch it saw as one JSON record. This
module turns that record into the end-to-end metrics (untraced runs)
or the per-layer metrics (traced runs), and into the span tree of a
traced run.

Times in the record are wall-clock milliseconds on one epoch base.
"""

import math
import statistics

MB = 1048576.0

# A timed round counts as quiet when the hypervisor took at most this
# share of the host's CPU time while it ran (steal in /proc/stat). On a
# quiet host rounds read 0-3%. When another guest is busy they read
# 10-30%, and a round then takes up to twice as long, which says nothing
# about the program.
QUIET_STEAL = 0.03

# Percentiles a tail may be reported at, highest first.
TAIL_CHOICES = (99, 95, 90, 75, 50)


def tail_percentile(n, beyond=10):
    """The highest of TAIL_CHOICES with at least `beyond` of n samples
    above it, or None when even the median has fewer."""
    for p in TAIL_CHOICES:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(1, math.ceil(p / 100.0 * len(s))) - 1]


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    parts = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                   if min(b, hi) > max(a, lo))
    total, cur = 0.0, None
    for a, b in parts:
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - covered(children, start, end)


def attribute_jobs(jobs, calls, slack_ms=1.0):
    """Call id -> its jobs. A job whose group is a call id belongs to that
    call. Any other job (no group, or a group Spark set itself, as on
    stream threads) belongs to the call running when it started: with
    one client in flight that call is unique."""
    out = {c["id"]: [] for c in calls}
    ordered = sorted(calls, key=lambda c: c["t0"])
    for j in jobs:
        if j.get("group") in out:
            out[j["group"]].append(j)
            continue
        for c in ordered:
            if c["t0"] - slack_ms <= j["start"] <= c["t3"] + slack_ms:
                out[c["id"]].append(j)
                break
    return out


def stages_by_job(jobs, stages):
    """Job id -> stage records it ran. A stage id listed by several jobs
    ran in the first of them; later ones skipped it."""
    owner = {}
    for j in sorted(jobs, key=lambda j: j["start"]):
        for s in j["stages"]:
            owner.setdefault(s, j["id"])
    out = {j["id"]: [] for j in jobs}
    for s in stages:
        if s["id"] in owner:
            out[owner[s["id"]]].append(s)
    return out


def quiet_rounds(rounds, limit=QUIET_STEAL):
    """The rounds round_s is taken over: those whose steal share is at
    most `limit`, or, when fewer than half the rounds are that quiet,
    the quietest half."""
    ranked = sorted(rounds, key=lambda r: r["steal"])
    quiet = [r for r in ranked if r["steal"] <= limit]
    half = (len(ranked) + 1) // 2
    return quiet if len(quiet) >= half else ranked[:half]


def timed_calls(rec):
    return [c for c in rec["calls"] if not c["warmup"]]


def failures(rec):
    """(attempted, failed): every call, warm-up included, and those that
    raised or returned a result other than the expected one."""
    calls = rec["calls"]
    return len(calls), sum(1 for c in calls if "error" in c)


def end_to_end(rec):
    """Two maps of metric name -> (value, unit, note) for an untraced run:
    the bounded metrics, and call latency, printed but not bounded."""
    calls = [c for c in timed_calls(rec) if "error" not in c]
    walls = [(c["t3"] - c["t0"]) / 1e3 for c in calls]
    timed = [r for r in rec["rounds"] if not r["warmup"]]
    kept = quiet_rounds(timed)
    rounds = [(r["end"] - r["start"]) / 1e3 for r in kept]
    p = tail_percentile(len(walls))
    tail = ("p%d %.3f s" % (p, percentile(walls, p)) if p and p > 50 else
            "no higher percentile has 10 samples beyond it")
    return {
        "setup_s": (rec["setup_s"], "s",
                    "JVM start to the warm-up rounds done, 1 sample, steal %.0f%%" % (
                        100 * rec["setup_steal"])),
        "round_s": (statistics.median(rounds), "s",
                    "median of %d of %d timed rounds, steal %s" % (
                        len(kept), len(timed),
                        " ".join("%.0f%%" % (100 * r["steal"]) for r in timed))),
    }, {
        "call_p50_s": (statistics.median(walls), "s",
                       "median of %d calls; %s" % (len(walls), tail)),
    }


def spans(rec):
    """The traced rounds as a span list: workload > round > call >
    build/plan/execute > job > stage. Each span carries its call's id
    (empty above calls), its parent's index and its self time."""
    traced = [c for c in timed_calls(rec) if c["traced"]]
    jobs_of = attribute_jobs(rec["jobs"], traced)
    stages_of = stages_by_job(rec["jobs"], rec["stages"])
    out = []

    def add(name, start, end, parent, call=""):
        out.append({"name": name, "start": start, "end": end,
                    "parent": parent, "call": call, "children": []})
        if parent is not None:
            out[parent]["children"].append(len(out) - 1)
        return len(out) - 1

    rounds = [r for r in rec["rounds"] if r["traced"] and not r["warmup"]]
    if not rounds:
        return out
    top = add(rec["workload"], rounds[0]["start"], rounds[-1]["end"], None)
    for r in rounds:
        ri = add("round %d" % r["round"], r["start"], r["end"], top)
        for c in (c for c in traced if c["round"] == r["round"]):
            ci = add(c["gate"], c["t0"], c["t3"], ri, c["id"])
            phases = [add(n, a, b, ci, c["id"]) for n, a, b in (
                ("build", c["t0"], c["t1"]), ("plan", c["t1"], c["t2"]),
                ("execute", c["t2"], c["t3"]))]
            for j in jobs_of[c["id"]]:
                parent = next((p for p in phases
                               if out[p]["start"] <= j["start"] < out[p]["end"]),
                              phases[-1])
                ji = add("job %d" % j["id"], j["start"], j["end"], parent, c["id"])
                for s in stages_of.get(j["id"], []):
                    if s["submit"] >= 0 and s["complete"] >= 0:
                        add("stage %d" % s["id"], s["submit"], s["complete"], ji,
                            c["id"])
    for s in out:
        s["self_ms"] = self_time(s["start"], s["end"],
                                 [(out[k]["start"], out[k]["end"])
                                  for k in s["children"]])
    return out


def per_layer(rec):
    """Metric name -> (value, unit) for a traced run. Counts, bytes and
    times are per traced round."""
    calls = [c for c in timed_calls(rec) if c["traced"] and "error" not in c]
    rounds = [r for r in rec["rounds"] if not r["warmup"]]
    traced_rounds = [r for r in rounds if r["traced"]]
    n = float(len(traced_rounds))
    jobs_of = attribute_jobs(rec["jobs"], calls)
    stages_of = stages_by_job(rec["jobs"], rec["stages"])
    stages = [s for c in calls for j in jobs_of[c["id"]]
              for s in stages_of.get(j["id"], [])]

    def tot(key, scale=1.0):
        return sum(s.get(key, 0.0) for s in stages) / scale / n

    wall_ms = sum(c["t3"] - c["t0"] for c in calls)
    job_ms = sum(covered([(j["start"], j["end"]) for j in jobs_of[c["id"]]],
                         c["t0"], c["t3"]) for c in calls)
    task_ms = sum(s.get("task_ms", 0.0) for s in stages)
    multi = [s for s in stages if s.get("tasks", 0) >= 2]
    in_bytes = sum(s.get("in_bytes", 0.0) for s in stages)
    out_bytes = sum(s.get("out_bytes", 0.0) for s in stages)
    windows = [(c["t0"] - 1.0, c["t3"] + 1.0) for c in calls]
    batches = [b for b in rec["batches"]
               if any(a <= b["start"] <= z for a, z in windows)]
    untraced = [(r["end"] - r["start"]) / 1e3 for r in rounds if not r["traced"]]
    traced_s = [(r["end"] - r["start"]) / 1e3 for r in traced_rounds]

    m = {
        "graft.session_s": (rec["session_s"], "s"),
        "sources.read_mb": (tot("in_bytes", MB), "MB"),
        "sources.records_read": (tot("in_records"), "count"),
        "sources.scan_tasks": (tot("scan_tasks"), "count"),
        "operators.build_s": (sum(c["t1"] - c["t0"] for c in calls) / 1e3 / n, "s"),
        "operators.eager_jobs": (sum(1 for c in calls for j in jobs_of[c["id"]]
                                     if j["start"] < c["t1"]) / n, "count"),
        "plans.plan_s": (sum(c["t2"] - c["t1"] for c in calls) / 1e3 / n, "s"),
        "plans.broadcast_joins": (sum(c.get("broadcast_joins", 0) for c in calls) / n,
                                  "count"),
        "plans.shuffle_joins": (sum(c.get("shuffle_joins", 0) for c in calls) / n,
                                "count"),
        "plans.exchanges": (sum(c.get("exchanges", 0) for c in calls) / n, "count"),
        "scheduler.driver_gap_s": ((wall_ms - job_ms) / 1e3 / n, "s"),
        "scheduler.jobs": (sum(len(jobs_of[c["id"]]) for c in calls) / n, "count"),
        "scheduler.stages": (len(stages) / n, "count"),
        "scheduler.tasks": (tot("tasks"), "count"),
        "scheduler.job_wall_s": (job_ms / 1e3 / n, "s"),
        "scheduler.task_s": (task_ms / 1e3 / n, "s"),
        "scheduler.core_util": (task_ms / wall_ms / rec["cores"] if wall_ms else 0.0,
                                "ratio"),
        "scheduler.max_task_share": (
            sum(s["max_task_ms"] for s in multi) /
            max(sum(s["task_ms"] for s in multi), 1e-9) if multi else 0.0, "ratio"),
        "shuffle.write_mb": (tot("shuffle_write_bytes", MB), "MB"),
        "shuffle.read_mb": (tot("shuffle_read_bytes", MB), "MB"),
        "shuffle.fetch_wait_s": (tot("fetch_wait_ms", 1e3), "s"),
        "shuffle.spill_mb": (tot("spill_bytes", MB), "MB"),
        "storage.rdd_blocks_left": (sum(c.get("blocks_left", 0) for c in calls) / n,
                                    "count"),
        "storage.mem_mb_left": (sum(c.get("mem_mb_left", 0.0) for c in calls) / n, "MB"),
        "pipeline.write_mb": (out_bytes / MB / n, "MB"),
        "pipeline.records_written": (tot("out_records"), "count"),
        "pipeline.write_amp": (out_bytes / in_bytes if in_bytes else 0.0, "ratio"),
        "streaming.batches": (len(batches) / n, "count"),
        "streaming.batch_s": (sum(b["trigger_ms"] for b in batches) / 1e3 / n, "s"),
        "streaming.plan_s": (sum(b["planning_ms"] for b in batches) / 1e3 / n, "s"),
        "jvm.gc_s": (sum(r["gc_s"] for r in traced_rounds) / n, "s"),
        "jvm.cpu_s": (sum(r["cpu_s"] for r in traced_rounds) / n, "s"),
        "jvm.heap_after_round_mb": (statistics.median(r["heap_mb"] for r in traced_rounds),
                                    "MB"),
        "jvm.peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "jvm.live_heap_mb": (rec["live_heap_mb"], "MB"),
        "trace.untraced_round_s": (statistics.median(untraced), "s"),
        "trace.traced_round_s": (statistics.median(traced_s), "s"),
        "trace.overhead": (statistics.median(traced_s) / statistics.median(untraced),
                           "ratio"),
    }
    for k, v in rec["kernels"].items():
        m["functions.%s.ns_per_row" % k] = (v, "ns")
    return m
