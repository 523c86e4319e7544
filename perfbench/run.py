#!/usr/bin/env python3
"""graft's benchmark: one closed-loop client against Graft.session(local[4]).

    python3 perfbench/run.py [--workload NAME] --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --record      # re-record expected.tsv

Run from the repository root. The first run builds graft's sources and
the harness with sbt into .bench_build/ and perfbench/target/; later
runs reuse the build while the sources are unchanged. Each workload's
result is one JSON line, the last line of stdout when one workload runs;
the lines before it name each metric with its unit and sample count.
See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

CORES = 4
HEAP = "4g"
DEADLINE_S = 170
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Gate names are SparkEntry.queries keys; README.md says why each
# workload has the gates it has.
WORKLOADS = {
    "interactive_sql": ["q1_agg", "q3_join", "q6_revenue_band", "q13_custdist",
                        "q18_large_volume", "analytics_top_token",
                        "analytics_month_histogram", "validate_orphan_orders",
                        "etl_split_explode", "events_asof_signup"],
    "curation_etl": ["graph_sssp", "dedup_minhash", "stream_into_manifest"],
}
# (untimed, timed) rounds of a run. Round times keep falling while the
# JIT compiles: interactive_sql's still fell by 11-32% between its 4th
# and 11th rounds, by an amount that differed from run to run, so its
# timed rounds come after seven untimed ones. A curation_etl round varies
# by 10-20% with no trend after the third, so it takes the median of
# four. The counts are fixed, so both sides of a comparison do the same
# work; a time-boxed count moved the medians by more than the changes
# they should show. --seconds only caps the timed phase, which on a
# quiet 4-core host takes about 13 s (interactive_sql) and 21 s
# (curation_etl); the cap matters only when the host is busy.
ROUNDS = {"interactive_sql": (7, 4), "curation_etl": (3, 4)}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def preflight(workload):
    """Every input the workload reads, and an expected fingerprint for
    every gate, must exist before the first call."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "Graft.scala")):
        fail("graft's sources (src/main/scala) are not in %s" % ROOT)
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    for t in TABLES:
        path = os.path.join(DATA, t + ".parquet")
        if not os.path.exists(path):
            fail("input missing for %s: %s" % (workload, os.path.relpath(path, ROOT)))
    expected = read_expected()
    missing = [g for g in WORKLOADS[workload] if g not in expected]
    if missing:
        fail("no expected fingerprint in perfbench/expected.tsv for " + ", ".join(missing))


def read_expected():
    path = os.path.join(HERE, "expected.tsv")
    if not os.path.exists(path):
        return {}
    rows = (l.rstrip("\n").split("\t") for l in open(path) if l.strip()
            and not l.startswith("#"))
    return {r[0]: (int(r[1]), r[2]) for r in rows}


def sources_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    h.update(open(p, "rb").read())
    h.update(open(os.path.join(HERE, "build.sbt"), "rb").read())
    return h.hexdigest()


def build():
    """Classpath of the built harness; builds when the sources changed."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        saved_stamp, cp = open(cp_file).read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
        if os.path.exists(repos) else ""))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        # sbt's server socket and temp files stay in the build directory
        tmp = os.path.join(BUILD, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "-Dsbt.server.autostart=false", "-Djava.io.tmpdir=" + tmp,
                              "-J-XX:-UsePerfData",
                              "compile", "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if "target/scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (log: %s)" % os.path.relpath(log, ROOT))
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


def run_harness(cp, workload, seed, timed, seconds, trace, record, deadline):
    """Runs one harness JVM and returns its run record."""
    runs = os.path.join(BUILD, "runs")
    work = os.path.join(runs, "%s-%d-%d" % (workload, seed, trace))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + tmp,
           "-Dderby.system.home=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for m in JVM_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness",
            "--workload", workload, "--data", DATA,
            "--gates", ",".join(WORKLOADS[workload]), "--seed", str(seed),
            "--warmup", str(ROUNDS[workload][0]), "--rounds", str(timed),
            "--seconds", str(seconds),
            "--trace", "1" if trace else "0",
            "--cores", str(CORES), "--expected", os.path.join(HERE, "expected.tsv"),
            "--out", out, "--record", "1" if record else "0"]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("%s did not finish in time (log: %s)" % (workload, log))
        finally:
            # nothing the JVM started outlives it
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        fail("harness exited with %d (log: %s)" % (rc, log))
    return json.load(open(out))


def report(rec, trace):
    attempted, failed = metrics.failures(rec)
    for c in rec["calls"]:
        if "error" in c:
            print("FAILED %s (%s): %s" % (c["gate"], c["id"], c["error"]))
    print("calls: %d attempted, %d failed, failed_frac %.4f" % (
        attempted, failed, failed / float(attempted)))
    if trace:
        values = metrics.per_layer(rec)
        notes = {}
        spans = metrics.spans(rec)
        path = os.path.join(BUILD, "trace", "%s-%d.json" % (rec["workload"], rec["seed"]))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{k: v for k, v in s.items() if k != "children"} for s in spans], f)
        print("spans: %d written to %s" % (len(spans), os.path.relpath(path, ROOT)))
        print("tracing overhead: traced round %.3f s / untraced round %.3f s = %.3f" % (
            values["trace.traced_round_s"][0], values["trace.untraced_round_s"][0],
            values["trace.overhead"][0]))
    else:
        e2e, unbounded = metrics.end_to_end(rec)
        values = {k: (v, u) for k, (v, u, _) in e2e.items()}
        notes = {k: n for k, (_, _, n) in e2e.items()}
        for k, (v, u, n) in unbounded.items():
            print("not bounded: %s %.6f %s, %s" % (k, v, u, n))
        print("not bounded: peak RSS (VmHWM) %.1f MB, live heap after the run %.1f MB" % (
            rec["peak_rss_mb"], rec["live_heap_mb"]))
    for k in sorted(values):
        v, u = values[k]
        print("%-40s %14.6f %-6s %s" % (k, v, u, notes.get(k, "")))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}


def record_expected(cp):
    """Runs each workload's warm-up and one timed round and writes the
    fingerprints to expected.tsv; both rounds must agree."""
    lines = []
    for w in WORKLOADS:
        rec = run_harness(cp, w, 1, 1, 600, False, True, time.time() + 600)
        prints = {}
        for c in rec["calls"]:
            if "error" in c:
                fail("%s failed while recording: %s" % (c["gate"], c["error"]))
            prints.setdefault(c["gate"], set()).add((c["rows"], c["hash"]))
        for g in sorted(prints):
            if len(prints[g]) != 1:
                fail("%s is not deterministic: %s" % (g, sorted(prints[g])))
            (n, h), = prints[g]
            lines.append("%s\t%d\t%s" % (g, n, h))
    with open(os.path.join(HERE, "expected.tsv"), "w") as f:
        f.write("# gate\trows\thash -- written by run.py --record\n")
        f.write("\n".join(sorted(set(lines))) + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS),
                    help="one workload; all of them, one after another, when omitted")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if a.record:
        cp = build()
        record_expected(cp)
        return
    workloads = [a.workload] if a.workload else list(WORKLOADS)
    for w in workloads:
        preflight(w)
    cp = build()
    for w in workloads:
        if len(workloads) > 1:
            print("== %s, seed %d" % (w, a.seed))
        rec = run_harness(cp, w, a.seed, ROUNDS[w][1], a.seconds, a.trace == 1,
                          False, time.time() + DEADLINE_S)
        print(json.dumps(report(rec, a.trace == 1)))
        sys.stdout.flush()


if __name__ == "__main__":
    main()
