#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 5 --trace 0

Run from the repository root.  The first run builds the program and the
benchmark's JVM runner from source with sbt (offline); later runs reuse the build
while the sources are unchanged.  Inputs are generated from --seed, one JVM
runs the workload as a closed-loop client, every output is checked, and the
last stdout line is the result: {"correct", "attempted", "failed",
"metrics"}.  The line before it is the full report (per call kind, host
noise, reference-contract figures).  Everything the run writes stays under
.bench_build/ and .bench_work/ in the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
# class-data-sharing archive of the JVM's loaded classes: the first run after
# a build writes it as it exits, later runs map classes from it instead of
# loading them from the jars (JVM start-up only; the program runs the same)
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
TIME_LIMIT_S = 170
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def source_stamp():
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        path = os.path.join(ROOT, top)
        paths = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def snapshot_classes(cp):
    """the classpath with each class directory replaced by a jar of it in
    .bench_build/: the runs then read a snapshot of the build, which a later
    build writing to the same directories cannot change, and the JVM can
    map every class from a class-data-sharing archive (it archives classes
    from jars only)"""
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(BUILD, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, dirs, fs in os.walk(entry):
                    dirs.sort()
                    for f in sorted(fs):
                        z.write(os.path.join(d, f),
                                os.path.relpath(os.path.join(d, f), entry))
            entry = jar
        entries.append(entry)
    return os.pathsep.join(entries)


def build():
    """Compile the program and the runner; return the JVM classpath."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found; run from the repository root")
    sources = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.json")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if json.load(f) == {"sources": sources}:
                with open(cp_file) as f:
                    return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            text=True, timeout=800)
    lines = proc.stdout.strip().splitlines()
    with open(os.path.join(BUILD, "sbt.log"), "a") as log:
        log.write(proc.stdout)
    if proc.returncode != 0 or not lines:
        sys.exit("perfbench: build failed, see .bench_build/sbt.log")
    cp = snapshot_classes(lines[-1].strip())
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        json.dump({"sources": sources}, f)
    return cp


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals


def host_noise(before, after):
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total,
            "iowait_pct": 100.0 * d[4] / total}


def run_jvm(cp, work, seconds, trace, deadline):
    have_cds = os.path.exists(CDS_ARCHIVE)
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if have_cds
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}.part")
    cmd = ["java", *[f"--add-opens={p}=ALL-UNNAMED" for p in JDK_OPENS], cds,
           f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/spark-local",
           "-cp", cp, "perfbench.Main", work, str(seconds), str(trace)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit("perfbench: the JVM did not finish in time")
    if rc != 0:
        sys.exit(f"perfbench: the JVM exited with {rc}, see {work}/jvm.log")
    if not have_cds and os.path.exists(CDS_ARCHIVE + ".part"):
        os.replace(CDS_ARCHIVE + ".part", CDS_ARCHIVE)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def quantile(xs, q):
    """nearest-rank quantile"""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def kind_stats(calls):
    by = {}
    for c in calls:
        by.setdefault(c["kind"], []).append(c["ms"])
    return {k: {"n": len(v), "mean_ms": statistics.fmean(v),
                "p50_ms": statistics.median(v), "p90_ms": quantile(v, 0.9),
                "p95_ms": quantile(v, 0.95)}
            for k, v in by.items()}


def shape_of(op):
    """(kind, variant) of a serve_read call, as the runner labels it"""
    if op["kind"] != "query_filtered":
        return op["kind"], ""
    return op["kind"], next(v for v in ("grouping", "maxFiles", "scope") if v in op)


def session_counts(spec):
    """calls of each shape (kind, variant) in one canonical session of the
    workload: one cycle (round)"""
    counts = {}
    if spec["workload"] == "serve_read":
        shapes = [shape_of(op) for op in spec["cycles"][0]]
    else:
        shapes = [(k, "") for k in ("sync_noop", "sync_small", "sync_bulk")]
        for m in spec["rounds"][0]["mutations"]:
            shapes += [("mutate", m["kind"]), ("query", "after_" + m["kind"])]
    for s in shapes:
        counts[s] = counts.get(s, 0) + 1
    return counts


def shape_medians(calls):
    by = {}
    for c in calls:
        by.setdefault((c["kind"], c["variant"]), []).append(c["ms"])
    return {s: statistics.median(v) for s, v in by.items()}


def session_s(medians, counts):
    """wall of one canonical session: each shape's median latency times its
    calls per session.  Weighting shapes, not the calls that ran, keeps a
    partly run last cycle from shifting the figure."""
    return sum(n * medians[s] for s, n in counts.items()) / 1000


def geomean_ms(medians, counts):
    """geometric mean over call kinds of each kind's latency (the median of
    each of its shapes, weighted as in a session), so every kind counts
    equally however long its calls take"""
    logs = []
    for kind in {k for k, _ in counts}:
        shapes = {s: n for s, n in counts.items() if s[0] == kind}
        ms = sum(n * medians[s] for s, n in shapes.items()) / sum(shapes.values())
        logs.append(math.log(ms))
    return math.exp(statistics.fmean(logs))


def kind_figures(stats):
    """the per-call-kind figures under their workload names"""
    out = {}
    ms = {"query": ["p50", "p90"], "query_filtered": ["p50"],
          "neighbors": ["p50", "p90"], "list_files": ["p50"],
          "mutate": ["p50"]}
    for kind, qs in ms.items():
        for q in qs:
            if kind in stats:
                out[f"{kind}_{q}_ms"] = stats[kind][f"{q}_ms"]
    for kind in ("sync_noop", "sync_small", "sync_bulk"):
        if kind in stats:
            out[f"{kind}_s"] = stats[kind]["p50_ms"] / 1000
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    cp = build()
    deadline = time.time() + TIME_LIMIT_S

    t_setup = time.time()
    work = os.path.join(WORK, args.workload + ("-trace" if args.trace else ""))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = gen.write_inputs(args.workload, args.seed, work, bool(args.trace))
    cpu0 = cpu_times()
    res = run_jvm(cp, work, args.seconds, args.trace, deadline)
    noise = host_noise(cpu0, cpu_times())

    failures = checks.check_calls(spec, res)
    calls = res["calls"]
    attempted = len(calls)
    failed = len(failures)
    timed = [c for c in calls if c["phase"] == "timed"]
    stats = kind_stats(timed)
    counts = session_counts(spec)
    medians = shape_medians(timed)
    e2e = {
        "setup_s": ("s", res["first_call_ms"] / 1000 - t_setup),
        "session_s": ("s", session_s(medians, counts)),
        "call_geomean_ms": ("ms", geomean_ms(medians, counts)),
        "retained_heap_mb": ("MB", res["retained_heap_mb"]),
    }
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "sources": source_stamp(),
        "kinds": stats,
        "session_counts": {"/".join(k).rstrip("/"): n for k, n in counts.items()},
        "error_pct": 100.0 * failed / attempted,
        "failures": failures[:20],
        "warm_iterations": res["warm_iterations"],
        "timed_cycles": res["timed_cycles"],
        "warm_s": [ms / 1000 for ms in res["warm_ms"]],
        "session_start_s": res["session_ms"] / 1000,
        "store_build_s": res.get("store_build_ms", 0) / 1000,
        "nproc": os.cpu_count(), "spark_threads": res["spark_threads"],
        "heap_max_mb": res["heap_max_mb"],
        "peak_rss_mb": res["rss_hwm_kb"] / 1024,
        **noise,
        **{k: v for k, (_, v) in e2e.items()},
        **kind_figures(stats),
    }
    if args.workload == "sync_write":
        # the process's first sync, in set-up: it builds the store
        report["sync_cold_s"] = res["store_build_ms"] / 1000
    if args.workload == "serve_read":
        # scoped queries the IVF route answered with no rows (not failures)
        report["scoped_empty_queries"] = sum(
            1 for c in calls if c["out"].get("scope") and not c["out"].get("rows")
            and "error" not in c)
        nb = stats["neighbors"]
        report["contract.neighbors_p95_ms"] = nb["p95_ms"]
        report["contract.neighbors_p95_n"] = nb["n"]
        report["contract.neighbors_p95_under_100ms"] = nb["p95_ms"] < 100
    if args.trace:
        metrics = layers.per_layer(res, timed, work)
        report["trace"] = metrics.pop("_detail")
        report["spans_file"] = os.path.relpath(
            os.path.join(work, "spans.jsonl"), ROOT)
        # tracing overhead: this run traces every timed call, so its session
        # over that of the untraced run of the same seed and sources (when
        # that run's report is still in the checkout) is the overhead
        metrics["trace.session_s"] = {"value": e2e["session_s"][1], "unit": "s"}
        base_file = os.path.join(WORK, args.workload, "report.json")
        if os.path.exists(base_file):
            with open(base_file) as f:
                base = json.load(f)
            if (base.get("seed"), base.get("sources")) == (args.seed, report["sources"]):
                report["trace"]["overhead_vs_untraced_run_pct"] = 100.0 * (
                    e2e["session_s"][1] / base["session_s"] - 1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (u, v) in e2e.items()}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
