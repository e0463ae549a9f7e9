#!/usr/bin/env python3
"""Benchmark of the FDR -> OCSF lake path.

    python3 fdrbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (into fdrbench/target); later runs reuse
the build while no source file changed. Each run starts one JVM with
Spark at local[nproc], generates the seeded corpus, sets up, measures
for --seconds, checks the outputs, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the run's spans to fdrbench/traces/). See README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import checks

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("stream_catchup", "lake_query")

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "op_ms_p50": "ms",
    "op_ms_p90": "ms",
    "cpu_s": "s",
    "lake_bytes_per_event": "B",
    "peak_rss_mb": "MB",
}

TABLES = [
    "process_activity", "network_activity", "device_config_state", "http_activity",
    "file_system_activity", "dns_activity", "file_hosting_activity", "authentication",
    "module_activity", "extapi", "detection_finding", "operating_system_patch_state",
    "application_lifecycle",
]
QUERIES = ["completeness", "proc_days", "dns_family", "http_errors", "auth_users",
           "net_direction", "observables", "day_classes", "extapi",
           "window_0", "window_1", "window_2"]
SPANS = ["cache", "fanout", "sink.compact", "stream.drain", "stream.trigger",
         "lake.build", "tables.load", "query"]

PER_LAYER = dict(
    [("sources.parse_ms", "ms"), ("sources.lines", "count"), ("sources.gz_bytes", "B"),
     ("classify.ms", "ms"), ("classify.kept_ratio", "ratio")]
    + [("classify.quarantined." + r, "count")
       for r in ("unparseable_json", "missing_event_key", "unmapped_event")]
    + [("cache.ms", "ms"), ("cache.partitions", "count"), ("cache.bytes", "B"),
       ("fanout.ms", "ms")]
    + [("fanout.route_ms." + t, "ms") for t in TABLES]
    + [("fanout.jobs", "count"), ("fanout.stages", "count"), ("fanout.tasks", "count"),
       ("fanout.useful_task_ratio", "ratio"), ("fanout.task_deser_s", "s"),
       ("fanout.executor_run_s", "s"), ("fanout.executor_cpu_s", "s"), ("fanout.gc_s", "s"),
       ("fanout.shuffle_write_bytes", "B"), ("fanout.shuffle_read_bytes", "B"),
       ("fanout.spill_bytes", "B"),
       ("sink.commit_ms", "ms"), ("sink.files", "count"), ("sink.bytes", "B"),
       ("sink.rows", "count"), ("sink.compact_ms", "ms"),
       ("stream.latest_offset_ms", "ms"), ("stream.query_planning_ms", "ms"),
       ("stream.add_batch_ms", "ms"), ("stream.wal_commit_ms", "ms"),
       ("stream.commit_offsets_ms", "ms"), ("stream.rows_per_trigger", "count"),
       ("stream.triggers", "count"),
       ("tables.load_ms", "ms"), ("stats.prune_ms", "ms"), ("stats.files_kept_ratio", "ratio")]
    + [("query.ms." + q, "ms") for q in QUERIES]
    + [("query.tasks", "count"), ("query.executor_cpu_s", "s"), ("query.input_bytes", "B")]
    + [("self_ms." + s, "ms") for s in SPANS]
    + [("trace.events_per_s", "1/s"), ("trace.op_ms_p50", "ms"), ("trace.setup_s", "s"),
       ("trace.spans", "count")])

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print("[fdrbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build: the program's main sources and
    the harness with its build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the repository's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def ensure_build():
    """Builds with sbt when the sources changed; returns the classpath."""
    stamp = os.path.join(BENCH, "target", "fdrbench-classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    log("building program and harness with sbt")
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["FDRBENCH_SPARK_JARS"] = spark_jars()
    # keep the build's scratch files inside the checkout
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Djava.io.tmpdir=" + tmp +
                       " -XX:-UsePerfData").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    sys.stderr.write("\n".join(l for l in proc.stdout.splitlines() if os.pathsep not in l) + "\n")
    cp = [l for l in proc.stdout.splitlines() if "fdrbench" in l and os.pathsep in l]
    if proc.returncode != 0 or not cp:
        raise RuntimeError("sbt build failed (exit %d)" % proc.returncode)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


def run_jvm(cp, args, work, trace_file):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    # a fixed, pre-touched heap: peak RSS then moves with what the
    # program holds outside the heap, not with when the GC ran
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "fdrbench.Harness",
            args.workload, str(args.seed), str(args.seconds), str(args.trace), work, trace_file]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        log("the program's sources and build.sbt are not next to this benchmark")
        return 2
    t_build = time.time()
    cp = ensure_build()
    log("build check took %.1f s" % (time.time() - t_build))

    work = os.path.join(BENCH, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(BENCH, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_file = os.path.join(trace_dir, "%s-seed%d.jsonl" % (args.workload, args.seed))
    try:
        t0 = time.time()
        code = run_jvm(cp, args, work, trace_file)
        log("jvm exited %d after %.1f s" % (code, time.time() - t0))
        result_path = os.path.join(work, "result.json")
        if not os.path.exists(result_path):
            log("no result written")
            return 1
        with open(result_path) as f:
            res = json.load(f)
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        t1 = time.time()
        outside = []
        if os.path.exists(os.path.join(work, "ledger.json")):
            outside += checks.lake(work)
        if os.path.exists(os.path.join(work, "answers.json")):
            outside += checks.oracle(work)
        log("checks took %.1f s; timed region %.1f s, %s operation samples"
            % (time.time() - t1, res.get("timed_s") or 0, res.get("op_samples")))
        for name, ok, detail in outside:
            attempted += 1
            if not ok:
                failed += 1
                failures.append("%s %s" % (name, detail))
        for f_ in failures:
            log("FAILED " + f_)
        if args.trace:
            layer = res.get("layer", {})
            layer["trace.events_per_s"] = res.get("events_per_s")
            layer["trace.op_ms_p50"] = res.get("op_ms_p50")
            layer["trace.setup_s"] = res.get("setup_s")
            metrics = {k: {"value": _num(layer.get(k)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": _num(res.get(k)), "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _num(v):
    """Metric value; a layer the workload does not exercise reads 0."""
    if v is None or (isinstance(v, float) and v != v):
        return 0.0
    return v


if __name__ == "__main__":
    sys.exit(main())
