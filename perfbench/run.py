#!/usr/bin/env python3
"""Benchmark of the graft engine: the batch pipeline and the streaming
Gold flow, timed end to end and counted per layer.

    python3 perfbench/run.py --workload <pipeline_batch|stream_gold>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under
perfbench/.build; later runs start the JVM directly. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). See
perfbench/README.md for what each workload and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("pipeline_batch", "stream_gold")
# the queries pipeline_batch runs after its pipeline iterations
QUERIES = ("q10_daily_sales", "q21_join_multi", "q31_running_total", "q93_incremental_mv")
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout
    kill the whole group and wait again. Returns the exit code, or None
    on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def sources_fingerprint():
    """Hash of every build input: a changed source triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build once per checkout with sbt; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a full checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    fp = sources_fingerprint()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("fingerprint") == fp and all(os.path.exists(p) for p in c["cp"]):
            return c["cp"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export perfbench/Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    with open(log, errors="replace") as f:
        lines = f.read().splitlines()
    out_lines = [ln for ln in lines if ".jar" in ln and not ln.startswith("[")]
    if code != 0 or not out_lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed; see {log}")
    cp = out_lines[-1].strip().split(os.pathsep)
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "cp": cp}, f)
    return cp


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    env["GRAFT_STAGE_DIR"] = os.path.join(run_dir, "stage")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           f"-Dderby.system.home={run_dir}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        code = run_child(cmd, JVM_TIMEOUT_S, cwd=run_dir, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("the harness JVM " + ("timed out" if code is None else f"exited with {code}"))


def med(samples, key, default=0.0):
    xs = samples.get(key) or []
    return stats.median(xs) if xs else default


def last(samples, key):
    xs = samples.get(key) or []
    return xs[-1] if xs else 0.0


def end_to_end(workload, raw):
    s = raw["samples"]
    if workload == "pipeline_batch":
        lat = med(s, "unit_wall_s")
        thr = med(s, "events_per_unit") / lat
    else:
        lat = raw["stream"]["silver"]["freshness_p50_s"]
        thr = raw["stream"]["capacity_eps"]
    return {
        "setup_s": (med(s, "setup.repeated_s") + med(s, "setup.warmup_s"), "s"),
        "throughput_per_s": (thr, "1/s"),
        "latency_p50_s": (lat, "s"),
        "live_heap_mb": (min(s["live_heap_mb"]), "MB"),
    }


def counts_repeat(workload, s):
    """Self-check: jobs, stages and tasks of every traced pipeline run,
    and jobs and tasks of every traced query, repeat. A micro-batch's
    size varies by design, so stream_gold has no such check."""
    if workload == "stream_gold":
        return True
    keys = ["workload.jobs", "workload.stages", "workload.tasks"]
    keys += [f"queries.{q}.{k}" for q in QUERIES for k in ("jobs", "tasks")]
    return all(len(set(s.get(k, []))) <= 1 for k in keys)


def per_layer(workload, raw):
    s = raw["samples"]
    st = raw.get("stream", {})
    merges = s.get("gold.merge_s") or [0.0]
    batches = s.get("streaming.batch_s") or [0.0]
    fresh = st.get("freshness") or [0.0]
    traced, untraced = s.get("traced_wall_s"), s.get("untraced_wall_s")
    overhead = stats.median(traced) - stats.median(untraced) if traced and untraced else 0.0
    m = {
        "error_rate": (raw["failed"] / max(1, raw["attempted"]), "ratio"),
        "selfcheck.counts_repeat": (1.0 if counts_repeat(workload, s) else 0.0, "bool"),
        "trace.overhead_s": (overhead, "s"),
        "trace.coverage": (raw.get("trace_coverage", 0.0), "ratio"),
    }
    for k in ("jobs", "stages", "tasks"):
        m[f"workload.{k}"] = (med(s, f"workload.{k}"), "count")
    m["workload.task_s"] = (med(s, "workload.task_s"), "s")
    m["workload.cpu_util"] = (med(s, "workload.cpu_util"), "ratio")
    for k in ("generator.generate_s", "generator.to_json_s", "ingest.step_s",
              "ingest.task_s", "gold.fact_step_s", "analytics.score_s",
              "pipeline.overhead_s"):
        m[k] = (med(s, k), "s")
    m["ingest.jobs"] = (med(s, "ingest.jobs"), "count")
    m["ingest.bytes_written_per_event"] = (med(s, "ingest.bytes_written_per_event"), "B/event")
    m["ingest.feed_rows_read_per_event"] = (med(s, "ingest.feed_rows_read_per_event"), "rows/event")
    events = med(s, "events_per_unit")
    m["storage.bytes_per_event"] = (med(s, "storage_bytes") / events if events else 0.0, "B/event")
    m["gold.merge_p50_s"] = (stats.median(merges), "s")
    m["gold.merge_tail_s"] = (stats.tail(merges)[1], "s")
    m["gold.merge_jobs"] = (med(s, "gold.merge_jobs"), "count")
    m["gold.files_per_commit"] = (med(s, "gold.files_per_commit"), "count")
    m["gold.write_amplification"] = (st.get("write_amplification", 0.0), "ratio")
    m["streaming.batch_p50_s"] = (stats.median(batches), "s")
    m["streaming.batch_tail_s"] = (stats.tail(batches)[1], "s")
    m["streaming.rows_per_batch"] = (stats.median(st["rows_per_batch"]) if st.get("rows_per_batch") else 0.0, "rows")
    m["streaming.backlog_files"] = (stats.median(st["backlog"]) if st.get("backlog") else 0.0, "count")
    m["streaming.generator_lag_s"] = (med(s, "streaming.generator_lag_s"), "s")
    m["streaming.freshness_p50_s"] = (stats.median(fresh), "s")
    m["streaming.silver_freshness_p50_s"] = (st["silver"]["freshness_p50_s"] if st else 0.0, "s")
    m["streaming.freshness_tail_s"] = (stats.tail(fresh)[1], "s")
    m["streaming.capacity_eps"] = (st.get("capacity_eps", 0.0), "1/s")
    m["streaming.backlog_growing"] = (1.0 if st.get("backlog_growing") else 0.0, "bool")
    # the times of the last, warm query pass
    m["queries.pass_s"] = (last(s, "queries.pass_s"), "s")
    for q in QUERIES:
        m[f"queries.{q}.s"] = (last(s, f"queries.{q}.s"), "s")
        for k, unit in (("jobs", "count"), ("tasks", "count"),
                        ("shuffle_bytes", "B"), ("spill_bytes", "B")):
            m[f"queries.{q}.{k}"] = (med(s, f"queries.{q}.{k}"), unit)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    cp = classpath()
    run_dir = os.path.join(WORK, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw_path = os.path.join(run_dir, "raw.json")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--work", os.path.join(run_dir, "data"), "--out", raw_path], run_dir)
        with open(raw_path) as f:
            raw = json.load(f)
        shutil.copy(raw_path, os.path.join(WORK, f"raw-{a.workload}.json"))
        if a.workload == "stream_gold":
            import stream_metrics
            raw["stream"] = stream_metrics.compute(raw)
            raw["attempted"] += raw["stream"]["attempted"]
            raw["failed"] += raw["stream"]["failed"]
        if a.trace:
            import tracefile
            raw["trace_coverage"] = tracefile.write(raw, a.workload,
                                                os.path.join(WORK, f"trace-{a.workload}.json"))
        metrics = per_layer(a.workload, raw) if a.trace else end_to_end(a.workload, raw)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for why in raw.get("failures", []):
        print(f"perfbench: check failed: {why}", file=sys.stderr)
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
