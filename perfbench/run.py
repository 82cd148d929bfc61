#!/usr/bin/env python3
"""graft's benchmark: the spending pipeline as a stream (spend_stream) and as
a bulk job (spend_bulk), plus a fixed batch-query suite (batch_suite).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under .perfbench/,
keyed by a digest of the sources. Each run starts one JVM on
local[<nproc>], which builds the session three times (reporting medians),
makes the inputs, warms up, measures for --seconds and writes its raw
measurements; this script turns
them into metrics, checks every output and prints, as its last line, one
JSON object with the keys correct, attempted, failed and metrics.
--trace 0 reports the end-to-end metrics; --trace 1 repeats the measurement
with Spark's listeners attached and reports the per-layer metrics, the span
self times and the tracing overhead. A full report of each run is written
to .perfbench/reports/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("spend_stream", "spend_bulk", "batch_suite")
HEAP = "2g"
# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# org.apache.spark.launcher.JavaModuleOptions lists (the root build.sbt
# passes the same set to forked runs).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "throughput": "1/s", "latency_p50_ms": "ms", "peak_rss_mb": "MB"}
PER_LAYER = {
    "setup.session_s": "s", "setup.extensions_s": "s", "setup.inputs_s": "s", "setup.warmup_s": "s",
    "plans.analysis_ms": "ms", "plans.optimization_ms": "ms", "plans.planning_ms": "ms",
    "operators.parse_eps": "events/s", "operators.bulk_parse_s": "s",
    "operators.bulk_dedupe_s": "s", "operators.dedup_kept_share": "ratio",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "rows",
    "streaming.latest_offset_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.idle_share": "ratio", "streaming.backlog_max_events": "events",
    "streaming.backlog_end_events": "events", "streaming.generator_late_p95_ms": "ms",
    "streaming.drain_eps_1core": "events/s",
    "state.rows_total": "rows", "state.memory_mb": "MB", "state.commit_ms": "ms",
    "state.updates_ms": "ms", "state.removals_ms": "ms", "state.dropped_by_watermark": "rows",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.busy_share": "ratio", "exec.task_max_over_p50": "ratio",
    "exec.driver_gap_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB", "shuffle.peak_task_mem_mb": "MB",
    "sources.scan_mb": "MB", "sources.scan_rows": "rows",
    "stream.drain_eps": "events/s", "stream.e2e_p50_ms": "ms", "stream.e2e_p95_ms": "ms",
    "bulk.eps": "events/s",
    "trace.overhead_throughput": "ratio", "trace.overhead_latency_p50": "ratio",
    "calib.probe_start_ms": "ms", "calib.probe_end_ms": "ms",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Compiles the engine and the harness unless the last build was of the
    same sources, and returns the runtime classpath."""
    cached = os.path.join(STATE, "build", "classpath.txt")
    if os.path.exists(cached):
        with open(cached) as f:
            built_digest, cp = f.read().split("\n", 1)
        if built_digest == digest:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=700)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cached), exist_ok=True)
    with open(cached, "w") as f:
        f.write(digest + "\n" + lines[-1].strip())
    return lines[-1].strip()


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_jvm(cp, work, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap size keeps peak RSS from following the collector's
    # resizing decisions
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for o in OPENS:
        cmd += ["--add-opens", f"java.base/{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the JVM exited with {p.returncode}")
    with open(os.path.join(work, "raw.json")) as f:
        return json.load(f)


def headline(workload, m):
    """The workload's end-to-end figures from one measurement: a generic
    triple (throughput, latency_p50_ms, named figures) per workload."""
    if workload == "spend_stream":
        lat = [x for x in M.chunk_latencies(m["chunks"], m["batches"]) if x is not None]
        eps = M.median([d["events"] / d["seconds"] for d in m["drains"]])
        p50 = M.median(lat)
        named = {"stream.drain_eps": eps, "stream.e2e_p50_ms": p50,
                 "stream.e2e_p95_ms": M.percentile(lat, 95), "stream.e2e_samples": len(lat)}
        return eps, p50, named
    if workload == "spend_bulk":
        job = M.median(m["seconds"])
        eps = m["events"] / job
        return eps, job * 1e3, {"bulk.eps": eps}
    per_row = {}
    for name, _, secs, err in m["samples"]:
        if err is None:
            per_row.setdefault(name, []).append(secs)
    row_medians = {n: M.median(v) for n, v in per_row.items()}
    suite = sum(row_medians.values())
    p50 = M.median(list(row_medians.values()))
    return len(row_medians) / suite, p50 * 1e3, {
        "batch.suite_s": suite, "batch.query_p50_s": p50, "batch.row_median_s": row_medians}


def check(workload, raw):
    """Returns (problems, operations to count as failed because of them)."""
    problems, wrong_ops = [], 0
    if workload == "spend_stream":
        for tag in ("untraced", "traced", "untraced2"):
            if tag in raw:
                ps = M.check_stream(raw[tag])
                problems += [f"{tag}: {p}" for p in ps]
                if ps:
                    wrong_ops += len(raw[tag]["drains"]) + len(raw[tag]["chunks"])
    elif workload == "spend_bulk":
        if not M.rows_equal(raw["checks"]["output"], raw["checks"]["expected"]):
            problems.append("daily totals differ from the reference")
            wrong_ops = raw["attempted"] - raw["failed"]
    else:
        import oracle
        c = raw["checks"]
        verdicts = oracle.check_rows(c["data_dir"], c["out_dir"], c["oracle_sql"], c["tables"])
        bad = {n: v for n, v in verdicts.items() if v is not None}
        bad.update({n: e for n, e in c["errors"].items() if e is not None})
        problems += [f"{n}: {v}" for n, v in sorted(bad.items())]
        for tag in ("untraced", "traced", "untraced2"):
            if tag in raw:
                wrong_ops += sum(1 for s in raw[tag]["samples"] if s[0] in bad and s[3] is None)
    return problems, wrong_ops


def per_layer(workload, raw, cores, one_core_eps):
    out = {k: 0.0 for k in PER_LAYER}
    s = raw["setup"]
    out.update({"setup.session_s": M.median(s["session_s"]),
                "setup.extensions_s": M.median(s["extensions_s"]),
                "setup.inputs_s": M.median(s["inputs_s"]), "setup.warmup_s": raw["warmup_s"],
                "calib.probe_start_ms": raw["calib_start_ms"],
                "calib.probe_end_ms": raw["calib_end_ms"]})
    t = raw["traced"]
    span = next(x for x in raw["spans"] if x["name"] == "measure.traced")
    lo, hi = span["start_ms"], span["end_ms"]
    ops = {"spend_stream": lambda r: len(r["drains"]) + len(r["chunks"]),
           "spend_bulk": lambda r: len(r["seconds"]),
           "batch_suite": lambda r: len(r["samples"])}[workload](t)
    out.update(M.exec_layers(raw["probe"], lo, hi, cores))
    out.update(M.plan_layers(raw["probe"], lo, hi, ops))
    thr_u, lat_u, named = headline(workload, raw["untraced"])
    thr_u2, lat_u2, _ = headline(workload, raw["untraced2"])
    thr_t, lat_t, _ = headline(workload, t)
    out.update({k: v for k, v in named.items() if k in PER_LAYER and v is not None})
    # the traced measurement sits between two untraced ones
    out["trace.overhead_throughput"] = thr_t / ((thr_u + thr_u2) / 2) - 1.0
    out["trace.overhead_latency_p50"] = lat_t / ((lat_u + lat_u2) / 2) - 1.0
    if workload == "spend_stream":
        out.update(M.stream_layers(t))
        out["operators.parse_eps"] = M.median([d["events"] / d["seconds"] for d in t["parse_drains"]])
        upd = sum(op["rows_updated"] for b in t["batches"] for op in b["state"]
                  if op["name"] == "dedupeWithinWatermark")
        rows = sum(b["rows"] for b in t["batches"])
        out["operators.dedup_kept_share"] = upd / max(rows, 1)
        out["streaming.drain_eps_1core"] = one_core_eps
    if workload == "spend_bulk":
        out["operators.bulk_parse_s"] = M.median(t["parse_s"])
        out["operators.bulk_dedupe_s"] = M.median(t["dedupe_s"])
        out["operators.dedup_kept_share"] = t["deduped_rows"] / max(t["parsed_rows"], 1)
    return out


def span_report(raw):
    """Spans of the traced run with self times: the benchmark's own spans,
    one per Spark job (parented through its job group) and one per
    micro-batch (parented to the phase it ran in)."""
    spans = [dict(s) for s in raw["spans"]]
    phases = [s for s in spans if s["name"].startswith(("stream.", "drain["))]
    for b in raw["traced"].get("batches", []):
        if "start_ms" not in b:
            continue
        start, end = b["start_ms"], b["start_ms"] + b["durations"].get("triggerExecution", 0)
        home = [p for p in phases if p["start_ms"] <= start <= p["end_ms"]]
        parent = min(home, key=lambda p: p["end_ms"] - p["start_ms"])["id"] if home else ""
        spans.append({"id": f"batch:{b['run']}:{b['batch']}", "name": "micro-batch",
                      "parent": parent, "start_ms": start, "end_ms": end})
    for j in raw["probe"]["jobs"]:
        spans.append({"id": j["id"], "name": "job", "parent": j["parent"],
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    selfs = M.self_times(spans)
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
    by_name = {}
    for s in spans:
        key = s["name"].split("[")[0].split(":")[0]
        by_name[key] = by_name.get(key, 0.0) + s["self_ms"]
    return spans, by_name


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the graft engine sources (src/main/scala/graft) are missing next to perfbench/")

    cores = len(os.sched_getaffinity(0))
    stamp = {"git_sha": git_sha(), "nproc": cores,
             "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"), "xmx": HEAP,
             "loadavg_start": loadavg()}
    digest = source_digest()
    stamp["source_digest"] = digest[:16]
    t_build = time.time()
    cp = build(digest)
    stamp["build_s"] = round(time.time() - t_build, 1)

    work = os.path.join(STATE, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores)]
    raw = run_jvm(cp, work, args, timeout=170 if a.trace == 0 else 120)
    one_core_eps = 0.0
    if a.trace == 1 and a.workload == "spend_stream":
        one = work + "-1core"
        shutil.rmtree(one, ignore_errors=True)
        os.makedirs(one)
        r1 = run_jvm(cp, one, ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                               "6", "--trace", "0", "--cores", "1", "--drain-only"], timeout=50)
        one_core_eps = M.median([d["events"] / d["seconds"] for d in r1["untraced"]["drains"]])
        shutil.rmtree(one, ignore_errors=True)
    stamp.update({"jvm": raw["jvm"], "gc": raw["gc"], "max_heap_mb": raw["max_heap_mb"],
                  "calib_start_ms": raw["calib_start_ms"], "calib_end_ms": raw["calib_end_ms"],
                  "loadavg_end": loadavg()})

    problems, wrong_ops = check(a.workload, raw)
    attempted = raw["attempted"]
    failed = min(attempted, raw["failed"] + wrong_ops)
    s = raw["setup"]
    setup_s = (M.median(s["session_s"]) + M.median(s["extensions_s"]) +
               M.median(s["inputs_s"]) + raw["warmup_s"])
    thr, lat, named = headline(a.workload, raw["untraced"])
    e2e = {"setup_s": setup_s, "throughput": thr, "latency_p50_ms": lat,
           "peak_rss_mb": raw["peak_rss_mb"]}
    report = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "stamp": stamp, "end_to_end": e2e, "named": named, "problems": problems,
              "setup_steps": dict(raw["setup"], warmup_s=raw["warmup_s"]),
              "samples": {tag: {k: v for k, v in raw[tag].items()
                                if k in ("drains", "seconds", "samples")}
                          for tag in ("untraced", "traced", "untraced2") if tag in raw},
              "attempted": attempted, "failed": failed}
    if a.trace == 1:
        layers = per_layer(a.workload, raw, cores, one_core_eps)
        spans, by_name = span_report(raw)
        report.update({"per_layer": layers, "self_ms_by_span": by_name, "spans": spans})
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
    with open(os.path.join(STATE, "reports", f"{a.workload}-{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print("stamp " + json.dumps(stamp))
    print("figures " + json.dumps({k: v for k, v in named.items() if k != "batch.row_median_s"}))
    if a.trace == 1:
        top = sorted(report["self_ms_by_span"].items(), key=lambda kv: -kv[1])[:8]
        print("self_ms " + json.dumps({k: round(v, 1) for k, v in top}))
    for p in problems:
        print(f"check failed: {p}")
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
