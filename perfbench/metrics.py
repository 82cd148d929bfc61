"""Pure arithmetic of the benchmark: percentiles, span self time, open-loop
latency accounting, listener aggregates and output checks. Every function
takes plain lists and dicts, so the tests in test_metrics.py run without a
JVM."""
import math
import statistics

MIN_BEYOND = 10


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def percentile(xs, p, min_beyond=MIN_BEYOND):
    """Nearest-rank p-th percentile (0 < p < 100), or None unless at least
    `min_beyond` samples lie beyond it."""
    xs = sorted(xs)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. Returns {span id: self ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) -
            union_ms(children.get(s["id"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def chunk_latencies(chunks, batches):
    """Open-loop latency of each chunk: from the time it was due to be sent
    to the completion of the first micro-batch whose end offset covers it.
    `chunks` are (due_ms, sent_ms, offset, events); `batches` carry
    end_offset and done_ms. A chunk no batch covered gets None."""
    done = sorted((b["done_ms"], b["end_offset"]) for b in batches)
    out = []
    for due, sent, offset, _ in chunks:
        t = next((d for d, end in done if end >= offset and d >= sent), None)
        out.append(None if t is None else t - due)
    return out


def backlog_events(chunks, batches, at_ms):
    """Events sent by `at_ms` that no micro-batch completed by then covers."""
    covered = max([b["end_offset"] for b in batches if b["done_ms"] <= at_ms], default=-1)
    return sum(ev for _, sent, off, ev in chunks if sent <= at_ms and off > covered)


def exec_layers(probe, lo, hi, cores):
    """Task-execution, shuffle and scan aggregates over the window [lo, hi]
    (epoch ms) from the SparkListener records."""
    tasks = [t for t in probe["tasks"] if lo <= t[1] <= hi]
    jobs = [j for j in probe["jobs"] if lo <= j["start_ms"] <= hi]
    stages = [s for s in probe["stages"] if lo <= s[2] <= hi]
    col = lambda i: [t[i] for t in tasks]
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t[0], []).append(t[2])
    skews = [max(v) / statistics.median(v) for v in by_stage.values()
             if len(v) >= 2 and statistics.median(v) > 0]
    wall_ms = max(hi - lo, 1e-9)
    mb = 1048576.0
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(tasks),
        "exec.failed_tasks": sum(1 for t in tasks if not t[12]),
        "exec.task_run_s": sum(col(2)) / 1e3,
        "exec.task_cpu_s": sum(col(3)) / 1e9,
        "exec.gc_s": sum(col(4)) / 1e3,
        "exec.busy_share": sum(col(2)) / (wall_ms * cores),
        "exec.task_max_over_p50": median(skews) or 0.0,
        "exec.driver_gap_s": (wall_ms - union_ms(
            [(j["start_ms"], j["end_ms"]) for j in jobs], lo, hi)) / 1e3,
        "shuffle.write_mb": sum(col(5)) / mb,
        "shuffle.read_mb": sum(col(6)) / mb,
        "shuffle.fetch_wait_s": sum(col(7)) / 1e3,
        "shuffle.spill_mb": sum(col(8)) / mb,
        "shuffle.peak_task_mem_mb": max(col(9), default=0) / mb,
        "sources.scan_mb": sum(col(10)) / mb,
        "sources.scan_rows": sum(col(11)),
    }


def plan_layers(probe, lo, hi, operations):
    """Catalyst phase time per measured operation over [lo, hi]."""
    ph = [p for p in probe["phases"] if lo <= p["at_ms"] <= hi]
    n = max(operations, 1)
    return {f"plans.{k}_ms": sum(p[k] for p in ph) / n
            for k in ("analysis", "optimization", "planning")}


def stream_layers(run):
    """Per-batch streaming and state-store metrics of one traced stream run."""
    bs = run["batches"]
    data = [b for b in bs if b.get("rows", 0) > 0]
    dur = lambda k: median([b["durations"].get(k, 0) for b in data]) or 0.0
    state = lambda b, k: sum(op[k] for op in b["state"])
    lo, hi = run["steady_start_ms"], run["steady_end_ms"]
    busy = union_ms([(b["start_ms"], b["start_ms"] + b["durations"].get("triggerExecution", 0))
                     for b in bs], lo, hi)
    chunks = run["chunks"]
    late = [sent - due for due, sent, _, _ in chunks]
    late_p95 = percentile(late, 95)
    last = bs[-1] if bs else {"state": []}
    return {
        "streaming.batches": len(bs),
        "streaming.rows_per_batch_p50": median([b["rows"] for b in data]) or 0.0,
        "streaming.latest_offset_ms": dur("latestOffset"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.idle_share": 1.0 - busy / max(hi - lo, 1e-9),
        "streaming.backlog_max_events": max(
            [backlog_events(chunks, bs, c[1]) for c in chunks], default=0),
        "streaming.backlog_end_events": backlog_events(chunks, bs, hi),
        "streaming.generator_late_p95_ms": max(late, default=0.0) if late_p95 is None else late_p95,
        "state.rows_total": state(last, "rows_total") if last["state"] else 0,
        "state.memory_mb": (state(last, "memory_bytes") if last["state"] else 0) / 1048576.0,
        "state.commit_ms": median([state(b, "commit_ms") for b in data]) or 0.0,
        "state.updates_ms": median([state(b, "updates_ms") for b in data]) or 0.0,
        "state.removals_ms": median([state(b, "removals_ms") for b in data]) or 0.0,
        "state.dropped_by_watermark": sum(state(b, "dropped") for b in bs),
    }


def rows_equal(got, expected):
    """Exact multiset equality of result rows (lists of values)."""
    key = lambda r: tuple(map(str, r))
    return sorted(map(tuple, got), key=key) == sorted(map(tuple, expected), key=key)


def check_stream(run):
    """The stream's final totals equal the reference over the delivered
    events without the planted late ones, and the watermark dropped exactly
    the planted late events."""
    problems = []
    if not rows_equal(run["output"], run["expected"]):
        problems.append("daily totals differ from the reference")
    if run["dropped_by_watermark"] != run["late_delivered"]:
        problems.append(f"watermark dropped {run['dropped_by_watermark']} rows, "
                        f"{run['late_delivered']} late events were planted")
    return problems
