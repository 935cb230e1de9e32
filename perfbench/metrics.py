"""Turns the harness's raw samples and spans into the benchmark's metrics.

Kept apart from run.py so the rules can be tested without a JVM:
`python3 -m unittest discover -s perfbench -p 'test_*.py'`.
"""

import math
import statistics

MB = 1048576.0
# Spark stamps its listener events in milliseconds; the harness in µs.
CONTAIN_SLACK_US = 2000
TAIL_PERCENTILES = (99, 90, 75)
MIN_BEYOND = 10


def quantile(values, p):
    """The p-th percentile (0-100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest of the tail percentiles that has at least ten samples
    beyond it, as {"p", "value", "n"}; None when even p75 lacks them."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100.0 >= MIN_BEYOND:
            return {"p": p, "value": quantile(values, p), "n": n}
    return None


def nest(spans):
    """Give each span that arrived without a parent (Spark jobs and
    micro-batches) the innermost span that contains its start: micro-batches
    first, within any harness span, then jobs, within spans of their own
    query. Returns a dict id -> span; spans are updated in place."""
    by_id = {s["id"]: s for s in spans}
    for layer, hosts in (("microbatch", ("construct", "exec")),
                         ("job", ("construct", "plan", "exec", "microbatch"))):
        candidates = [c for c in spans if c["layer"] in hosts]
        for s in spans:
            if s["layer"] != layer or s["parent"] in by_id:
                continue
            inside = [c for c in candidates
                      if c["start_us"] - CONTAIN_SLACK_US <= s["start_us"] <= c["end_us"] + CONTAIN_SLACK_US
                      and (s["qid"] is None or c["qid"] == s["qid"])]
            if inside:
                host = min(inside, key=lambda c: c["end_us"] - c["start_us"])
                s["parent"] = host["id"]
                if s["qid"] is None:
                    s["qid"] = host["qid"]
    return by_id


def covered(intervals):
    """Total length of the union of [start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover, summed
    per layer, in seconds."""
    by_id = nest(spans)
    children = {}
    for s in spans:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        kids = [(max(c["start_us"], a), min(c["end_us"], b)) for c in children.get(s["id"], [])]
        inner = covered([k for k in kids if k[1] > k[0]])
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0, (b - a) - inner) / 1e6
    return out


def ancestors(span, by_id):
    out = []
    p = by_id.get(span["parent"])
    while p is not None:
        out.append(p)
        p = by_id.get(p["parent"])
    return out


def end_to_end(raw):
    """The metrics a user sees, from the untraced timed passes."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    execs = [e for e in raw["execs"] if not e["traced"]]
    return {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median(p["sum_s"] for p in passes),
        "query_geomean_s": math.exp(statistics.mean(math.log(e["total_s"]) for e in execs)),
        "heap_live_mb": raw["heap_live_mb"],
    }


def trace_overhead(passes):
    """Median over the traced passes of the pass time against the mean of
    the untraced passes on either side, minus one: drift over the run
    cancels instead of counting as tracing cost."""
    ratios = [p["sum_s"] / statistics.mean((passes[i - 1]["sum_s"], passes[i + 1]["sum_s"])) - 1.0
              for i, p in enumerate(passes)
              if p["traced"] and 0 < i < len(passes) - 1]
    return statistics.median(ratios)


def per_layer(raw, spans, drain_name, drain_rows):
    """Per-layer metrics, each a total over the traced passes divided by
    their number (so: per pass over the workload's list)."""
    traced = [p for p in raw["passes"] if p["traced"]]
    n = float(len(traced))
    cores = raw["env"]["cores"]
    by_id = nest(spans)
    selfs = self_times(spans)

    def layer(name):
        return [s for s in spans if s["layer"] == name]

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def total(items, key):
        return sum(s["attrs"].get(key, 0) for s in items)

    queries, stages, jobs, batches = layer("query"), layer("stage"), layer("job"), layer("microbatch")
    drain = [b for b in batches if b["attrs"].get("stream") == drain_name]
    drain_execs = [e for e in raw["execs"] if e["traced"] and e["query"] == drain_name]
    job_union = covered([(j["start_us"], j["end_us"]) for j in jobs]) / 1e6
    run_s = total(stages, "run_ms") / 1e3

    outside = 0.0
    for c in layer("construct"):
        inner = [b for b in batches if b["parent"] == c["id"]]
        if inner:
            outside += max(0.0, dur(c) - total(inner, "triggerExecution") / 1e3)

    state_rows, state_bytes = {}, {}
    for b in batches:
        run = b["attrs"].get("run_id")
        state_rows[run] = max(state_rows.get(run, 0), b["attrs"].get("state_rows", 0))
        state_bytes[run] = max(state_bytes.get(run, 0), b["attrs"].get("state_bytes", 0))

    records = total(drain, "input_rows")
    drain_s = sum(e["total_s"] for e in drain_execs)
    trigger_ms = [b["attrs"].get("triggerExecution", 0) for b in drain]

    m = {
        "operators.construct_s": sum(dur(s) for s in layer("construct")) / n,
        "operators.eager_jobs": sum(1 for j in jobs
                                    if any(a["layer"] == "construct" for a in ancestors(j, by_id))) / n,
        "plans.planning_s": sum(dur(s) for s in layer("plan")) / n,
        "plans.exchanges": total(queries, "exchanges") / n,
        "codegen.compiles": total(queries, "compiles") / n,
        "codegen.compile_s": total(queries, "compile_ns") / 1e9 / n,
        "exec.s": sum(dur(s) for s in layer("exec")) / n,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks": total(stages, "tasks") / n,
        "exec.core_util": run_s / (job_union * cores) if job_union > 0 else 0.0,
        "exec.task_cpu_s": total(stages, "cpu_ns") / 1e9 / n,
        "exec.gc_s": total(stages, "gc_ms") / 1e3 / n,
        "exec.shuffle_read_mb": total(stages, "shuffle_read_bytes") / MB / n,
        "exec.shuffle_write_mb": total(stages, "shuffle_write_bytes") / MB / n,
        "exec.spill_mb": total(stages, "spill_bytes") / MB / n,
        "tables.input_mb": total(stages, "input_bytes") / MB / n,
        "tables.input_rows": total(stages, "input_rows") / n,
        "streaming.batches": len(batches) / n,
        "streaming.query_planning_ms": total(batches, "queryPlanning") / n,
        "streaming.add_batch_ms": total(batches, "addBatch") / n,
        "streaming.wal_commit_ms": total(batches, "walCommit") / n,
        "streaming.commit_offsets_ms": total(batches, "commitOffsets") / n,
        "streaming.outside_trigger_ms": outside * 1e3 / n,
        "streaming.state_commit_ms": total(batches, "state_commit_ms") / n,
        "streaming.state_update_ms": total(batches, "state_update_ms") / n,
        "streaming.state_rows": sum(state_rows.values()) / n,
        "streaming.state_mb": sum(state_bytes.values()) / MB / n,
        "source.latest_offset_ms": total(drain, "latestOffset") / n,
        "source.get_batch_ms": total(drain, "getBatch") / n,
        "source.records": records / n,
        "source.dead_letter_frac": 1.0 - drain_rows * len(drain_execs) / records if records else 0.0,
        "source.events_per_s": records / drain_s if drain_s > 0 else 0.0,
        "source.batch_p50_ms": statistics.median(trigger_ms) if trigger_ms else 0.0,
        "scratch.written_mb": total(queries, "scratch_written_bytes") / MB / n,
        "scratch.retained_mb": raw["scratch_retained_mb"],
        "leak.temp_views": total(queries, "temp_views") / n,
        "leak.cached_frames": total(queries, "cached_frames") / n,
        "trace.overhead_frac": trace_overhead(raw["passes"]),
    }
    for name in ("query", "construct", "plan", "exec", "job", "stage", "microbatch"):
        m[f"self.{name}_s"] = selfs.get(name, 0.0) / n
    return m


def result_line(bench, trace, values, attempted, failed):
    """The benchmark's last output line: every metric BENCHMARK.json names
    for this mode (end-to-end untraced, per-layer traced), with its unit."""
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}}
