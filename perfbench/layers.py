"""Per-layer metrics of a traced run (--trace 1).

The client alternates untraced and traced passes. Only the successful ops of
traced passes feed these metrics, each as a mean per op unless its name says
otherwise; the untraced passes give the tracing overhead. Layers are named
after the program's modules (README.md has the map from each metric to the
end-to-end metric it should move).
"""
import json
import os
from collections import defaultdict

import inputs

LAYERS = ["client", "tables", "queries", "catalyst", "exec", "ops", "sources", "streaming"]

# (metric, unit): every metric a traced run prints, in order
METRICS = [
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
    ("tables.resolve_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.exchanges", "count"), ("exec.task_wait_ms", "ms"),
    ("exec.task_busy_ms", "ms"), ("exec.core_util", "ratio"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.peak_exec_mem_bytes", "bytes"),
    ("jvm.gc_ms", "ms"),
    ("ops.parse_ms", "ms"), ("ops.rows_in", "count"), ("ops.rows_out", "count"),
    ("streaming.jdbc_write_ms", "ms"), ("streaming.shaped_write_ms", "ms"),
    ("streaming.shaped_write_amp", "ratio"),
    ("streaming.shaped_bytes_written", "bytes"), ("streaming.shaped_user_bytes", "bytes"),
    ("streaming.bytes_stored_per_user_byte", "ratio"),
    ("streaming.commits", "count"), ("streaming.replay_ms", "ms"),
    ("streaming.replays_skipped", "count"), ("streaming.failed_batches", "count"),
    ("sources.pages_read", "count"), ("sources.rows_read", "count"),
] + [(f"{layer}.self_ms", "ms") for layer in LAYERS] + [
    ("client.failed_op_ratio", "ratio"),
    ("trace.pass_s_untraced", "s"), ("trace.pass_s_traced", "s"),
    ("trace.overhead_s", "s"),
]


def _union_ns(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_times(spans):
    """Self time per layer of one op, in ns: every instant of the op goes to
    the innermost open span (the one opened last), so the layers' self times
    add up to the op's time."""
    events = sorted([(s["start_ns"], 1, i) for i, s in enumerate(spans)] +
                    [(s["end_ns"], 0, i) for i, s in enumerate(spans)])
    out = defaultdict(int)
    open_spans, last = [], None
    for t, kind, i in events:
        if open_spans and last is not None:
            out[spans[open_spans[-1]]["name"].split(".")[0]] += t - last
        last = t
        if kind:
            open_spans.append(i)
        elif i in open_spans:
            open_spans.remove(i)
    return out


def _batch_user_bytes(seed):
    """Bytes of the rows each batch hands the sinks (latest version per job
    within the batch, every field as text)."""
    _, offered = inputs.ingest_plan(seed)
    out = {}
    for b, rows in enumerate(offered):
        latest = {}
        for r in rows:
            if r[0] not in latest or r[1] > latest[r[0]][1]:
                latest[r[0]] = r
        out[f"batch-{b}"] = sum(len(str(x).encode()) for r in latest.values() for x in r)
    return out


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return 0.0 if not n else (s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2)


def per_layer(ops, summary, run_dir):
    with open(os.path.join(run_dir, "config.json")) as f:
        cfg = json.load(f)
    traced = [o for o in ops if o["traced"] and o["error"] is None]
    ids = {o["op"] for o in traced}
    spans = defaultdict(list)
    for line in open(os.path.join(run_dir, "spans.jsonl")):
        s = json.loads(line)
        if s["op"] in ids:
            spans[s["op"]].append(s)
    all_counters = [json.loads(line) for line in open(os.path.join(run_dir, "counters.jsonl"))]
    counters = {c["op"]: c for c in all_counters if c["op"] in ids}
    n = max(1, len(traced))

    def total(name):
        return sum(s["end_ns"] - s["start_ns"] for o in ids for s in spans[o]
                   if s["name"] == name) / 1e6

    def csum(key):
        return sum(c[key] for c in counters.values())

    m = {}
    m["queries.build_ms"] = total("queries.build") / n
    build_jobs = 0
    for o in ids:
        builds = [(s["start_ns"], s["end_ns"]) for s in spans[o] if s["name"] == "queries.build"]
        build_jobs += sum(1 for s in spans[o] if s["name"] == "exec.job"
                          and any(a <= s["start_ns"] <= b for a, b in builds))
    m["queries.build_jobs"] = build_jobs / n
    m["tables.resolve_ms"] = total("tables.resolve") / n
    for p in ("analysis", "optimization", "planning"):
        m[f"catalyst.{p}_ms"] = csum(f"{p}_ms") / n
    for k in ("jobs", "stages", "tasks", "exchanges", "task_wait_ms", "task_busy_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = csum(k) / n
    job_wall_ms = sum(_union_ns([(s["start_ns"], s["end_ns"]) for s in spans[o]
                                 if s["name"] == "exec.job"]) for o in ids) / 1e6
    m["exec.core_util"] = csum("task_busy_ms") / (cfg["cores"] * job_wall_ms) if job_wall_ms else 0.0
    m["exec.peak_exec_mem_bytes"] = max([c["peak_exec_mem_bytes"] for c in counters.values()] or [0])
    m["jvm.gc_ms"] = csum("gc_ms") / n
    m["ops.parse_ms"] = total("ops.parse") / n
    m["ops.rows_in"] = csum("rows_in") / n
    m["ops.rows_out"] = csum("rows_out") / n
    m["streaming.jdbc_write_ms"] = total("streaming.jdbc_write") / n
    m["streaming.shaped_write_ms"] = total("streaming.shaped_write") / n
    written = csum("shaped_bytes_written")
    user = 0
    if cfg["workload"] == "ingest":
        per_batch = _batch_user_bytes(cfg["seed"])
        user = sum(per_batch[o["name"]] for o in traced)
    m["streaming.shaped_write_amp"] = written / user if user else 0.0
    m["streaming.shaped_bytes_written"] = written / n
    m["streaming.shaped_user_bytes"] = user / n
    stored = [p["stored_bytes"] / p["user_bytes"] for p in summary["passes"]
              if p.get("user_bytes")]
    m["streaming.bytes_stored_per_user_byte"] = _median(stored)
    m["streaming.commits"] = csum("commits") / n
    m["streaming.replay_ms"] = total("streaming.replay") / n
    m["streaming.replays_skipped"] = csum("replays_skipped") / n
    # a failed batch fails its op, so this one counts over every traced op
    m["streaming.failed_batches"] = sum(c["failed_batches"] for c in all_counters) / n
    m["sources.pages_read"] = csum("pages_read") / n
    m["sources.rows_read"] = csum("rows_read") / n
    selfs = defaultdict(int)
    for o in ids:
        for layer, ns in self_times(spans[o]).items():
            selfs[layer] += ns
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = selfs[layer] / 1e6 / n
    m["client.failed_op_ratio"] = sum(1 for o in ops if o["error"]) / max(1, len(ops))
    failed_passes = {o["pass"] for o in ops if o["error"]}
    walls = defaultdict(list)
    for p in summary["passes"]:
        if p["pass"] not in failed_passes:
            walls[p["traced"]].append(p["wall_s"])
    m["trace.pass_s_untraced"] = _median(walls[False])
    m["trace.pass_s_traced"] = _median(walls[True])
    m["trace.overhead_s"] = m["trace.pass_s_traced"] - m["trace.pass_s_untraced"]
    return {name: (m[name], unit) for name, unit in METRICS}
