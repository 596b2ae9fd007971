#!/usr/bin/env python3
"""Turn one traced perfbench run (trace.jsonl) into per-layer metrics.

    python3 perfbench/summarize.py .bench_build/out/<workload>-<seed>-1/trace.jsonl

The trace holds spans (one root per traced op, one child per call into a
graft module, and a "Spark" child for consuming the result), Spark jobs with
the span id their submitting thread carried, completed-stage task metrics,
Catalyst phase intervals, and per-op scan and commit counters. Jobs without
a span id are attributed to the innermost span open when they started. A
layer's self time is its span time covered neither by its direct child
spans nor by the jobs attributed to it.

Time and count metrics are per completed traced op unless their name says
otherwise, so runs that complete different numbers of ops stay comparable.
"""
import json
import statistics
import sys
from collections import defaultdict

EXT = ["TextNorm", "Dedup", "SuffixDedup", "Tokenizer", "Packing", "Similarity", "Graph"]
LAYERS = ["QueryApi", "Catalog", "TableIO.read", "TableIO.commit", "Transactions",
          "Versioned"] + [f"ext.{m}" for m in EXT] + ["Spark"]
READ_ONLY = {"TableIO.read", "Catalog", "Spark"}

# name -> (unit, better); the order is the order of BENCHMARK.json
METRICS = {
    "QueryApi.busy_s": ("s/op", "lower"),
    "QueryApi.calls": ("1/op", "lower"),
    "Catalog.busy_s": ("s/op", "lower"),
    "TableIO.read.busy_s": ("s/op", "lower"),
    "TableIO.read.p50_s": ("s", "lower"),
    "TableIO.read.calls": ("1/op", "lower"),
    "TableIO.read.files_scanned_frac": ("ratio", "lower"),
    "TableIO.read.rows_scanned_per_row_returned": ("ratio", "lower"),
    "TableIO.commit.busy_s": ("s/op", "lower"),
    "TableIO.commit.p50_s": ("s", "lower"),
    "TableIO.commit.calls": ("1/op", "lower"),
    "TableIO.commit.jobs_per_call": ("1/call", "lower"),
    "TableIO.commit.files_added": ("1/call", "lower"),
    "TableIO.commit.bytes_added": ("B/call", "lower"),
    "TableIO.commit.executor_cpu_s": ("s/call", "lower"),
    "WriteStats.readback_jobs": ("1/call", "lower"),
    "Versioned.versions_end": ("count", "lower"),
    "Versioned.files_live_end": ("count", "lower"),
    "Versioned.manifest_bytes_end": ("B", "lower"),
    "Versioned.vacuum_s": ("s", "lower"),
    "Transactions.busy_s": ("s/op", "lower"),
}
for m in EXT:
    METRICS[f"ext.{m}.busy_s"] = ("s/op", "lower")
METRICS["ext.Graph.jobs_per_call"] = ("1/call", "lower")
for layer in LAYERS:
    METRICS[f"{layer}.self_s"] = ("s/op", "lower")
METRICS.update({
    "catalyst.analysis_s": ("s/op", "lower"),
    "catalyst.optimization_s": ("s/op", "lower"),
    "catalyst.planning_s": ("s/op", "lower"),
    "codegen.compile_s": ("s/op", "lower"),
    "codegen.compiles": ("1/op", "lower"),
    "spark.jobs": ("1/op", "lower"),
    "spark.stages": ("1/op", "lower"),
    "spark.tasks": ("1/op", "lower"),
    "spark.driver_only_s": ("s/op", "lower"),
    "spark.executor_run_s": ("s/op", "lower"),
    "spark.executor_cpu_s": ("s/op", "lower"),
    "spark.shuffle_read_bytes": ("B/op", "lower"),
    "spark.shuffle_write_bytes": ("B/op", "lower"),
    "spark.gc_s": ("s/op", "lower"),
    "spark.spill_bytes": ("B/op", "lower"),
    "spark.input_bytes": ("B/op", "lower"),
    "spark.output_bytes": ("B/op", "lower"),
    "spark.persisted_rdds_end": ("count", "lower"),
    "host.calib_s": ("s", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
})


def union_len(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def load(path):
    recs = defaultdict(list)
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            recs[r["t"]].append(r)
    return recs


def summarize(path):
    recs = load(path)
    meta = recs["meta"][0]
    done = {o["op"] for o in meta["ops"] if o["traced"] and o["seconds"] >= 0}
    spans = {s["id"]: s for s in recs["span"] if s["op"] in done}
    roots = [s for s in spans.values() if s["parent"] == 0]
    n = max(len(done), 1)

    # jobs -> span: by the carried span id, else the innermost span open
    def depth(s):
        return 0 if s["parent"] not in spans else 1 + depth(spans[s["parent"]])
    by_depth = sorted(spans.values(), key=depth)
    job_span = {}
    for j in recs["job"]:
        if j["span"] in spans:
            job_span[j["job"]] = spans[j["span"]]
        elif j["span"] == 0:
            hits = [s for s in by_depth if s["start"] <= j["start"] <= s["end"]]
            if hits:
                job_span[j["job"]] = hits[-1]
    jobs = {j["job"]: j for j in recs["job"] if j["job"] in job_span}
    stage_job = {}
    for j in sorted(recs["job"], key=lambda j: j["job"]):
        for st in j["stages"]:
            stage_job[st] = j["job"]
    stages = [s for s in recs["stage"] if stage_job.get(s["stage"]) in jobs]
    jobs_under = defaultdict(list)  # span id -> attributed jobs
    for jid, s in job_span.items():
        jobs_under[s["id"]].append(jobs[jid])
    children = defaultdict(list)  # span id -> direct child spans
    for s in spans.values():
        children[s["parent"]].append(s)
    op_jobs = defaultdict(list)
    for jid, s in job_span.items():
        op_jobs[s["op"]].append(jobs[jid])

    def dur(s):
        return (s["end"] - s["start"]) / 1e3

    def layer_spans(name):
        return [s for s in spans.values() if s["name"] == name]

    def self_time(s):
        """Span time covered neither by its direct child spans nor by its
        own jobs."""
        busy = [(c["start"], c["end"]) for c in children[s["id"]]]
        busy += [(j["start"], j["end"]) for j in jobs_under[s["id"]]]
        return dur(s) - union_len(busy, s["start"], s["end"]) / 1e3

    out = {k: 0.0 for k in METRICS}
    for layer in LAYERS:
        ss = layer_spans(layer)
        out[f"{layer}.self_s"] = sum(map(self_time, ss)) / n
        if f"{layer}.busy_s" in out:
            out[f"{layer}.busy_s"] = sum(map(dur, ss)) / n
        if f"{layer}.calls" in out:
            out[f"{layer}.calls"] = len(ss) / n
        if f"{layer}.p50_s" in out and ss:
            out[f"{layer}.p50_s"] = statistics.median(map(dur, ss))

    attrs = defaultdict(dict)
    for a in recs["opattr"]:
        if a["op"] in done:
            attrs[a["op"]].update(a)
    names_of = defaultdict(set)
    for s in spans.values():
        if s["parent"] != 0:
            names_of[s["op"]].add(s["name"])

    reads = [attrs[o] for o in done if "TableIO.read" in names_of[o] and names_of[o] <= READ_ONLY]
    live = sum(a.get("files_live", 0) for a in reads)
    returned = sum(a.get("rows_returned", 0) for a in reads)
    out["TableIO.read.files_scanned_frac"] = (
        sum(a.get("files_read", 0) for a in reads) / live if live else 0.0)
    out["TableIO.read.rows_scanned_per_row_returned"] = (
        sum(a.get("rows_read", 0) for a in reads) / returned if returned else 0.0)

    commits = layer_spans("TableIO.commit")
    if commits:
        c = len(commits)
        commit_ops = {s["op"] for s in commits}
        commit_jobs = [j for s in commits for j in jobs_under[s["id"]]]
        commit_stage_ids = {st for j in commit_jobs for st in j["stages"]}
        out["TableIO.commit.jobs_per_call"] = len(commit_jobs) / c
        out["TableIO.commit.files_added"] = sum(attrs[o].get("files_added", 0) for o in commit_ops) / c
        out["TableIO.commit.bytes_added"] = sum(attrs[o].get("bytes_added", 0) for o in commit_ops) / c
        out["TableIO.commit.executor_cpu_s"] = sum(
            s["cpu_ns"] for s in stages if s["stage"] in commit_stage_ids) / 1e9 / c
        out["WriteStats.readback_jobs"] = sum(1 for j in jobs.values() if j["readback"]) / c
    vac = layer_spans("Versioned")
    if vac:
        out["Versioned.vacuum_s"] = statistics.median(map(dur, vac))
    for k in ("versions_end", "files_live_end", "manifest_bytes_end"):
        out[f"Versioned.{k}"] = float(meta.get(k, 0))
    graph = layer_spans("ext.Graph")
    if graph:
        out["ext.Graph.jobs_per_call"] = sum(len(jobs_under[s["id"]]) for s in graph) / len(graph)

    for p in recs["phase"]:
        if any(r["start"] <= p["start"] <= r["end"] for r in roots):
            out[f"catalyst.{p['name']}_s"] += (p["end"] - p["start"]) / 1e3 / n
    out["codegen.compile_s"] = sum(r["cg_ns"] for r in roots) / 1e9 / n
    out["codegen.compiles"] = sum(r["cg_n"] for r in roots) / n

    out["spark.jobs"] = len(jobs) / n
    out["spark.stages"] = len(stages) / n
    out["spark.driver_only_s"] = sum(
        dur(r) - union_len([(j["start"], j["end"]) for j in op_jobs[r["op"]]],
                           r["start"], r["end"]) / 1e3 for r in roots) / n
    for key, field, scale in (("tasks", "tasks", 1), ("executor_run_s", "run_ms", 1e3),
                              ("executor_cpu_s", "cpu_ns", 1e9), ("gc_s", "gc_ms", 1e3),
                              ("shuffle_read_bytes", "shuffle_read", 1),
                              ("shuffle_write_bytes", "shuffle_write", 1),
                              ("spill_bytes", "spill", 1), ("input_bytes", "input", 1),
                              ("output_bytes", "output", 1)):
        out[f"spark.{key}"] = sum(s[field] for s in stages) / scale / n
    out["spark.persisted_rdds_end"] = float(meta["persisted_rdds_end"])
    out["host.calib_s"] = float(meta["calib_s"])

    def rate(traced):
        ops = [o for o in meta["ops"] if o["traced"] == traced and o["seconds"] >= 0]
        secs = sum(o["seconds"] for o in ops)
        return len(ops) / secs if secs else 0.0
    untraced = rate(False)
    out["trace.overhead_frac"] = 1 - rate(True) / untraced if untraced else 0.0
    return {k: {"value": v, "unit": METRICS[k][0]} for k, v in out.items()}


if __name__ == "__main__":
    for k, v in summarize(sys.argv[1]).items():
        print(f"{k:48s} {v['value']:.6g} {v['unit']}")
