"""Metrics from a JVM run record (`result.json` written by BenchMain).

Every metric is a (value, unit, samples) triple. End-to-end metrics come
from untraced runs; per-layer metrics from the spans of the traced ops
of a traced run. Per-op layer metrics are medians over those ops; window
counters are totals over the window, or per op where named so.
"""
import math
import os
import re
import statistics

END_TO_END = ["setup_s", "op_p50_s", "retained_heap_mb"]

MIX_FAMILIES = ["Catalyst", "CsFrame", "Lookup", "Physics", "Relational", "Stage"]

PER_LAYER = [
    "queries.build_s", "queries.build_jobs",
    "plans.plan_s", "plans.codegen_compiles", "plans.codegen_compile_s", "plans.exchanges",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_s", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.busy_ratio", "exec.task_wait_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.peak_exec_mem_mb",
    "sources.input_rows", "sources.input_mb", "sources.scan_tasks",
    "sink.write_s", "sink.output_mb", "sink.output_files",
    "report.s", "report.jobs",
    "pipeline.stage1_s", "pipeline.stage2_s", "pipeline.stage3_s",
    "driver.self_s", "jvm.jit_s", "jvm.gc_s",
] + [f"queries.{f}.p50_s" for f in MIX_FAMILIES] + ["trace.overhead_s"]

UNITS = {"_s": "s", ".s": "s", "_mb": "MB", "_ratio": "ratio"}

MB = 1 << 20
SINK_SITE = re.compile(r"^(parquet|save|csv|json|text|orc|insertInto|saveAsTable) "
                       r"at RunPipeline\.scala:\d+$")
REPORT_FRAME = re.compile(r"(Datacards|TemplateExport|PlotSvg)\.scala:")


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def p50(xs):
    return statistics.median(xs)


def tail_p90(xs):
    """Nearest-rank p90, or None unless at least ten samples lie above it."""
    if not xs:
        return None
    s = sorted(xs)
    v = s[math.ceil(0.9 * len(s)) - 1]
    return v if sum(x > v for x in s) >= 10 else None


def timed_ops(res):
    return [o for o in res["ops"] if o["phase"] == "timed"]


def end_to_end(res):
    """{name: (value, unit, samples)} for an untraced run."""
    ok = [o for o in timed_ops(res) if o["ok"]]
    lat = [o["wall_s"] for o in ok]
    return {
        "setup_s": (res["setup_s"], "s", 1),
        "op_p50_s": (p50(lat), "s", len(lat)),
        "retained_heap_mb": (res["counters"]["retained_heap_mb"], "MB", 1),
    }


def tail(res):
    """op_p90_s, only where at least ten samples lie above it."""
    lat = [o["wall_s"] for o in timed_ops(res) if o["ok"]]
    v = tail_p90(lat)
    return {} if v is None else {"op_p90_s": (v, "s", len(lat))}


def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _report_s(op, jobs):
    """Time in contiguous runs of report jobs, each run extended to the
    start of the next other job (or the end of the op): the jobs plus
    the rendering and writing outside Spark jobs after them."""
    total, run_start = 0, None
    for j in jobs:
        if REPORT_FRAME.search(j["frames"]):
            if run_start is None:
                run_start = j["start_ms"]
        elif run_start is not None:
            total += j["start_ms"] - run_start
            run_start = None
    if run_start is not None:
        total += op["end_ms"] - run_start
    return total / 1e3


def _stage_markers(op):
    t = {m["label"]: m["s"] for m in op["markers"]}
    if "stage1" not in t or "stage2" not in t:
        return None
    return t["stage1"], t["stage2"] - t["stage1"], op["wall_s"] - t["stage2"]


def per_op_layers(res, op, jobs, stages, plans, out_dir):
    """Layer values of one traced op."""
    cores = res["cores"]
    js = sorted(jobs, key=lambda j: j["start_ms"])
    ended = [j for j in js if j["end_ms"] >= 0]
    ran = [s for s in stages if s["tasks"] > 0]
    run_s = sum(s["run_ms"] for s in ran) / 1e3
    job_wall = _union([(j["start_ms"], j["end_ms"]) for j in ended]) / 1e3
    sink = [j for j in ended if SINK_SITE.match(j["site"])]
    sink_stages = {sid for j in sink for sid in j["stages"]}
    v = {
        "plans.plan_s": sum(p["plan_ms"] for p in plans) / 1e3,
        "plans.exchanges": sum(p["exchanges"] for p in plans),
        "exec.jobs": len(js),
        "exec.stages": len(ran),
        "exec.tasks": sum(s["tasks"] for s in ran),
        "exec.job_wall_s": job_wall,
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in ran) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in ran) / 1e3,
        "exec.busy_ratio": run_s / (op["wall_s"] * cores),
        "exec.task_wait_s": sum(s["wait_ms"] for s in ran) / 1e3,
        "exec.shuffle_write_mb": sum(s["shuffle_write"] for s in ran) / MB,
        "exec.shuffle_read_mb": sum(s["shuffle_read"] for s in ran) / MB,
        "exec.spill_mb": sum(s["spill"] for s in ran) / MB,
        "exec.peak_exec_mem_mb": max([s["peak_mem"] for s in ran], default=0) / MB,
        "sources.input_rows": sum(s["input_rows"] for s in ran),
        "sources.input_mb": sum(s["input_bytes"] for s in ran) / MB,
        "sources.scan_tasks": sum(s["scan_tasks"] for s in ran),
        "sink.write_s": _union([(j["start_ms"], j["end_ms"]) for j in sink]) / 1e3,
        "sink.output_mb": sum(s["output_bytes"] for s in ran if s["id"] in sink_stages) / MB,
        "report.s": _report_s(op, js),
        "report.jobs": sum(bool(REPORT_FRAME.search(j["frames"])) for j in js),
        "driver.self_s": op["wall_s"] - job_wall,
    }
    if op["family"] == "pipeline":
        # RunPipeline.run builds its queries inside the op: no build span
        d = os.path.join(out_dir, op["name"])
        v["sink.output_files"] = sum(
            1 for _, _, fs in os.walk(d) for f in fs
            if not f.endswith(".crc") and f != "_SUCCESS")
        marks = _stage_markers(op)
        if marks:
            v["pipeline.stage1_s"], v["pipeline.stage2_s"], v["pipeline.stage3_s"] = marks
    else:
        v["queries.build_s"] = op["build_s"]
        v["queries.build_jobs"] = sum(j["phase"] == "build" for j in js)
        v["sink.output_files"] = 0
    return v


def per_layer(res, out_dir):
    """{name: (value, unit, samples)} for a traced run."""
    tr = res["trace"]
    ok = [o for o in timed_ops(res) if o["ok"]]
    ops = [o for o in ok if o["traced"]]
    untraced = [o["wall_s"] for o in ok if not o["traced"]]
    jobs, stages = {}, {}
    for j in tr["jobs"]:
        jobs.setdefault(j["op"], []).append(j)
    for s in tr["stages"]:
        stages.setdefault(s["op"], []).append(s)
    plans = {}
    for p in tr["plans"]:
        hit = next((o for o in ops if o["start_ms"] <= p["start_ms"] <= o["end_ms"]), None)
        if hit is not None:
            plans.setdefault(hit["id"], []).append(p)
    rows = [per_op_layers(res, o, jobs.get(o["id"], []), stages.get(o["id"], []),
                          plans.get(o["id"], []), out_dir) for o in ops]
    out = {}
    for name in PER_LAYER:
        xs = [r[name] for r in rows if name in r]
        if xs:
            out[name] = (p50(xs), unit_of(name), len(xs))
    n = len(timed_ops(res))
    c = res["counters"]
    for name, key in [("plans.codegen_compiles", "codegen_compiles"),
                      ("plans.codegen_compile_s", "codegen_compile_s")]:
        out[name] = (c[key] / max(n, 1), unit_of(name), n)
    out["jvm.jit_s"] = (c["jit_s"], "s", 1)
    out["jvm.gc_s"] = (c["gc_s"], "s", 1)
    for fam in MIX_FAMILIES:
        xs = [o["wall_s"] for o in ops if o["family"] == fam]
        if xs:
            out[f"queries.{fam}.p50_s"] = (p50(xs), "s", len(xs))
    lat = [o["wall_s"] for o in ops]
    if lat and untraced:
        out["trace.overhead_s"] = (p50(lat) - p50(untraced), "s", len(lat) + len(untraced))
    # a layer the workload does not exercise reads zero, from no samples
    for name in PER_LAYER:
        out.setdefault(name, (0.0, unit_of(name), 0))
    return out
