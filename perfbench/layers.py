"""Per-layer numbers of the traced pass.

The traced pass records, for every call, spans from the benchmark's own
code: call -> build / plan / exec, with the Spark jobs that ran in build
or exec as children and their stages below them. Spans of one call share
its id. They are kept in memory and written to `spans.jsonl` when the run
ends, beside one `layers` record per call (`layers.json`) and the
count()-vs-noop table (`dual_basis.md`).
"""
import json
import os

import stats

ROLES = ("first", "repeat")
OP_CLASSES = ("aggregate", "window", "sort", "exchange", "join", "scan",
              "inmemory_scan", "graft", "other")
MB = 1024.0 * 1024.0

# (name, unit, better) of every per-layer metric reported for each role
ROLE_METRICS = [
    ("registry.build_s", "s", "lower"),
    ("registry.build_jobs", "count", "lower"),
    ("registry.build_job_s", "s", "lower"),
    ("tables.jobs", "count", "lower"),
    ("tables.job_s", "s", "lower"),
    ("planner.plan_s", "s", "lower"),
    ("planner.analysis_s", "s", "lower"),
    ("planner.optimization_s", "s", "lower"),
    ("planner.planning_s", "s", "lower"),
    ("exec.exec_s", "s", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.shuffle_mb", "MB", "lower"),
    ("exec.spill_mb", "MB", "lower"),
    ("exec.gc_ms", "ms", "lower"),
    ("exec.idle_s", "s", "lower"),
    ("exec.skew", "ratio", "lower"),
] + [(f"ops.{c}_ms", "ms", "lower") for c in OP_CLASSES] + [
    ("cache.hits", "count", "higher"),
    ("cache.misses", "count", "lower"),
    ("cache.hit_ratio", "ratio", "higher"),
    ("cache.persist_mb", "MB", "lower"),
    ("cache.block_loss", "count", "lower"),
]
# reported once per traced run
RUN_METRICS = [
    ("cache.peak_mb", "MB", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("basis.count_s", "s", "lower"),
    ("basis.noop_s", "s", "lower"),
]


def metric_specs():
    """Every per-layer metric as (name, unit, better)."""
    return [(f"{n}.{role}", u, b) for role in ROLES for n, u, b in ROLE_METRICS] \
        + RUN_METRICS


def call_spans(c):
    """The spans of one call as dicts, parents before children."""
    cid = f"{c['pass']}:{c['q']}:{c['role']}"
    t0, t1, t3 = c["t0"], c["t1"], c["t3"]
    ends = [v[1] for v in c.get("phases", {}).values()]
    plan_end = min(t3, max([t1] + ends))
    spans = [
        {"call": cid, "name": "call", "start": t0, "end": t3, "parent": None},
        {"call": cid, "name": "build", "start": t0, "end": t1, "parent": "call"},
        {"call": cid, "name": "plan", "start": t1, "end": plan_end, "parent": "call"},
        {"call": cid, "name": "exec", "start": plan_end, "end": t3, "parent": "call"},
    ]
    stage_by_id = {s["id"]: s for s in c.get("stages", [])}
    for j in c.get("jobs", []):
        phase = job_phase(j, t1)
        spans.append({"call": cid, "name": f"job{j['id']}", "start": j["start"],
                      "end": j["end"], "parent": phase})
        for sid in j["stages"]:
            s = stage_by_id.get(sid)
            if s is not None:
                spans.append({"call": cid, "name": f"stage{sid}", "start": s["start"],
                              "end": s["end"], "parent": f"job{j['id']}"})
    for sp in spans:
        kids = [(k["start"], k["end"]) for k in spans if k["parent"] == sp["name"]]
        sp["self"] = stats.self_time((sp["start"], sp["end"]), kids)
    return spans


def job_phase(job, t1):
    """build or exec: the phase the call was in when the job was
    submitted, or by start time when Spark did not carry the property."""
    if job["phase"] in ("build", "exec"):
        return job["phase"]
    return "build" if job["start"] < t1 else "exec"


def layer_record(c):
    """The per-call `layers` record (ROADMAP item 1 fields) plus the
    per-layer sums this module aggregates."""
    spans = {s["name"]: s for s in call_spans(c)}
    t1 = c["t1"]
    build_jobs = [j for j in c.get("jobs", []) if job_phase(j, t1) == "build"]
    exec_ids = {sid for j in c.get("jobs", []) if job_phase(j, t1) == "exec"
                for sid in j["stages"]}
    stages = [s for s in c.get("stages", []) if s["id"] in exec_ids]
    ex = spans["exec"]
    phases = c.get("phases", {})
    dur = lambda k: (phases[k][1] - phases[k][0]) / 1e9 if k in phases else 0.0
    sk = stats.skew(stages)
    cache = c.get("cache", {})
    return {
        "q": c["q"], "role": c["role"], "pass": c["pass"], "ok": c["ok"],
        "latency_s": (c["t3"] - c["t0"]) / 1e9,
        "build_s": (t1 - c["t0"]) / 1e9,
        "build_jobs": len(build_jobs),
        "build_job_s": sum(j["end"] - j["start"] for j in build_jobs) / 1e9,
        "tables_jobs": sum(1 for j in build_jobs if j["tables"]),
        "tables_job_s": sum(j["end"] - j["start"] for j in build_jobs if j["tables"]) / 1e9,
        "plan_s": (spans["plan"]["end"] - spans["plan"]["start"]) / 1e9,
        "analysis_s": dur("analysis"),
        "optimization_s": dur("optimization"),
        "planning_s": dur("planning"),
        "exec_s": (ex["end"] - ex["start"]) / 1e9,
        "idle_s": stats.idle_time(ex["start"], ex["end"],
                                  [(s["start"], s["end"]) for s in stages]) / 1e9,
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "shuffle_rw_bytes": sum(s["shuffle_bytes"] for s in stages),
        "spill": sum(s["spill_bytes"] for s in stages),
        "gc_ms": sum(s["gc_ms"] for s in stages),
        "skew": sk,
        "ops_ms": {k: c.get("ops", {}).get(k, 0) for k in OP_CLASSES},
        "cache_hits": cache.get("hits", 0),
        "cache_misses": cache.get("misses", 0),
        "persist_bytes": cache.get("persist_bytes", 0),
        "block_loss": cache.get("block_loss", 0),
    }


def role_metrics(recs):
    """Per-layer metrics over the calls of one role in one pass: sums of
    the additive fields, mean skew, hit ratio of the summed counts
    (0 when the registry was never consulted), largest persisted size."""
    total = lambda k: sum(r[k] for r in recs)
    skews = [r["skew"] for r in recs if r["skew"] is not None]
    hits, misses = total("cache_hits"), total("cache_misses")
    out = {
        "registry.build_s": total("build_s"),
        "registry.build_jobs": total("build_jobs"),
        "registry.build_job_s": total("build_job_s"),
        "tables.jobs": total("tables_jobs"),
        "tables.job_s": total("tables_job_s"),
        "planner.plan_s": total("plan_s"),
        "planner.analysis_s": total("analysis_s"),
        "planner.optimization_s": total("optimization_s"),
        "planner.planning_s": total("planning_s"),
        "exec.exec_s": total("exec_s"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.cpu_s": total("cpu_s"),
        "exec.shuffle_mb": total("shuffle_rw_bytes") / MB,
        "exec.spill_mb": total("spill") / MB,
        "exec.gc_ms": total("gc_ms"),
        "exec.idle_s": total("idle_s"),
        "exec.skew": sum(skews) / len(skews) if skews else 0.0,
        "cache.hits": hits,
        "cache.misses": misses,
        "cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
        "cache.persist_mb": max([r["persist_bytes"] for r in recs] + [0]) / MB,
        "cache.block_loss": total("block_loss"),
    }
    for k in OP_CLASSES:
        out[f"ops.{k}_ms"] = sum(r["ops_ms"][k] for r in recs)
    return out


def dual_basis_table(recs, counts):
    """Markdown table of count() against noop per query (first calls)."""
    noop = {r["q"]: r["latency_s"] for r in recs if r["role"] == "first"}
    lines = ["| query | count() s | noop s | noop / count() |",
             "| --- | --- | --- | --- |"]
    for c in counts:
        cs = (c["t3"] - c["t0"]) / 1e9
        ns = noop.get(c["q"])
        ratio = f"{ns / cs:.2f}" if ns and cs > 0 else "-"
        lines.append(f"| `{c['q']}` | {cs:.3f} | {ns:.3f} | {ratio} |")
    return "\n".join(lines) + "\n"


def layer_metrics(traced_rows, count_rows, untraced_passes, out_dir):
    calls = [r for r in traced_rows if r["kind"] == "call"]
    tpass = [r for r in traced_rows if r["kind"] == "pass"][0]
    recs = [layer_record(c) for c in calls]
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "spans.jsonl"), "w") as fh:
        for c in calls:
            for sp in call_spans(c):
                fh.write(json.dumps(sp) + "\n")
    with open(os.path.join(out_dir, "layers.json"), "w") as fh:
        json.dump(recs, fh, indent=1)
    with open(os.path.join(out_dir, "dual_basis.md"), "w") as fh:
        fh.write(dual_basis_table(recs, count_rows))

    values = {}
    for role in ROLES:
        for k, v in role_metrics([r for r in recs if r["role"] == role]).items():
            values[f"{k}.{role}"] = v
    # the untraced pass run just before the traced one, equally warm
    last = max(untraced_passes, key=lambda p: p["pass"])
    untraced = (last["t1"] - last["t0"]) / 1e9
    values["cache.peak_mb"] = tpass["peak_storage_bytes"] / MB
    values["trace.overhead_s"] = (tpass["t1"] - tpass["t0"]) / 1e9 - untraced
    values["basis.count_s"] = sum((c["t3"] - c["t0"]) / 1e9 for c in count_rows)
    values["basis.noop_s"] = sum(r["latency_s"] for r in recs if r["role"] == "first")
    return {name: {"value": values[name], "unit": unit}
            for name, unit, _ in metric_specs()}
