"""Per-layer metrics of a traced run, from its spans, its Spark event log
and the counts read off each call's result.

Times and counts are per traced call unless the name says otherwise; a
layer the workload does not exercise reads 0. ``spec.<name>.*`` covers
the catalogue of every workload, so each traced run prints one fixed set.
"""

from __future__ import annotations

import glob
import os
import statistics

from .trace import read_event_log, self_time, union_length


def _m(value, unit):
    return {"value": float(value), "unit": unit}


def _outermost(spans: list[dict], layers: set[str]) -> list[dict]:
    """Spans of ``layers`` not nested in another span of ``layers``."""
    by_id = {s["id"]: s for s in spans}
    out = []
    for s in spans:
        if s["layer"] not in layers:
            continue
        p = s["parent"]
        while p is not None and by_id[p]["layer"] not in layers:
            p = by_id[p]["parent"]
        if p is None:
            out.append(s)
    return out


def _dur(spans) -> float:
    return sum(s["t1"] - s["t0"] for s in spans)


def per_layer(calls, tracer, events_dir, spec_names, reps, phases, host, table_bytes):
    traced = [c for c in calls if c["phase"] == "traced"]
    untraced = [c for c in calls if c["phase"] == "untraced"]
    n = max(len(traced), 1)
    spans = [s for s in tracer.spans if s["call"] is not None and s["t1"] is not None]
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    logs = sorted(glob.glob(os.path.join(events_dir, "*")), key=os.path.getmtime)
    ev = read_event_log(logs[-1]) if logs else {"jobs": {}, "stages": {}}
    jobs_by_call: dict[str, list[dict]] = {}
    for jid, j in ev["jobs"].items():
        if j["group"]:
            jobs_by_call.setdefault(j["group"], []).append(dict(j, id=jid))
    stages_by_job: dict[int, list[dict]] = {}
    for st in ev["stages"].values():
        if st["job"] is not None and st["tasks"]:
            stages_by_job.setdefault(st["job"], []).append(st)

    def call_stages(cid):
        return [st for j in jobs_by_call.get(cid, []) for st in stages_by_job.get(j["id"], [])]

    def jobs_within(layer_spans) -> int:
        k = 0
        for s in layer_spans:
            for j in jobs_by_call.get(s["call"], []):
                if s["t0"] <= j["t0"] <= s["t1"]:
                    k += 1
        return k

    m: dict[str, dict] = {}
    # sources
    writes = [c["info"]["write_bytes"] for c in traced if "write_bytes" in c.get("info", {})]
    write_spans = [s for s in spans if s["name"] == "io.write_parquet"]
    m["sources.session_s"] = _m(statistics.median(r["session_s"] for r in reps), "s")
    m["sources.load_s"] = _m(statistics.median(r["load_s"] for r in reps), "s")
    m["sources.write_s"] = _m(_dur(write_spans) / max(len(write_spans), 1), "s")
    m["sources.write_mb"] = _m(sum(writes) / max(len(writes), 1) / 2**20, "MB")
    # formula + design
    design = _outermost(spans, {"formula", "design"})
    m["design.s"] = _m(_dur(design) / n, "s")
    m["design.jobs"] = _m(jobs_within(design) / n, "count")
    # api
    api = [s for s in spans if s["layer"] == "api"]
    m["api.self_s"] = _m(sum(self_time(s, children.get(s["id"], [])) for s in api) / n, "s")
    strategies = [c["info"].get("strategy") for c in traced if c.get("info")]
    for st in ("compress", "moments", "demean", "mundlak"):
        m[f"api.strategy.{st}"] = _m(sum(1 for x in strategies if x == st), "count")
    ratios = [c["info"]["compression_ratio"] for c in traced if "compression_ratio" in c.get("info", {})]
    m["compress.ratio"] = _m(statistics.median(ratios) if ratios else 0.0, "ratio")
    # plans
    plans = [s for s in spans if s["layer"] in ("plans", "plans.meat")]
    m["plans.calls"] = _m(len(plans) / n, "count")
    m["plans.s"] = _m(_dur(_outermost(spans, {"plans", "plans.meat"})) / n, "s")
    m["plans.self_s"] = _m(sum(self_time(s, children.get(s["id"], [])) for s in plans) / n, "s")
    m["plans.meat_s"] = _m(_dur(_outermost(spans, {"plans.meat"})) / n, "s")
    # solve + wls
    m["solve.s"] = _m(_dur(_outermost(spans, {"solve"})) / n, "s")
    # glm
    glm_calls = [c for c in traced if "irls_iters" in c.get("info", {})]
    iters = sum(c["info"]["irls_iters"] for c in glm_calls)
    glm_jobs = sum(len(jobs_by_call.get(c["id"], [])) for c in glm_calls)
    m["glm.irls_iters"] = _m(iters / max(len(glm_calls), 1), "count")
    m["glm.jobs_per_iter"] = _m(glm_jobs / max(iters, 1), "count")
    # operators + pipeline
    dedup_calls = [c for c in traced if c["spec"].startswith(("minhash", "ngram", "exact"))]
    pairs = [
        c["info"]["rows_out"]
        for c in dedup_calls
        if not c["spec"].startswith("exact") and "rows_out" in c.get("info", {})
    ]
    pipe = [c for c in traced if c["spec"] == "pipeline"]
    m["dedup.s"] = _m(sum(c["lat"] for c in dedup_calls) / max(len(dedup_calls), 1), "s")
    m["dedup.pairs_out"] = _m(statistics.median(pairs) if pairs else 0, "count")
    m["text.s"] = _m(_dur(_outermost(spans, {"text"})) / n, "s")
    m["pipeline.s"] = _m(sum(c["lat"] for c in pipe) / max(len(pipe), 1), "s")
    kept = [c["info"]["rows_out"] for c in pipe if "rows_out" in c.get("info", {})]
    m["pipeline.docs_kept"] = _m(statistics.median(kept) if kept else 0, "count")
    # Spark engine
    jobs = stages = tasks = 0
    busy, scans, shuffle, spill, cpu, gc = [], 0.0, 0.0, 0.0, 0.0, 0.0
    for c in traced:
        cj = jobs_by_call.get(c["id"], [])
        cs = call_stages(c["id"])
        jobs += len(cj)
        stages += len(cs)
        tasks += sum(st["tasks"] for st in cs)
        ivs = [(max(j["t0"], c["t0"]), min(j["t1"] or c["t1"], c["t1"])) for j in cj]
        busy.append(union_length([iv for iv in ivs if iv[1] > iv[0]]) / max(c["t1"] - c["t0"], 1e-9))
        scans += sum(st["input"] for st in cs) / max(table_bytes, 1)
        shuffle += sum(st["shuffle_w"] for st in cs)
        spill += sum(st["spill"] for st in cs)
        cpu += sum(st["cpu_ns"] for st in cs)
        gc += sum(st["gc_ms"] for st in cs)
    m["spark.jobs_per_call"] = _m(jobs / n, "count")
    m["spark.stages_per_call"] = _m(stages / n, "count")
    m["spark.tasks_per_call"] = _m(tasks / n, "count")
    m["spark.job_busy_share"] = _m(statistics.mean(busy) if busy else 0.0, "share")
    m["spark.scans_per_call"] = _m(scans / n, "count")
    m["spark.shuffle_write_mb"] = _m(shuffle / n / 2**20, "MB")
    m["spark.spill_mb"] = _m(spill / n / 2**20, "MB")
    m["spark.executor_cpu_s"] = _m(cpu / n / 1e9, "s")
    m["spark.gc_s"] = _m(gc / n / 1e3, "s")
    # driver <-> JVM boundary
    m["py4j.roundtrips_per_call"] = _m(sum(c.get("py4j", 0) for c in traced) / n, "count")
    # per catalogue entry
    for wl_specs in spec_names.values():
        for name in wl_specs:
            lat = [c["lat"] for c in traced + untraced if c["spec"] == name]
            tj = [len(jobs_by_call.get(c["id"], [])) for c in traced if c["spec"] == name]
            m[f"spec.{name}.p50_s"] = _m(statistics.median(lat) if lat else 0.0, "s")
            m[f"spec.{name}.jobs"] = _m(statistics.mean(tj) if tj else 0.0, "count")
    # tracing overhead and host noise
    cps_t = len(traced) / max(phases["traced"], 1e-9)
    cps_u = len(untraced) / max(phases["untraced"], 1e-9)
    m["trace.calls_per_s_traced"] = _m(cps_t, "1/s")
    m["trace.calls_per_s_untraced"] = _m(cps_u, "1/s")
    m["trace.overhead_share"] = _m(1.0 - cps_t / cps_u if cps_u else 0.0, "share")
    m["trace.spans"] = _m(len(spans), "count")
    m["host.steal_s"] = _m(host["steal"], "s")
    m["host.iowait_s"] = _m(host["iowait"], "s")
    return m
