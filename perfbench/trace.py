"""Tracing for the benchmark's traced run, kept entirely in these files.

:class:`Tracer` wraps the public functions of each library layer (every
module attribute bound to the same function object is replaced, so calls
through ``from .x import f`` bindings are seen too), records one span per
call (name, layer, start, end, parent, call id) in memory, and counts py4j
round-trips. Spark's own work is read afterwards from the event log the
traced session writes: every benchmark call runs under its own job group,
so jobs, stages and tasks are attributed to calls exactly.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time

# (module, attribute pattern, layer). A pattern ending in "*" matches a
# prefix, one starting with "*" a suffix; "Class.*" wraps a class's public
# methods.
LAYERS = [
    ("dbreg_spark.sources.io", "get_session", "sources"),
    ("dbreg_spark.sources.io", "load_parquet", "sources"),
    ("dbreg_spark.sources.io", "write_parquet", "sources"),
    ("dbreg_spark.formula", "parse_formula", "formula"),
    ("dbreg_spark.design", "build_design", "design"),
    ("dbreg_spark.design", "factor_levels", "design"),
    ("dbreg_spark.api", "dbreg", "api"),
    ("dbreg_spark.api", "compress_plan", "api"),
    ("dbreg_spark.iv", "dbiv", "api"),
    ("dbreg_spark.binsreg", "dbbinsreg", "api"),
    ("dbreg_spark.multi", "dbreg_multi", "api"),
    ("dbreg_spark.split", "dbreg_split", "api"),
    ("dbreg_spark.plans.common", "run_agg", "plans"),
    ("dbreg_spark.plans.common", "run_agg_via_sql", "plans"),
    ("dbreg_spark.plans.frames", "build_*", "plans"),
    ("dbreg_spark.plans.meat", "*_meat", "plans.meat"),
    ("dbreg_spark.solve", "solve_with_fallback", "solve"),
    ("dbreg_spark.solve", "detect_collinearity", "solve"),
    ("dbreg_spark.solve", "compute_vcov", "solve"),
    ("dbreg_spark.wls", "CellDesign.*", "solve"),
    ("dbreg_spark.glm", "dbglm", "glm"),
    ("dbreg_spark.glm", "irls_pass_plan", "glm"),
    ("dbreg_spark.glm", "glm_meat", "glm"),
    ("dbreg_spark.multi_glm", "dbglm_multi", "glm"),
    ("dbreg_spark.split_glm", "dbglm_split", "glm"),
    ("dbreg_spark.operators.dedup", "minhash_lsh_pairs", "dedup"),
    ("dbreg_spark.operators.dedup", "ngram_jaccard_pairs", "dedup"),
    ("dbreg_spark.operators.dedup", "exact_duplicates", "dedup"),
    ("dbreg_spark.operators.dedup", "dedup_components", "dedup"),
    ("dbreg_spark.operators.dedup", "connected_components", "dedup"),
    ("dbreg_spark.operators.text", "repetition_stats", "text"),
    ("dbreg_spark.operators.text", "pack_greedy", "text"),
    ("dbreg_spark.pipeline", "corpus_pipeline", "pipeline"),
]


def _match(name: str, pat: str) -> bool:
    if pat.endswith("*"):
        return name.startswith(pat[:-1])
    if pat.startswith("*"):
        return name.endswith(pat[1:])
    return name == pat


class Tracer:
    """In-memory span recorder. ``install`` patches, ``uninstall`` restores."""

    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.call_id: str | None = None
        self.enabled = False
        self.py4j = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------
    def begin(self, name: str, layer: str) -> int:
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "name": name,
                "layer": layer,
                "parent": self.stack[-1] if self.stack else None,
                "call": self.call_id,
                "t0": time.time(),
                "t1": None,
            }
        )
        self.stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["t1"] = time.time()
        self.stack.pop()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            if not tracer.enabled:
                return fn(*a, **k)
            sid = tracer.begin(name, layer)
            try:
                return fn(*a, **k)
            finally:
                tracer.end(sid)

        return traced

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        import importlib

        originals: dict[int, object] = {}
        for mod_name, pat, layer in LAYERS:
            mod = importlib.import_module(mod_name)
            if "." in pat:
                cls_name, mpat = pat.split(".", 1)
                cls = getattr(mod, cls_name)
                for attr, fn in list(vars(cls).items()):
                    if attr.startswith("_") or not inspect.isfunction(fn):
                        continue
                    if _match(attr, mpat):
                        self._set(cls, attr, self._wrap(fn, f"{cls_name}.{attr}", layer))
                continue
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                    and _match(attr, pat)
                    and id(fn) not in originals
                ):
                    originals[id(fn)] = (fn, self._wrap(fn, f"{mod_name.split('.')[-1]}.{attr}", layer))
        # rebind every alias (``from .x import f``) in every loaded module
        for m in list(sys.modules.values()):
            name = getattr(m, "__name__", "")
            if not (name.startswith("dbreg_spark") or name.startswith("perfbench")):
                continue
            for attr, val in list(vars(m).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    self._set(m, attr, hit[1])
        self._count_py4j()

    def _set(self, owner, attr, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _count_py4j(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = GatewayClient.send_command
        tracer = self

        def send_command(client, command, *a, **k):
            if tracer.enabled:
                tracer.py4j += 1
            return orig(client, command, *a, **k)

        self._set(GatewayClient, "send_command", send_command)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_length(ivs: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(ivs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its child spans cover."""
    clipped = [
        (max(c["t0"], span["t0"]), min(c["t1"], span["t1"])) for c in children
    ]
    return (span["t1"] - span["t0"]) - union_length([iv for iv in clipped if iv[1] > iv[0]])


def read_event_log(path: str) -> dict:
    """Jobs (with their group, stages and interval) and per-stage task
    totals from one Spark event log file."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages}


def _stage() -> dict:
    return {"tasks": 0, "cpu_ns": 0, "gc_ms": 0, "spill": 0, "shuffle_w": 0, "input": 0}
