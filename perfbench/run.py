"""sparkreg benchmark: closed-loop workloads with answer checks and traces.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 30 --trace 0

One client in one process drives the library's own ``get_session`` on
``local[4]``. The workload's inputs are generated from ``--seed`` and
written under ``.perfbench/`` in the checkout; every call's answer is
checked against a reference computed once per seed outside Spark.

A run measures whole cycles over the workload's catalogue: the first in
catalogue order, so first-call costs (code generation, JIT) land on the same
calls in every run, later ones in seeded orders. ``--trace 0`` prints the
end-to-end metrics. ``--trace 1`` runs one unreported cycle, then alternates
traced and untraced cycles, writes the spans under ``.perfbench/runs/`` and
prints the per-layer metrics, including the tracing overhead (traced
against untraced calls per second).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
records the run's details (tail percentile and sample count, failing
specs, host noise, session settings).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import data  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    SPEC_NAMES,
    WORKLOADS,
    compute_oracles,
    load_specs,
    order,
)

MASTER = "local[4]"
# two shuffle partitions per core: Spark's default of 200 turns every
# shuffle of these small aggregates into 200 near-empty tasks
SHUFFLE_PARTITIONS = 8
SETUP_REPS = 3
TAIL_BEYOND = 10


class Ctx:
    """What a spec's call sees: the session, the loaded inputs, an output dir."""

    def __init__(self, out_dir: str):
        self.spark = None
        self.dfs: dict = {}
        self.out_dir = out_dir


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def configure_env(work: str, trace: bool) -> str:
    """Keep every file Spark and Python write inside the work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "events", str(os.getpid()))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    args = [
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
    ]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            f"--conf spark.eventLog.dir=file://{events}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    return events


def cpu_ticks() -> dict:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"iowait": v[4], "steal": v[7] if len(v) > 7 else 0}


def cpu_seconds(pid: int) -> float:
    """User + system CPU seconds of this process and of process ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def jvm_pool_peaks_mb(spark) -> dict:
    """Peak used MB of each JVM memory pool."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return {
        p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in mf.getMemoryPoolMXBeans()
    }


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def setup(ctx: Ctx, paths: dict, warm) -> list[dict]:
    """Session start, input load and warm-up, ``SETUP_REPS`` times; the
    first includes the JVM launch, later ones restart the SparkContext in
    the running JVM. The last session stays up for the measured calls."""
    from dbreg_spark.sources.io import get_session, load_parquet

    reps = []
    for i in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = get_session(
            "perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS
        )
        ctx.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ctx.dfs = {t: load_parquet(ctx.spark, p) for t, p in paths.items()}
        for df in ctx.dfs.values():
            df.count()
        t2 = time.perf_counter()
        warm(ctx)
        t3 = time.perf_counter()
        reps.append({"session_s": t1 - t0, "load_s": t2 - t1, "setup_s": t3 - t0})
    return reps


def warm_call(workload: str):
    if workload == "interactive_mix":
        from dbreg_spark import dbreg

        return lambda c: dbreg("l_tax ~ l_quantity", c.dfs["lineitem"], strategy="moments")
    from dbreg_spark.operators import dedup

    return lambda c: dedup.exact_duplicates(c.dfs["documents"]).count()


def oracle_path(wl, paths: dict) -> str:
    stem = os.path.splitext(os.path.basename(paths[wl.table]))[0]
    return os.path.join(os.path.dirname(paths[wl.table]), f"oracle-{wl.name}-{stem}.json")


def prepare(wl, work: str, scale: str, data_seed: int) -> None:
    """Generate the inputs and their reference answers (cached beside them)."""
    paths = data.ensure_tables(os.path.join(work, "data"), wl.tables[scale], data_seed)
    path = oracle_path(wl, paths)
    if os.path.exists(path):
        return
    ref = compute_oracles(wl, load_specs(wl), paths)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)


class Runner:
    """Runs cycles of the catalogue and records every call."""

    def __init__(self, ctx, specs, ref, seed, tracer=None):
        self.ctx, self.specs, self.ref, self.seed = ctx, specs, ref, seed
        self.tracer = tracer
        self.calls: list[dict] = []
        self.errors: dict[str, list[str]] = {}
        self.cycle = 0

    def run_cycle(self, traced: bool, phase: str) -> float:
        """One pass over the catalogue in this cycle's order; returns its
        wall time minus the time spent checking answers."""
        sc = self.ctx.spark.sparkContext
        jvm_pid = self.ctx.spark._jvm.ProcessHandle.current().pid()
        t_start = time.perf_counter()
        t_check = 0.0
        for spec in order(self.specs, self.seed, self.cycle):
            call_id = f"c{len(self.calls)}"
            if traced:
                sc.setJobGroup(call_id, spec.name)
                self.tracer.call_id = call_id
                self.tracer.enabled = True
                py4j0 = self.tracer.py4j
            cpu0 = cpu_seconds(jvm_pid)
            w0 = time.time()
            t0 = time.perf_counter()
            ok, res, err = True, None, None
            try:
                res = spec.run(self.ctx)
            except Exception as e:  # a failing call is a failed operation
                ok, err = False, f"{type(e).__name__}: {e}"
            lat = time.perf_counter() - t0
            w1 = time.time()
            cpu = cpu_seconds(jvm_pid) - cpu0
            rec = {"id": call_id, "spec": spec.name, "lat": lat, "cpu": cpu, "t0": w0, "t1": w1,
                   "phase": phase, "cycle": self.cycle, "ok": ok}
            if traced:
                self.tracer.enabled = False
                self.tracer.call_id = None
                rec["py4j"] = self.tracer.py4j - py4j0
                sc.setLocalProperty("spark.jobGroup.id", None)
            c0 = time.perf_counter()
            if ok:
                try:
                    bad = spec.check(res, self.ref[spec.name])
                except Exception as e:  # a result the check cannot read is wrong
                    bad = [f"unreadable result: {type(e).__name__}: {e}"]
                if bad:
                    ok, err = False, "; ".join(bad[:3])
                rec["info"] = result_info(res)
            rec["ok"] = ok
            print(f"perfbench: {phase} {spec.name} {lat:.3f}s {'ok' if ok else err}",
                  file=sys.stderr, flush=True)
            if not ok:
                self.errors.setdefault(spec.name, []).append(err)
            self.calls.append(rec)
            t_check += time.perf_counter() - c0
        self.cycle += 1
        return time.perf_counter() - t_start - t_check


def result_info(res) -> dict:
    """Counts the per-layer metrics read off a call's result."""
    info = {}
    models = []
    if hasattr(res, "coeftable"):
        models = [res]
    elif hasattr(res, "models"):
        models = list(res.models.values())
    elif isinstance(res, dict):
        models = list(res.values())
    elif hasattr(res, "model"):
        models = [res.model]
    strategies = [getattr(m, "strategy", None) for m in models]
    if strategies and strategies[0]:
        info["strategy"] = strategies[0]
    ratios = [m.compression_ratio for m in models if getattr(m, "compression_ratio", None)]
    if ratios:
        info["compression_ratio"] = float(statistics.median(ratios))
    iters = [m.n_iter for m in models if hasattr(m, "n_iter")]
    if iters:
        info["irls_iters"] = int(sum(iters))
    if isinstance(res, list):
        info["rows_out"] = len(res)
    if isinstance(res, str) and os.path.isdir(res):
        import pyarrow.parquet as pq

        files = [os.path.join(res, f) for f in os.listdir(res)]
        info["write_bytes"] = sum(os.path.getsize(f) for f in files)
        info["rows_out"] = sum(
            pq.read_metadata(f).num_rows for f in files if f.endswith(".parquet")
        )
    return info


def tail(lat: list[float], n_min: int) -> tuple[float, float, int]:
    """The latency at the percentile that leaves ``TAIL_BEYOND`` samples
    beyond it when there are ``n_min`` samples (the guaranteed count), with
    that percentile and the number of samples actually beyond it."""
    pct = (n_min - TAIL_BEYOND) / n_min
    s = sorted(lat)
    idx = max(0, math.ceil(pct * len(s)) - 1)
    return s[idx], 100.0 * pct, len(s) - 1 - idx


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched: it exits
    when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dbreg_spark", "__init__.py")):
        fail("no dbreg_spark package in the current directory; run from a checkout")
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    events = configure_env(work, bool(a.trace))
    import dbreg_spark

    if not os.path.abspath(dbreg_spark.__file__).startswith(root):
        fail(f"dbreg_spark imported from {dbreg_spark.__file__}, not this checkout")

    wl = WORKLOADS[a.workload]
    data_seed = a.seed if wl.seeded_data else 0
    if a.prepare:
        prepare(wl, work, a.scale, data_seed)
        return 0
    t_gen = time.perf_counter()
    paths = data.table_paths(os.path.join(work, "data"), wl.tables[a.scale], data_seed)
    if not os.path.exists(oracle_path(wl, paths)):
        # a child process, so generation and oracle memory stay out of the
        # measured process's peak
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), *sys.argv[1:], "--prepare"],
            check=True, stdout=subprocess.DEVNULL,
        )
    with open(oracle_path(wl, paths)) as f:
        ref = json.load(f)
    t_gen = time.perf_counter() - t_gen
    out_dir = os.path.join(work, "out", f"{a.workload}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    ctx = Ctx(out_dir)

    tracer = None
    if a.trace:
        from perfbench.trace import Tracer

        # before the catalogue binds the library's entry points
        tracer = Tracer()
        tracer.install()
    specs = load_specs(wl)

    host0 = cpu_ticks()
    try:
        return measure(a, wl, ctx, specs, ref, paths, tracer, events, work, host0, t_gen)
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)


def measure(a, wl, ctx, specs, ref, paths, tracer, events, work, host0, t_gen) -> int:
    """Set up, run the cycles, check answers and print the result."""
    reps = setup(ctx, paths, warm_call(a.workload))
    table_rows = ctx.dfs[wl.table].count()
    runner = Runner(ctx, specs, ref, a.seed, tracer)
    n_min = wl.cycles_min * len(specs)
    t0 = time.perf_counter()
    phases = {"untraced": 0.0, "traced": 0.0}
    if a.trace:
        # first-call costs land in an unreported cycle, so traced and
        # untraced cycles compare like with like
        runner.run_cycle(False, "warmup")
        t0 = time.perf_counter()
        while True:
            phases["traced"] += runner.run_cycle(True, "traced")
            phases["untraced"] += runner.run_cycle(False, "untraced")
            if time.perf_counter() - t0 >= a.seconds:
                break
    else:
        wall = 0.0
        while runner.cycle < wl.cycles_min or time.perf_counter() - t0 < a.seconds:
            wall += runner.run_cycle(False, "measured")
    jvm_pid = ctx.spark._jvm.ProcessHandle.current().pid()
    rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb(os.getpid())) / 1024.0
    pools = jvm_pool_peaks_mb(ctx.spark)
    # young-generation pools are allocation buffers sized by GC ergonomics;
    # their peaks (and the JVM's VmHWM with them) vary between identical runs
    mem_mb = vm_hwm_kb(os.getpid()) / 1024.0 + sum(
        v for k, v in pools.items() if "Eden" not in k and "Survivor" not in k
    )
    session = {
        "master": MASTER,
        "driver_memory": ctx.spark.conf.get("spark.driver.memory", "1g"),
        "shuffle_partitions": ctx.spark.conf.get("spark.sql.shuffle.partitions"),
        "local_dir": ctx.spark.sparkContext.getConf().get("spark.local.dir", ""),
    }
    session["local_dir_tmpfs"] = session["local_dir"].startswith("/dev/shm")
    stop_jvm(ctx.spark)
    ctx.spark = None
    host1 = cpu_ticks()
    hz = os.sysconf("SC_CLK_TCK")
    host = {k: (host1[k] - host0[k]) / hz for k in host0}

    calls = runner.calls
    attempted = len(calls)
    failed = len([c for c in calls if not c["ok"]])
    detail = {
        "workload": a.workload,
        "seed": a.seed,
        "trace": a.trace,
        "calls": len(calls),
        "cycles": runner.cycle,
        "failed_specs": {k: v[:2] for k, v in runner.errors.items()},
        "error_rate": failed / max(attempted, 1),
        "setup_reps": reps,
        "generate_and_oracle_s": t_gen,
        "host": {"steal_s": host["steal"], "iowait_s": host["iowait"]},
        "session": session,
        "peak_rss_mb": rss_mb,
        "jvm_pool_peaks_mb": pools,
    }
    runs = os.path.join(work, "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    if a.trace:
        from perfbench.layers import per_layer

        tracer.uninstall()
        tracer.write(stem + "-spans.jsonl")
        metrics = per_layer(
            calls, tracer, events, SPEC_NAMES, reps, phases, host,
            table_bytes=os.path.getsize(paths[wl.table]),
        )
        shutil.rmtree(events, ignore_errors=True)
    else:
        measured = [c for c in calls if c["phase"] == "measured"]
        lat = [c["lat"] for c in measured]
        t_val, t_pct, t_beyond = tail(lat, n_min)
        detail["tail_percentile"] = t_pct
        detail["tail_samples"] = len(lat)
        detail["tail_beyond"] = t_beyond
        metrics = {
            "calls_per_s": {"value": len(measured) / wall, "unit": "1/s"},
            "call_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "cpu_s_per_call": {
                "value": sum(c["cpu"] for c in measured) / len(measured), "unit": "s"
            },
            "call_tail_s": {"value": t_val, "unit": "s"},
            "rows_per_s": {"value": len(measured) * table_rows / wall, "unit": "1/s"},
            "peak_mem_mb": {"value": mem_mb, "unit": "MB"},
            "setup_s": {"value": statistics.median(r["setup_s"] for r in reps), "unit": "s"},
        }
    with open(stem + ".json", "w") as f:
        json.dump({"detail": detail, "calls": [
            {k: v for k, v in c.items() if k != "info"} | {"info": c.get("info", {})}
            for c in calls
        ], "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
