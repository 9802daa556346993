"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
under ``.perfbench/`` in the checkout, which also receives the run
record (``results/``) and, for ``--trace 1``, the spans file and its
per-layer rollup. The last stdout line is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it describes the run (cores, session policy, input sizes,
host contention).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SETUP_REPS = 5  # set-ups per run; setup_s is their median


def _environment(cpus: int) -> None:
    """Keep every file the run writes inside the checkout, and run on
    local[nproc] with a driver heap small enough for a shared host."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(WORK, "warehouse"),
        "SPARK_DRIVER_MEMORY": "2g",
        "TMPDIR": tmp,
        # every JVM the launcher starts: no /tmp/hsperfdata, temp files here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = None


# name -> unit; BENCHMARK.json lists the same names (test_perfbench pins it)
END_TO_END = {
    "p50_ms": "ms",  # median request latency
    "p75_ms": "ms",  # 75th percentile, >= 40 requests per run
    "requests_per_s": "1/s",  # requests completed per second of request time
    "cycle_s": "s",  # median wall time of one cycle (a round of the mix, an epoch)
    "cpu_s": "s",  # median executor cpu-seconds per cycle (not inflated by steal)
    "setup_s": "s",  # median of SETUP_REPS full set-ups
    "peak_mem_mb": "MB",  # driver JVM memory pools' peaks + Python peak RSS
}
_STAGE_LAYERS = {  # per-cycle medians of status-store readings: (key, scale, unit)
    "scheduler.jobs": ("jobs", 1, "count"),
    "scheduler.stages": ("stages", 1, "count"),
    "scheduler.tasks": ("tasks", 1, "count"),
    "executor.cpu_s": ("cpu_ns", 1e-9, "s"),
    "executor.run_s": ("run_ms", 1e-3, "s"),
    "executor.gc_s": ("gc_ms", 1e-3, "s"),
    "executor.deserialize_s": ("deserialize_ms", 1e-3, "s"),
    "executor.shuffle_fetch_wait_s": ("fetch_wait_ms", 1e-3, "s"),
    "executor.spill_bytes": ("spill_bytes", 1, "bytes"),
    "exchange.shuffle_write_bytes": ("shuffle_write_bytes", 1, "bytes"),
    "exchange.shuffle_write_records": ("shuffle_write_records", 1, "count"),
    "exchange.shuffle_read_bytes": ("shuffle_read_bytes", 1, "bytes"),
    "sources.input_bytes": ("input_bytes", 1, "bytes"),
    "sources.input_records": ("input_records", 1, "count"),
}
_WORKLOAD_LAYERS = {  # filled by the workload that calls the layer, else 0
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plans.etl.transform_s": "s",
    "plans.etl.write_s": "s",
    "sinks.bytes_per_row": "bytes/row",
    "ml.retrain_s": "s",
    "ml.retrain_jobs": "count",
    "ml.recommender_fit_s": "s",
    "ml.recommend_ms": "ms",
}


def _per_layer_units() -> dict[str, str]:
    from workloads import DASHBOARD_TYPES

    return {
        "session.get_spark_s": "s",
        "sources.load_s": "s",
        **{k: u for k, (_, _, u) in _STAGE_LAYERS.items()},
        "scheduler.idle_core_s": "s",
        "executor.task_skew": "ratio",
        "executor.failed_tasks": "count",
        "executor.cpu_share": "ratio",
        "trace.probe_share": "ratio",
        **_WORKLOAD_LAYERS,
        **{f"dashboard.{t}.p50_ms": "ms" for t in DASHBOARD_TYPES},
    }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _cycles(wl) -> list[dict]:
    """The cycles that completed; all of them when none did, so that a
    run whose every cycle failed still reports what it measured."""
    return [c for c in wl.cycles if not c.get("failed")] or wl.cycles


def end_to_end(wl, setups: list[float], mem_mb: float) -> dict[str, float]:
    cyc = _cycles(wl)
    lat = [s for _, s in wl.latencies] or [c["wall_s"] for c in cyc]
    return {
        "p50_ms": statistics.median(lat) * 1e3,
        "p75_ms": percentile(lat, 0.75) * 1e3,
        "requests_per_s": len(lat) / sum(lat),
        "cycle_s": statistics.median(c["wall_s"] for c in cyc),
        "cpu_s": statistics.median(c["cpu_ns"] for c in cyc) / 1e9,
        "setup_s": statistics.median(setups),
        "peak_mem_mb": mem_mb,
    }


def per_layer(wl, cpus: int, probe_s: float, timed_s: float) -> dict[str, float]:
    """Every per-layer metric, the same set on every workload; a layer
    the workload does not call reads 0."""
    cyc = _cycles(wl)
    med = lambda f: statistics.median(f(c) for c in cyc)  # noqa: E731
    out = {
        "session.get_spark_s": statistics.median(wl.layer_setup["session.get_spark"]),
        "sources.load_s": statistics.median(wl.layer_setup["sources.load"]),
        **{k: med(lambda c: c.get(key, 0) * scale) for k, (key, scale, _) in _STAGE_LAYERS.items()},
        # core-time with no task running: cycle wall x cores - executor run time
        "scheduler.idle_core_s": med(lambda c: c["wall_s"] * cpus - c.get("run_ms", 0) / 1e3),
        "executor.task_skew": max(c.get("task_skew", 1.0) for c in cyc),
        "executor.failed_tasks": sum(c.get("failed_tasks", 0) for c in cyc),
        "executor.cpu_share": med(lambda c: c["cpu_ns"] / 1e6 / c["run_ms"] if c.get("run_ms") else 0.0),
        "trace.probe_share": probe_s / timed_s,
        **dict.fromkeys(_WORKLOAD_LAYERS, 0.0),
        **{k: 0.0 for k in _per_layer_units() if k.startswith("dashboard.")},
        **wl.layer_extras(),
    }
    return out


def _stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool, options: dict | None = None) -> tuple[dict, dict]:
    """Run one workload; returns (result line, run record)."""
    from bench import _env_delta, _env_probe
    from probe import peak_pools_mb, peak_rss_mb
    from spans import Tracer, rollup
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    tracer = Tracer(trace)
    wl = WORKLOADS[workload](WORK, seed, tracer, **(options or {}))
    try:
        t = time.perf_counter()
        with tracer.span("inputs.generate"):
            wl.generate()
        generate_s = time.perf_counter() - t
        setups = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.set_up()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("check"):
            wl.check()
        check_s = time.perf_counter() - t

        env0 = _env_probe()
        wl.begin_timing()
        t0 = time.perf_counter()
        while True:
            wl.cycle()
            n = len(wl.cycles)
            if n >= wl.MAX_CYCLES or (n >= wl.MIN_CYCLES and time.perf_counter() - t0 >= seconds):
                break
        timed_s = time.perf_counter() - t0
        env = _env_delta(env0, _env_probe())
        wl.verify()

        mem_mb = peak_pools_mb(wl.spark)
        e2e = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(wl, setups, mem_mb).items()}
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "nproc": os.cpu_count(), "cpus": cpus, **wl.session_info(),
            "requests": len(wl.latencies), "cycles": len(wl.cycles), "timed_s": timed_s,
            "generate_s": generate_s, "check_s": check_s, "setup_runs_s": setups, "setup_layers_s": wl.layer_setup,
            "cycle_detail": wl.cycles, **wl.detail(),
            "peak_rss_mb": peak_rss_mb(wl.spark),
            "steal_pct": env["steal_pct"], "load1_start": env["load1_start"], "load1_end": env["load1_end"],
            "failures": wl.failures, "end_to_end": e2e,
        }
        if trace:
            probe_ms = rollup(tracer.spans).get("probe.status_store", {}).get("total_ms", 0.0)
            units = _per_layer_units()
            metrics = {k: {"value": v, "unit": units[k]}
                       for k, v in per_layer(wl, cpus, probe_ms / 1e3, timed_s).items()}
        else:
            metrics = e2e
        result = {"correct": not wl.failures, "attempted": wl.attempted, "failed": wl.failed, "metrics": metrics}
        record["metrics"] = metrics
        if trace:
            record["spans"] = tracer.spans
    finally:
        wl.stop()
    return result, record


# record fields too bulky for the info line; they stay in the record file
_BULKY = ("metrics", "end_to_end", "spans", "cycle_detail", "latencies_ms", "epochs")


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    _environment(len(os.sched_getaffinity(0)))
    try:
        result, record = run(a.workload, a.seed, a.seconds, bool(a.trace))
    finally:
        _stop_jvm()
    save(record)
    info = {k: v for k, v in record.items() if k not in _BULKY}
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def save(record: dict) -> None:
    """Write the run record, and for a traced run its spans and rollup
    (with the tracing overhead when the untraced run of the same
    workload and seed is on disk)."""
    from spans import overhead, rollup

    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{record['workload']}-seed{record['seed']}")
    spans = record.pop("spans", None)
    with open(f"{stem}-trace{record['trace']}.json", "w") as f:
        json.dump(record, f, indent=1)
    if spans is None:
        return
    with open(f"{stem}-spans.jsonl", "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    roll = {"layers": rollup(spans)}
    try:
        with open(f"{stem}-trace0.json") as f:
            roll["overhead"] = overhead(json.load(f), record)
    except FileNotFoundError:
        roll["overhead"] = None
    with open(f"{stem}-rollup.json", "w") as f:
        json.dump(roll, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
