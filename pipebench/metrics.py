"""Turns the harness's raw record into the benchmark's metrics.

End-to-end metrics come from untraced passes, per-layer metrics from traced
passes. Every name and unit the benchmark reports is declared here.
"""
import statistics

MB = float(1 << 20)

# end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "peak_heap_mb": "MB",
    "peak_scratch_mb": "MB",
    "failed_share": "ratio",
    "increment_p50_s": "s",
    "increment_tail_s": "s",
    "write_amp": "ratio",
}

CODE_LAYERS = ["sources", "ops", "pipelines", "neardup", "sim", "text"]

# what a run prints (BENCHMARK.json declares the same names and units):
# end-to-end metrics with tracing off, per-layer metrics with tracing on
REPORTED_END_TO_END = ["setup_s", "run_s", "rows_per_s"]
COUNT_METRICS = ["build_jobs", "jobs", "stages", "tasks", "shuffle_write_mb",
                 "shuffle_read_mb", "spill_mb", "result_mb", "exchanges", "rows_out"]
REPORTED_PER_LAYER = (
    # Times only where every workload yields a nanosecond-resolution value:
    # a layer a workload never calls reads a constant zero, and the
    # millisecond task counters (gc, scheduler delay) of a layer with a few
    # tiny tasks repeat exactly from run to run. The record keeps them all.
    ["ops.build_s", "ops.plan_s", "ops.cpu_s"] +
    [f"{layer}.{m}" for layer in CODE_LAYERS for m in COUNT_METRICS] +
    ["sources.scan_mb", "sources.sink_mb_written", "sources.sink_files_written",
     "sources.sink_files_live",
     "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.cpu_s",
     "spark.sched_delay_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb",
     "spark.spill_mb", "spark.cached_mb_peak", "spark.peak_exec_mem_mb",
     "jvm.heap_after_gc_mb", "trace_overhead_s",
     "peak_heap_mb", "peak_scratch_mb", "failed_share",
     "increment_p50_s", "increment_tail_s", "write_amp"])

# per-layer metrics of every code layer: suffix -> unit
LAYER_METRICS = {
    "build_s": "s", "plan_s": "s", "exec_s": "s",
    "build_jobs": "count", "jobs": "count", "stages": "count", "tasks": "count",
    "task_s": "s", "cpu_s": "s", "gc_s": "s", "sched_delay_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "result_mb": "MB", "exchanges": "count", "rows_out": "count",
}

EXTRA_METRICS = {
    "sources.scan_mb": "MB",
    "sources.sink_mb_written": "MB",
    "sources.sink_files_written": "count",
    "sources.sink_files_live": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
    "spark.sched_delay_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.cached_mb_peak": "MB", "spark.peak_exec_mem_mb": "MB",
    "jvm.heap_after_gc_mb": "MB", "jvm.gc_pause_s": "s",
    "trace_overhead_s": "s",
}


def per_layer_units():
    units = {f"{layer}.{m}": u for layer in CODE_LAYERS for m, u in LAYER_METRICS.items()}
    units.update(EXTRA_METRICS)
    return units


def tail(values, beyond=10):
    """(value, percentile, n): the latency at the highest percentile that still
    has at least `beyond` samples above it. With too few samples there is no
    such percentile and the median stands in (reported at percentile 50)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return statistics.median(xs), 50.0, n
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n, n


def pass_seconds(p):
    """Wall time of a pass's successful steps; failed steps are excluded."""
    return sum(s["seconds"] for s in p["steps"] if s["ok"])


def unit_latencies(passes):
    """Per-unit latency (an increment, or a catalog step) over passes, counting
    only units whose steps all succeeded."""
    out = []
    for p in passes:
        units = {}
        for s in p["steps"]:
            units.setdefault(s["unit"], []).append(s)
        out += [sum(s["seconds"] for s in u) for u in units.values() if all(s["ok"] for s in u)]
    return out


def failures(record, oracle_failures=()):
    """(attempted, failed): every step run (warm-up and timed passes) and every
    output check; a step that threw or whose output is wrong counts as failed."""
    steps = [s for p in record["warmup"] + record["passes"] for s in p["steps"]]
    checks = record.get("checks", [])
    attempted = len(steps) + len(checks) + len(oracle_failures)
    failed = (sum(1 for s in steps if not s["ok"]) +
              sum(1 for c in checks if not c["ok"]) +
              sum(1 for f in oracle_failures if f))
    return attempted, failed


def end_to_end(record, oracle_failures=()):
    untraced = [p for p in record["passes"] if not p["traced"]]
    run_s = statistics.median(pass_seconds(p) for p in untraced)
    rows = statistics.median(
        sum(s["input_rows"] for s in p["steps"] if s["ok"]) for p in untraced)
    units = unit_latencies(untraced)
    tail_s, tail_pct, n_units = tail(units)
    attempted, failed = failures(record, oracle_failures)
    written = statistics.median(sum(s["sink_bytes"] for s in p["steps"]) for p in untraced)
    return {
        "setup_s": record["setup_s"],
        "run_s": run_s,
        "rows_per_s": rows / run_s if run_s > 0 else 0.0,
        "peak_heap_mb": record["peak_heap_after_gc_bytes"] / MB,
        "peak_scratch_mb": record["peak_scratch_bytes"] / MB,
        "failed_share": failed / attempted if attempted else 1.0,
        "increment_p50_s": statistics.median(units) if units else 0.0,
        "increment_tail_s": tail_s,
        "write_amp": written / record["input_bytes"] if record["input_bytes"] else 0.0,
    }, {"increment_tail_pct": tail_pct, "increments": n_units,
        "passes": len(untraced), "attempted": attempted, "failed": failed}


def _phase_layer_metrics(phase):
    return {
        "jobs": phase["jobs"], "stages": phase["stages"], "tasks": phase["tasks"],
        "task_s": phase["task_s"], "cpu_s": phase["cpu_s"], "gc_s": phase["gc_s"],
        "sched_delay_s": phase["sched_delay_s"],
        "shuffle_write_mb": phase["shuffle_write_bytes"] / MB,
        "shuffle_read_mb": phase["shuffle_read_bytes"] / MB,
        "spill_mb": phase["spill_bytes"] / MB,
        "result_mb": phase["result_bytes"] / MB,
        "exchanges": phase["exchanges"],
        "rows_out": phase["output_rows"] if phase["phase"] == "exec" else 0,
    }


def step_metrics(step):
    """Every per-layer metric one traced step contributes, keyed by name."""
    out = {}

    def add(key, v):
        out[key] = out.get(key, 0) + v

    for ph in step["phases"]:
        layer = ph["layer"]
        add(f"{layer}.{ph['phase']}_s", ph["seconds"])
        for k, v in _phase_layer_metrics(ph).items():
            add(f"{layer}.{k}", v)
            if k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                     "sched_delay_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                add(f"spark.{k}", v)
        if ph["phase"] == "build":
            add(f"{layer}.build_jobs", ph["jobs"])
        add("sources.scan_mb", ph["scan_bytes"] / MB)
        out["spark.peak_exec_mem_mb"] = max(out.get("spark.peak_exec_mem_mb", 0),
                                            ph["peak_exec_mem_bytes"] / MB)
    add("sources.sink_mb_written", step["sink_bytes"] / MB)
    add("sources.sink_files_written", step["sink_files"])
    add("jvm.gc_pause_s", step["gc_pause_s"])
    return out


def per_layer(record):
    """Per-layer metrics per pass, averaged over the traced passes; every
    declared name is present (0 where a workload does not reach the layer)."""
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    units = per_layer_units()
    totals = {k: 0.0 for k in units}
    peak_exec = 0.0
    for p in traced:
        for s in p["steps"]:
            for k, v in step_metrics(s).items():
                if k == "spark.peak_exec_mem_mb":
                    peak_exec = max(peak_exec, v)
                else:
                    totals[k] += v
        totals["sources.sink_files_live"] += p["sink_files_live"]
        totals["spark.cached_mb_peak"] += p["cached_peak_bytes"] / MB
        totals["jvm.heap_after_gc_mb"] += p["heap_after_gc_bytes"] / MB
    n = max(1, len(traced))
    out = {k: v / n for k, v in totals.items()}
    out["spark.peak_exec_mem_mb"] = peak_exec
    if traced and untraced:
        out["trace_overhead_s"] = (statistics.median(pass_seconds(p) for p in traced) -
                                   statistics.median(pass_seconds(p) for p in untraced))
    return out, units


# per-layer metrics measured per pass, not per step
PASS_LEVEL = {"sources.sink_files_live", "spark.cached_mb_peak",
              "jvm.heap_after_gc_mb", "trace_overhead_s"}


def step_table(record):
    """Every per-step per-layer metric of every traced pass, for the record."""
    zeros = {k: 0 for k in per_layer_units() if k not in PASS_LEVEL}
    return [{"pass": p["pass"], "step": s["step"], "ok": s["ok"],
             "seconds": s["seconds"], "metrics": dict(zeros, **step_metrics(s))}
            for p in record["passes"] if p["traced"] for s in p["steps"]]
