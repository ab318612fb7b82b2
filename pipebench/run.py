#!/usr/bin/env python3
"""Pipeline benchmark: one seeded workload, one run.

    python3 pipebench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program from source on first use,
generates the seed's inputs (untimed), runs the workload in one JVM, checks
every output, and prints one JSON line as the last line of stdout:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
The full record, with every metric, the per-step trace and the run context,
goes to `pipebench/.work/records/`. Exits non-zero when an output is wrong.
See pipebench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")

# input sizes per workload (generator arguments besides the seed). The
# incremental replay runs past its 7-day window, so the last increments must
# leave the oldest daily partitions as they are, and the output check sees it.
SIZES = {
    "etl_reference": {"fact_scale": 10},
    "etl_incremental": {"fact_scale": 10, "days": 11},
    "curation_dedup": {"n_docs": 2000, "dup_pct": 10},
}

HEAP = "2g"
DEADLINE_S = 170  # a run must end within 180 s (900 s when it builds)
BUILD_DEADLINE_S = 880


def cpu_ticks():
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return sum(fields[:8]), fields[7] if len(fields) > 7 else 0
    except OSError:
        return None


def context(t0, ticks0, fp):
    ticks1 = cpu_ticks()
    steal = -1.0
    if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
        steal = round(100.0 * (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0]), 2)
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            boot_id = f.read().strip()
    except OSError:
        boot_id = "unknown"
    other_jvms = 0
    for pid in os.listdir("/proc") if os.path.isdir("/proc") else []:
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"java" in f.read().split(b"\0")[0]:
                        other_jvms += 1
            except OSError:
                pass
    commit = os.environ.get("GIT_COMMIT", "")
    if not commit:
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                    text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            commit = ""
    return {
        "boot_id": boot_id, "steal_pct": steal, "load_avg": os.getloadavg()[0],
        "other_jvms": other_jvms, "nproc": os.cpu_count(), "heap": HEAP,
        "git_commit": commit or "unknown", "source_fingerprint": fp,
        "wall_s": time.time() - t0,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    ticks0 = cpu_ticks()

    classes, fp, built = build.build()
    size = SIZES[args.workload]
    input_dir = os.path.join(WORK, "inputs", f"{args.workload}-s{args.seed}")
    rows = gen.generate(input_dir, args.seed, **size)

    # every run starts with empty sink, output and scratch directories
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t0)}"
    raw_path = os.path.join(run_dir, "record.json")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + build.ADD_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-cp", f"{classes}{os.pathsep}{jars}", "pipebench.Main",
            "--workload", args.workload, "--input", input_dir, "--work", run_dir,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-id", run_id, "--record", raw_path,
            "--days", str(size.get("days", 0)),
            "--rows", ",".join(f"{k}={v}" for k, v in rows.items())])
    log_path = os.path.join(run_dir, "jvm.log")
    deadline = (BUILD_DEADLINE_S if built else DEADLINE_S) - (time.time() - t0)
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, deadline - 15))
            code = proc.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"pipebench: harness JVM failed ({code})")
    with open(raw_path) as f:
        record = json.load(f)

    oracle_checks = {}
    if os.path.exists(os.path.join(run_dir, "out", "oracle_sql.json")):
        oracle_checks = oracle.check(
            input_dir, os.path.join(run_dir, "out"),
            [s["step"] for s in record["warmup"][0]["steps"]],
            os.path.join(WORK, "oracle", gen.spec_key(gen.input_spec(args.seed, **size))))
    checks = dict(oracle_checks)
    checks.update({c["step"]: None if c["ok"] else c["error"] for c in record["checks"]})
    bad = {k: v for k, v in checks.items() if v}
    for k, v in bad.items():
        print(f"pipebench: WRONG OUTPUT {k}: {v}", file=sys.stderr)

    e2e, e2e_extra = metrics.end_to_end(record, [bool(v) for v in oracle_checks.values()])
    layer, layer_units = metrics.per_layer(record) if args.trace else ({}, {})
    failed_steps = [s["step"] for p in record["warmup"] + record["passes"]
                    for s in p["steps"] if not s["ok"]]
    correct = not bad and not failed_steps

    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id, "sizes": size, "rows": rows,
        "correct": correct, "wrong_outputs": bad, "failed_steps": failed_steps,
        "end_to_end": {k: {"value": v, "unit": metrics.END_TO_END[k]} for k, v in e2e.items()},
        "end_to_end_detail": e2e_extra,
        "setup": {"jvm_boot_s": record["jvm_boot_s"], "setup_s": record["setup_s"],
                  "warmup_pass_s": [metrics.pass_seconds(p) for p in record["warmup"]]},
        "pass_seconds": [{"pass": p["pass"], "traced": p["traced"],
                          "seconds": metrics.pass_seconds(p)} for p in record["passes"]],
        "per_layer": {k: {"value": v, "unit": layer_units[k]} for k, v in layer.items()},
        "steps": metrics.step_table(record),
        "spans": record["spans"],
        "context": context(t0, ticks0, fp),
    }
    out_path = os.path.join(WORK, "records", run_id + ".json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1)
    print(f"pipebench: record {out_path}", file=sys.stderr)

    if args.trace:
        everything = dict(full["per_layer"], **full["end_to_end"])
        shown = {k: everything[k] for k in metrics.REPORTED_PER_LAYER}
    else:
        shown = {k: full["end_to_end"][k] for k in metrics.REPORTED_END_TO_END}
    print(json.dumps({"correct": correct, "attempted": e2e_extra["attempted"],
                      "failed": e2e_extra["failed"], "metrics": shown}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
