#!/usr/bin/env python3
"""Diff two traced benchmark records step by step and layer by layer.

    python3 pipebench/attribute.py BEFORE.json AFTER.json [--all]

Both arguments are full records written by a `--trace 1` run
(`pipebench/.work/records/*-t1-*.json`). The diff covers the counts that host
interference cannot move — jobs, stages, tasks, shuffle bytes, spill,
exchanges, task result bytes — so a change in wall time can be
attributed to the steps and layers whose work changed. Wall time is listed
beside them for context only. Rows whose counts are equal are hidden unless
`--all` is given.
"""
import argparse
import json
import sys

COUNTS = ["jobs", "build_jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb",
          "spill_mb", "exchanges", "result_mb"]


def per_step(record):
    """{step: {metric: mean over traced passes}}; metric names are layer-qualified."""
    sums, seen = {}, {}
    for row in record["steps"]:
        step = row["step"]
        seen[step] = seen.get(step, 0) + 1
        acc = sums.setdefault(step, {"seconds": 0.0})
        acc["seconds"] += row["seconds"]
        for k, v in row["metrics"].items():
            acc[k] = acc.get(k, 0) + v
    return {s: {k: v / seen[s] for k, v in m.items()} for s, m in sums.items()}


def is_count(name):
    return name.split(".", 1)[-1] in COUNTS


def diff_rows(a, b, show_all):
    rows = []
    for key in sorted(set(a) | set(b)):
        if not is_count(key):
            continue
        va, vb = a.get(key, 0), b.get(key, 0)
        if show_all or abs(va - vb) > 1e-9:
            rows.append((key, va, vb, vb - va))
    return rows


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true", help="also list unchanged counts")
    args = ap.parse_args(argv)
    with open(args.before) as f:
        a = json.load(f)
    with open(args.after) as f:
        b = json.load(f)
    for r in (a, b):
        if not r.get("steps"):
            raise SystemExit(f"{r.get('run_id')}: not a traced record (run with --trace 1)")
    if a["workload"] != b["workload"]:
        print(f"note: different workloads {a['workload']} vs {b['workload']}")
    ca, cb = a["context"], b["context"]
    print(f"before {a['run_id']} seed {a['seed']} commit {ca['git_commit'][:12]} "
          f"steal {ca['steal_pct']}% load {ca['load_avg']:.2f} other_jvms {ca['other_jvms']}")
    print(f"after  {b['run_id']} seed {b['seed']} commit {cb['git_commit'][:12]} "
          f"steal {cb['steal_pct']}% load {cb['load_avg']:.2f} other_jvms {cb['other_jvms']}")
    if ca["boot_id"] != cb["boot_id"]:
        print("note: records come from different boots; compare counts, not times")
    if a["seed"] != b["seed"] or a["sizes"] != b["sizes"]:
        print("note: inputs differ (seed or size); counts may differ for that reason alone")

    sa, sb = per_step(a), per_step(b)
    changed = 0
    print("\n== per step (mean per traced pass) ==")
    for step in sorted(set(sa) | set(sb), key=lambda s: (s not in sa, s)):
        rows = diff_rows(sa.get(step, {}), sb.get(step, {}), args.all)
        if not rows:
            continue
        changed += 1
        wa, wb = sa.get(step, {}).get("seconds", 0.0), sb.get(step, {}).get("seconds", 0.0)
        print(f"{step}  (wall {wa:.3f} s -> {wb:.3f} s)")
        for key, va, vb, d in rows:
            print(f"    {key:<34} {fmt(va):>12} -> {fmt(vb):>12}  ({'+' if d >= 0 else ''}{fmt(d)})")
    if not changed:
        print("no step's counts changed")

    print("\n== per layer (per pass) ==")
    la = {k: v["value"] for k, v in a["per_layer"].items()}
    lb = {k: v["value"] for k, v in b["per_layer"].items()}
    rows = diff_rows(la, lb, args.all)
    for key, va, vb, d in rows:
        print(f"    {key:<34} {fmt(va):>12} -> {fmt(vb):>12}  ({'+' if d >= 0 else ''}{fmt(d)})")
    if not rows:
        print("no layer's counts changed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
