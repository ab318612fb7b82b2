"""Pins the benchmark's metric names and units, the tail-percentile rule, the
failure accounting and the generator's determinism.

    python3 -m unittest discover -s pipebench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402


def step(name, seconds, ok=True, unit=0, rows=100, sink_bytes=0):
    return {"unit": unit, "step": name, "ok": ok, "error": "" if ok else "boom",
            "seconds": seconds, "input_rows": rows, "sink_bytes": sink_bytes,
            "sink_files": 0, "gc_pause_s": 0.0, "phases": []}


def record(passes, warm_steps=None, checks=()):
    def p(i, steps, traced=False):
        return {"pass": i, "traced": traced, "steps": steps, "sink_files_live": 0,
                "cached_peak_bytes": 0, "heap_after_gc_bytes": 0, "gc_pause_s": 0.0}
    return {"setup_s": 3.5, "input_bytes": 0, "peak_heap_after_gc_bytes": 1 << 20,
            "peak_scratch_bytes": 1 << 20, "checks": list(checks),
            "warmup": [p(0, warm_steps or [])],
            "passes": [p(i + 1, s) for i, s in enumerate(passes)]}


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        self.assertEqual(metrics.END_TO_END, {
            "setup_s": "s", "run_s": "s", "rows_per_s": "rows/s",
            "peak_heap_mb": "MB", "peak_scratch_mb": "MB", "failed_share": "ratio",
            "increment_p50_s": "s", "increment_tail_s": "s", "write_amp": "ratio"})

    def test_per_layer_names_and_units(self):
        units = metrics.per_layer_units()
        for layer in ["sources", "ops", "pipelines", "neardup", "sim", "text"]:
            for m, u in [("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"),
                         ("build_jobs", "count"), ("jobs", "count"), ("stages", "count"),
                         ("tasks", "count"), ("task_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                         ("sched_delay_s", "s"), ("shuffle_write_mb", "MB"),
                         ("shuffle_read_mb", "MB"), ("spill_mb", "MB"), ("result_mb", "MB"),
                         ("exchanges", "count"), ("rows_out", "count")]:
                self.assertEqual(units.pop(f"{layer}.{m}"), u)
        self.assertEqual(units, {
            "sources.scan_mb": "MB", "sources.sink_mb_written": "MB",
            "sources.sink_files_written": "count", "sources.sink_files_live": "count",
            "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
            "spark.task_s": "s", "spark.cpu_s": "s", "spark.gc_s": "s",
            "spark.sched_delay_s": "s", "spark.shuffle_write_mb": "MB",
            "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
            "spark.cached_mb_peak": "MB", "spark.peak_exec_mem_mb": "MB",
            "jvm.heap_after_gc_mb": "MB", "jvm.gc_pause_s": "s",
            "trace_overhead_s": "s"})

    def test_benchmark_json_matches_reported_metrics(self):
        with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        self.assertEqual(list(e2e), metrics.REPORTED_END_TO_END)
        for name, unit in e2e.items():
            self.assertEqual(metrics.END_TO_END[name], unit)
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(list(layer), metrics.REPORTED_PER_LAYER)
        units = metrics.per_layer_units()
        units.update(metrics.END_TO_END)
        for name, unit in layer.items():
            self.assertEqual(units[name], unit)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         ["curation_dedup", "etl_incremental"])

    def test_every_reported_metric_is_computed(self):
        rec = record([[step("a", 1.0, unit=u) for u in range(12)]])
        e2e, _ = metrics.end_to_end(rec)
        self.assertTrue(set(metrics.REPORTED_END_TO_END) <= set(e2e))
        layer, _ = metrics.per_layer(rec)
        e2e.update(layer)
        self.assertTrue(set(metrics.REPORTED_PER_LAYER) <= set(e2e))


class LayerAttribution(unittest.TestCase):
    def phase(self, name, layer, seconds, jobs, **kw):
        ph = {"phase": name, "layer": layer, "seconds": seconds, "jobs": jobs,
              "stages": jobs, "tasks": jobs, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
              "sched_delay_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
              "spill_bytes": 0, "result_bytes": 0, "scan_bytes": 0, "output_bytes": 0,
              "output_rows": 0, "peak_exec_mem_bytes": 0, "exchanges": 0}
        ph.update(kw)
        return ph

    def test_each_phase_counts_for_its_own_layer(self):
        s = step("d01/daily", 1.0)
        s["phases"] = [self.phase("build", "ops", 0.25, 2),
                       self.phase("plan", "ops", 0.125, 0),
                       self.phase("exec", "sources", 0.5, 3, output_rows=7)]
        s["sink_bytes"] = 1 << 20
        rec = record([[s], [step("d01/daily", 0.9)]])
        rec["passes"][0]["traced"] = True
        layer, _ = metrics.per_layer(rec)
        self.assertEqual((layer["ops.build_s"], layer["ops.plan_s"], layer["sources.exec_s"]),
                         (0.25, 0.125, 0.5))
        self.assertEqual((layer["ops.build_jobs"], layer["ops.jobs"], layer["sources.jobs"],
                          layer["sources.build_jobs"], layer["spark.jobs"]), (2, 2, 3, 0, 5))
        self.assertEqual((layer["sources.rows_out"], layer["sources.sink_mb_written"]), (7, 1.0))
        self.assertAlmostEqual(layer["trace_overhead_s"], 0.1)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 31)]  # 30 increments
        value, pct, n = metrics.tail(list(reversed(xs)))
        # ten samples (21..30) lie beyond the 20th smallest
        self.assertEqual((value, n), (20.0, 30))
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_eleven_samples_use_the_smallest(self):
        self.assertEqual(metrics.tail([5.0] + [9.0] * 10)[:2], (5.0, 100.0 / 11))

    def test_ten_or_fewer_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail([1.0, 2.0, 3.0, 10.0]), (2.5, 50.0, 4))


class Failures(unittest.TestCase):
    def test_failed_step_counts_against_failed_share(self):
        rec = record([[step("a", 1.0, unit=0), step("b", 0.1, ok=False, unit=1)]],
                     warm_steps=[step("a", 2.0, unit=0), step("b", 0.2, unit=1)])
        e2e, extra = metrics.end_to_end(rec)
        self.assertEqual((extra["attempted"], extra["failed"]), (4, 1))
        self.assertEqual(e2e["failed_share"], 0.25)
        # the failed step is excluded from run_s, never a fast success
        self.assertEqual(e2e["run_s"], 1.0)
        self.assertEqual(e2e["rows_per_s"], 100.0)

    def test_wrong_output_counts_as_failed(self):
        rec = record([[step("a", 1.0)]], warm_steps=[step("a", 2.0)],
                     checks=[{"step": "d12/raw", "ok": False, "error": "rows missing"}])
        _, extra = metrics.end_to_end(rec, oracle_failures=[True])
        self.assertEqual((extra["attempted"], extra["failed"]), (4, 2))


class Generator(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 7, fact_scale=1, n_docs=50, days=5)
            b = gen.generate(os.path.join(d, "b"), 7, fact_scale=1, n_docs=50, days=5)
            c = gen.generate(os.path.join(d, "c"), 8, fact_scale=1, n_docs=50, days=5)
            self.assertEqual(a, b)
            for name in ["events.parquet", "documents.parquet", "increments/d03.parquet"]:
                with open(os.path.join(d, "a", name), "rb") as fa, \
                        open(os.path.join(d, "b", name), "rb") as fb, \
                        open(os.path.join(d, "c", name), "rb") as fc:
                    xa, xb, xc = fa.read(), fb.read(), fc.read()
                self.assertEqual(xa, xb)
                self.assertNotEqual(xa, xc)

    def test_inputs_and_oracle_key_follow_the_spec(self):
        spec = gen.input_spec(7, fact_scale=1, days=5)
        self.assertIn("generator", spec)
        self.assertEqual(gen.spec_key(spec), gen.spec_key(gen.input_spec(7, fact_scale=1, days=5)))
        self.assertNotEqual(gen.spec_key(spec), gen.spec_key(gen.input_spec(7, fact_scale=2, days=5)))
        with tempfile.TemporaryDirectory() as d:
            small = gen.generate(d, 7, fact_scale=1, days=5)
            # same directory, another size: regenerated, not reused
            large = gen.generate(d, 7, fact_scale=2, days=5)
            self.assertEqual((small["events"], large["events"]), (1000, 2000))
            with open(os.path.join(d, "_inputs.json")) as f:
                self.assertEqual(json.load(f)["spec"], gen.input_spec(7, fact_scale=2, days=5))

    def test_each_event_corrected_at_most_once(self):
        import numpy as np
        rng = np.random.default_rng(1)
        events = gen.events_table(rng, 2, days=10)
        seen = {}
        for name, inc in gen.increments(events, 10).items():
            d = int(name[1:])
            day = ((inc.column("ts").cast("int64").to_numpy() - gen.EPOCH_2024_US)
                   // gen.DAY_US) + 1
            self.assertTrue(((day <= d) & (day >= d - 3)).all())
            for i in inc.column("event_id").to_numpy()[day < d]:
                self.assertNotIn(i, seen)
                seen[i] = d


if __name__ == "__main__":
    unittest.main()
