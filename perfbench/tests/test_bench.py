"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import json
import math
import os
import re
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def synthetic_raw(workload):
    """A traced run's raw result with one span of every kind."""
    spans, sid = [], 0

    def span(name, start, end, parent=0, req=1, work=None):
        nonlocal sid
        sid += 1
        row = [sid, parent, req, name, start, end]
        if work:
            row.append(work)
        spans.append(row)
        return sid

    work = {"jobs": 2, "stages": 3, "tasks": 4, "input_bytes": 10, "shuffle_bytes": 5,
            "spill_bytes": 0, "task_ms": [[0.5, 0.8]]}
    span("api.http", 0, 4_000_000)
    span("core.served.vector", 4_000_000, 5_000_000)
    span("api.serve_user.hit", 100, 200)
    span("api.serve_user.build", 100, 900)
    for n in ("core.insert", "core.remove", "core.flush", "core.compact"):
        span(n, 0, 1_000_000, work=work)
    span("op.query", 0, 2_000_000, work=work)
    top = span("op.search", 0, 3_000_000)
    span("core.snapshot", 0, 1_000_000, parent=top)
    span("core.search", 1_000_000, 3_000_000, parent=top, work=work)
    samples = {"request_ms": [1.0, 2.0], "search_ms": [1.0, 3.0], "served_ms": [5.0],
               "compact_bytes_rewritten": [100.0], "segments_at_read": [2.0],
               "tail_batches_at_read": [3.0], "tomb_files_at_read": [1.0],
               "overhead.traced_ms": [5.0, 7.0], "overhead.untraced_ms": [4.0, 5.0],
               "query_s.q19_exact_dedup": [0.2, 0.1, 0.3], "query_s.q99_line_dedup": [0.5],
               "query_count_s.q19_exact_dedup": [0.05]}
    values = {"requests": 2, "measured_s": 1.0, "ingested_docs": 10, "writer_s": 2.0, "loop_s": 4.0,
              "ingested_bytes": 1000.0, "io_write_bytes_measured": 3000.0,
              "bytes_stored": 5000.0, "files_stored": 7, "space_amp": 5.0, "gc_s": 0.1,
              "heap_live_mb": 100.0, "spark_jobs_measured": 0, "spark_stages_measured": 0,
              "spark_tasks_measured": 0}
    for k, v in list(samples.items()):
        samples["base." + k] = v
    for k, v in list(values.items()):
        values["base." + k] = v
    return {"setup_s": [1.0, 2.0, 3.0], "spans": spans, "samples": samples, "values": values,
            "epoch_offset_ms": 0.0, "checks": [], "failures": [], "attempted": 1, "failed": 0}


class StatsTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        for n in list(range(11, 300)) + [999, 1000, 1001, 5000]:
            xs = [float(i) for i in range(n)]
            for p in (0.5, 0.9, 0.99):
                v, p_used = stats.tail(xs, p)
                self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, (n, p))
                # never above the nearest-rank p-quantile itself
                self.assertLessEqual(v, xs[math.ceil(p * n) - 1])
        self.assertEqual(stats.tail([1.0] * 10, 0.99), (0.0, 0.0))
        # enough samples: the nearest-rank p99 itself
        xs = [float(i) for i in range(1, 2001)]
        self.assertEqual(stats.tail(xs, 0.99), (1980.0, 0.99))

    def test_self_time_merges_overlapping_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},   # overlaps 2
            {"id": 4, "parent": 1, "start": 80, "end": 120},  # runs past the parent
            {"id": 5, "parent": 2, "start": 12, "end": 20},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 20)
        self.assertEqual(st[2], 30 - 8)
        self.assertEqual(st[4], 40)

    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        e2e = {m["name"] for m in spec["end_to_end"]}
        layer = {m["name"] for m in spec["per_layer"]}
        for n in e2e | layer | {w["name"] for w in spec["workloads"]}:
            self.assertRegex(n, NAME)
        for w in spec["workloads"]:
            raw = synthetic_raw(w["name"])
            got_e2e = stats.end_to_end(w["name"], raw)
            got_layer = stats.per_layer(w["name"], raw)
            self.assertEqual(set(got_e2e), e2e)
            self.assertEqual(set(got_layer), layer)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
            for name, (_, unit) in list(got_e2e.items()) + list(got_layer.items()):
                self.assertEqual(unit, units[name], name)

    def test_traced_attribution(self):
        m = stats.per_layer("churn", synthetic_raw("churn"))
        self.assertEqual(m["spark.jobs.search"][0], 2)       # via the child core.search
        self.assertEqual(m["core.served.hit_ratio"][0], 0.5)
        self.assertEqual(m["api.http_self_ms"][0], 3.0)       # 4 ms round trip - 1 ms replay
        self.assertEqual(m["core.flush_share"][0], 0.25)
        self.assertEqual(m["spark.jobs.query"][0], 2)
        self.assertEqual(m["overhead.read_p50_ms"][0], 6.0 - 4.5)   # paired searches
        serve = stats.per_layer("serve", synthetic_raw("serve"))
        self.assertEqual(serve["spark.jobs.serve"][0], 0)
        self.assertAlmostEqual(serve["queries.dedup_s"][0], 0.2 + 0.5)  # family sum of medians
        self.assertAlmostEqual(serve["queries.noop_total_s"][0], 0.7)
        self.assertAlmostEqual(serve["queries.count_total_s"][0], 0.05)
        self.assertEqual(serve["queries.relational_s"][0], 0.0)


class QuerySpecTest(unittest.TestCase):
    def test_every_query_is_a_sparkentry_entry_with_a_family(self):
        with open(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) as f:
            src = f.read()
        spec = stats.query_spec()
        for name, q in spec.items():
            self.assertIn('"%s" ->' % name, src)
            self.assertIn(q["family"], stats.QUERY_FAMILIES)
            self.assertGreater(q["rows"], 0, name)
            self.assertRegex(q["digest"], r"^[0-9a-f]{16}$", name)
        self.assertEqual({q["family"] for q in spec.values()}, set(stats.QUERY_FAMILIES))


class GeneratorTest(unittest.TestCase):
    def digest(self, seed):
        classes = build.build()
        cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        return subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.GenDigest", str(seed)],
                              check=True, capture_output=True, text=True).stdout.strip()

    def test_same_seed_same_inputs(self):
        a, b, c = self.digest(7), self.digest(7), self.digest(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a.split()[0], c.split()[0])
        self.assertNotEqual(a.split()[1], c.split()[1])


if __name__ == "__main__":
    unittest.main()
