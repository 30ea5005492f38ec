"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The JVM check runs only once a build exists (perfbench/target/
bench-manifest.txt, written by the first benchmark run)."""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import benchlib  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(benchlib.tail_percentile(40), 75)
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(11), 9)
        self.assertIsNone(benchlib.tail_percentile(10))

    def test_tail_refuses_too_few_samples_beyond(self):
        xs = [float(i) for i in range(1, 41)]
        self.assertEqual(benchlib.tail(xs, 75), 30.0)
        with self.assertRaises(ValueError):
            benchlib.tail(xs, 76)

    def test_rule_holds_for_every_size(self):
        for n in range(11, 300):
            p = benchlib.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > benchlib.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10)
            if p < 99:  # one percentile higher breaks the rule
                self.assertRaises(ValueError, benchlib.tail, xs, p + 1)


def span(i, name, a, b, parent=0):
    return {"id": i, "name": name, "start": a, "end": b, "parent": parent}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, "engine.x.release", 0.0, 10.0),
                 span(2, "sources.x.read", 1.0, 3.0, 1),
                 span(3, "sinks.nt.write", 4.0, 8.0, 1),
                 span(4, "spark.job.0", 4.5, 7.5, 3)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st["engine"], 4.0)   # 10 - 2 - 4
        self.assertAlmostEqual(st["sources"], 2.0)
        self.assertAlmostEqual(st["sinks"], 1.0)    # 4 - 3
        self.assertAlmostEqual(st["spark"], 3.0)

    def test_overlapping_children_count_once(self):
        spans = [span(1, "spark.job.1", 0.0, 4.0),
                 span(2, "spark.stage.1.0", 0.5, 3.0, 1),
                 span(3, "spark.stage.2.0", 1.0, 3.5, 1)]
        self.assertAlmostEqual(benchlib.self_times(spans)["spark"], 1.0 + 2.5 + 2.5)

    def test_children_clipped_to_parent(self):
        spans = [span(1, "queries.q.q01", 0.0, 2.0), span(2, "spark.job.3", 1.5, 2.5, 1)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st["queries"], 1.5)


    def test_jobs_counted_under_nearest_layer(self):
        spans = [span(1, "queries.q.q01", 0.0, 5.0),
                 span(2, "spark.job.0", 0.5, 1.0, 1),
                 span(3, "spark.job.1", 1.5, 2.0, 1),
                 span(4, "spark.stage.7.0", 1.5, 2.0, 3),
                 span(5, "operators.bm25.query", 6.0, 7.0),
                 span(6, "spark.job.2", 6.1, 6.5, 5),
                 span(7, "queries.t.t03", 8.0, 9.0)]
        self.assertEqual(benchlib.jobs_under(spans, "queries"), (1, 2))
        self.assertEqual(benchlib.jobs_under(spans, "operators"), (1, 1))


class MetricLine(unittest.TestCase):
    def test_round_trip(self):
        units = {"wall_s": "s", "peak_rss_mb": "MB"}
        vals = {"wall_s": 12.345678901234, "peak_rss_mb": 1024.5}
        line = benchlib.metric_line(True, 40, 0, vals, units)
        d = benchlib.parse_metric_line(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(d["metrics"]["wall_s"], {"value": 12.345678901234, "unit": "s"})
        self.assertEqual(d["attempted"], 40)
        self.assertNotIn("\n", line)

    def test_missing_value_is_refused(self):
        with self.assertRaises(ValueError):
            benchlib.metric_line(True, 1, 0, {"wall_s": None}, {"wall_s": "s"})
        with self.assertRaises(ValueError):
            benchlib.metric_line(True, 1, 0, {"wall_s": float("nan")}, {"wall_s": "s"})

    def test_parse_refuses_extra_keys(self):
        with self.assertRaises(ValueError):
            benchlib.parse_metric_line('{"correct": true, "attempted": 1, "failed": 0, '
                                       '"metrics": {}, "extra": 1}')


class MetricCatalogue(unittest.TestCase):
    """BENCHMARK.json and layers.json describe the same metrics, and each
    per-layer metric names the metric it should move (or "none")."""

    def test_every_metric_documented_and_mapped(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(BENCH, "layers.json")) as f:
            layers = json.load(f)
        e2e = [m["name"] for m in spec["end_to_end"]]
        per_layer = [m["name"] for m in spec["per_layer"]]
        self.assertEqual(sorted(e2e), sorted(layers["end_to_end"]))
        self.assertEqual(sorted(per_layer), sorted(layers["per_layer"]))
        self.assertIn("setup_s", e2e)
        for name, entry in layers["per_layer"].items():
            moved = entry["moves"].split(" ", 1)[0].rstrip(":")
            self.assertIn(moved, e2e + per_layer + ["none"], name)


class HostNoise(unittest.TestCase):
    def test_host_noise(self):
        s0 = [100, 0, 50, 1000, 10, 0, 5, 20]
        s1 = [300, 0, 150, 1100, 30, 0, 5, 70]
        n = benchlib.host_noise(s0, s1, 1.0, 2.0, own_cpu_s=2.5)
        self.assertAlmostEqual(n["steal_s"], 0.5)
        self.assertAlmostEqual(n["iowait_s"], 0.2)
        self.assertAlmostEqual(n["other_cpu_s"], 0.5)


class JvmJsonUnderCommaLocale(unittest.TestCase):
    """The JVM record must parse when the JVM's default locale writes
    decimal commas."""

    def test_record_json_under_de_locale(self):
        manifest = os.path.join(BENCH, "target", "bench-manifest.txt")
        if not os.path.isfile(manifest):
            self.skipTest("no build yet (run the benchmark once)")
        cp, opts = [], []
        with open(manifest) as f:
            for line in f:
                kind, _, val = line.rstrip("\n").partition("\t")
                (cp if kind == "cp" else opts).append(val)
        out = subprocess.run(
            ["java", "-Duser.language=de", "-Duser.country=DE", "-cp", os.pathsep.join(cp),
             "graftbench.JsonSelfTest"], capture_output=True, text=True, check=True).stdout
        localized, record = out.strip().splitlines()[-2:]
        self.assertEqual(localized, "1,50")  # the locale is really in effect
        d = json.loads(record)
        self.assertEqual(d["pi"], 3.141592653589793)
        self.assertEqual(d["n"], 12345678901)
        self.assertEqual(d["s"], 'a"b\\c\n')
        self.assertEqual(d["small"], 1.5e-7)
        self.assertIsNone(d["nan"])


if __name__ == "__main__":
    unittest.main()
