"""Unit tests of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class ModuleMapping(unittest.TestCase):
    def test_paths_map_to_layer_modules(self):
        cases = {
            "graft/pipeline/Increment.scala": "pipeline.Increment",
            "graft/operators/Dedup.scala": "operators.Dedup",
            "graft/core/Ops.scala": "core.Ops",
            "graft/Main.scala": "Main",
            "graft/probes/ExtProbes.scala": "probes",
            "graft/plans/GraftExtensions.scala": "probes",
            "graft/pipeline/Delive.scala": "probes",
            "graft/pipeline/SyncLink.scala": "probes",
            "graft/Tables.scala": "probes",
            "graft/README.md": None,
        }
        for path, module in cases.items():
            self.assertEqual(metrics.module_of_path(path), module, path)

    def test_every_source_file_maps_to_a_module(self):
        src = os.path.join(run.ROOT, "src", "main", "scala")
        files = metrics.file_modules(src)
        self.assertEqual(files["Increment.scala"], "pipeline.Increment")
        self.assertEqual(files["AnnProbes.scala"], "probes")
        self.assertTrue(all(files.values()))

    def test_jobs_attribute_by_sql_call_site(self):
        files = {"Increment.scala": "pipeline.Increment",
                 "Unknown.scala": "sources.Unknown"}
        job = {"desc": "count at Increment.scala:636",
               "stage_name": "$anonfun at CompletableFuture.java:1768"}
        self.assertEqual(metrics.attribute(job, files, "probes"),
                         "pipeline.Increment")
        self.assertEqual(metrics.attribute(
            {"desc": "collect at Unknown.scala:3", "stage_name": ""},
            files, None), "other")

    def test_own_file_jobs_take_the_enclosing_span(self):
        job = {"desc": "save at Harness.scala:151", "stage_name": ""}
        self.assertEqual(metrics.attribute(job, {}, "probes"), "probes")
        self.assertIsNone(metrics.attribute(job, {}, "bench"))
        self.assertIsNone(metrics.attribute(job, {}, None))

    def test_non_sql_jobs_fall_back_to_their_stage(self):
        files = {"Main.scala": "Main"}
        job = {"desc": "", "stage_name": "count at Main.scala:176"}
        self.assertEqual(metrics.attribute(job, files, None), "Main")
        job = {"desc": "", "stage_name": "run at ThreadPoolExecutor.java:1"}
        self.assertEqual(metrics.attribute(job, files, None), "unattributed")


class Statistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3.0]), 3.0)
        self.assertEqual(metrics.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_quantile_matches_statistics_inclusive(self):
        xs = [7.0, 1.0, 4.0, 9.0, 2.0, 6.0]
        want = statistics.quantiles(xs, n=4, method="inclusive")
        got = [metrics.quantile(xs, q) for q in (0.25, 0.5, 0.75)]
        for a, b in zip(got, want):
            self.assertAlmostEqual(a, b)
        self.assertEqual(metrics.quantile(xs, 0.0), 1.0)
        self.assertEqual(metrics.quantile(xs, 1.0), 9.0)

    def test_steal_share_of_busy_core_time(self):
        self.assertAlmostEqual(
            metrics.steal_share({"busy_s": 6.0, "steal_s": 2.0}), 0.25)
        self.assertEqual(
            metrics.steal_share({"busy_s": 0.0, "steal_s": 0.0}), 0.0)

    def test_union_of_intervals(self):
        self.assertEqual(metrics.union_ms([]), 0.0)
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 3)]), 10)

    def test_driver_gap_is_span_wall_outside_jobs(self):
        spans = [{"start": 0, "end": 1000}]
        jobs = [{"start": 100, "end": 300, "stages": [1]},
                {"start": 200, "end": 400, "stages": []}]
        stages = [{"id": 1, "tasks": 4, "run_ms": 800, "gc_ms": 0,
                   "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                   "max_ms": 300, "median_ms": 150}]
        m = metrics.spark_layer(jobs, stages, spans, cores=4, n_ops=1)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.7)
        self.assertAlmostEqual(m["spark.core_util"], 0.2)
        self.assertAlmostEqual(m["spark.task_skew_max"], 2.0)
        self.assertEqual(m["spark.jobs"], 2)


class SeedDeterminism(unittest.TestCase):
    def _digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            conf, expected = gen.generate(workload, seed, d)
            return gen.digest(d), json.dumps([conf, expected],
                                             sort_keys=True)

    def test_same_seed_same_inputs(self):
        for w in gen.SIZES:
            self.assertEqual(self._digest(w, 7), self._digest(w, 7), w)

    def test_other_seed_other_inputs(self):
        for w in gen.SIZES:
            self.assertNotEqual(self._digest(w, 7)[0],
                                self._digest(w, 8)[0], w)


class PlantedCorpus(unittest.TestCase):
    @staticmethod
    def _words(text):
        # what the engine's normalizeWords keeps
        return "".join(c if c.isalnum() else " " for c in text.lower()).split()

    def test_near_duplicate_differs_raw_but_not_normalized(self):
        rng = gen.np.random.default_rng(1)
        doc = gen._good(rng)
        near = gen._reformat(doc)
        self.assertNotEqual(near, doc)
        self.assertEqual(self._words(near), self._words(doc))

    def test_expected_stage_counts_follow_the_plant(self):
        with tempfile.TemporaryDirectory() as d:
            _, expected = gen.generate("curate", 5, d)
        sz = gen.SIZES["curate"]
        n = sz["docs"]
        st = expected["stages"]
        self.assertEqual(n - st["exact_dedup"],
                         int(n * sz["exact_dup"]) + int(n * sz["low_quality"]))
        self.assertEqual(st["exact_dedup"] - st["near_dup"],
                         int(n * sz["near_dup"]))
        self.assertEqual(st["near_dup"] - st["decontaminated"],
                         sz["contaminated"])


class Manifest(unittest.TestCase):
    def test_benchmark_json_names_every_reported_metric(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         [(n, run.unit_of(n)) for n in run.PER_LAYER])
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         list(run.END_TO_END.items()))

    def test_job_wall_is_in_seconds(self):
        self.assertEqual(run.unit_of("job_s.pipeline.Increment"), "s")
        self.assertEqual(run.unit_of("jobs.pipeline.Increment"), "count")


if __name__ == "__main__":
    unittest.main()
