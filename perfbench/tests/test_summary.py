"""Self-tests of the benchmark's summaries.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from summary import interval_union, module_of, percentile, quartile_spread, self_times  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_matches_statistics(self):
        for xs in ([3.0], [1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0], [0.5, 9.0, 2.5, 2.5]):
            self.assertAlmostEqual(percentile(xs, 50), statistics.median(xs))

    def test_ends_and_interpolation(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(percentile(xs, 0), 1)
        self.assertEqual(percentile(xs, 100), 100)
        self.assertAlmostEqual(percentile(xs, 90), 90.1)
        self.assertAlmostEqual(percentile([10, 20], 25), 12.5)

    def test_order_does_not_matter(self):
        self.assertEqual(percentile([9, 1, 5, 3], 90), percentile([1, 3, 5, 9], 90))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            percentile([], 50)


class QuartileSpreadTest(unittest.TestCase):
    def test_constant_values_have_no_spread(self):
        self.assertEqual(quartile_spread([2.0] * 10), 0.0)

    def test_matches_statistics_quantiles(self):
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.2, 0.8, 1.0, 1.02, 0.98]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(quartile_spread(xs), (q3 - q1) / q2)

    def test_scale_free(self):
        xs = [3.0, 4.0, 5.0, 6.0, 7.0]
        self.assertAlmostEqual(quartile_spread(xs), quartile_spread([x * 100 for x in xs]))


class IntervalUnionTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(interval_union([(0, 1), (2, 4), (10, 11)]), 4)

    def test_overlaps_count_once(self):
        # three concurrent jobs inside one 10-unit span: 10, not 24
        self.assertEqual(interval_union([(0, 10), (2, 9), (3, 8)]), 10)
        self.assertEqual(interval_union([(0, 5), (4, 8)]), 8)

    def test_touching_and_unsorted(self):
        self.assertEqual(interval_union([(5, 7), (0, 5)]), 7)

    def test_empty_and_degenerate(self):
        self.assertEqual(interval_union([]), 0)
        self.assertEqual(interval_union([(3, 3), (5, 4)]), 0)


BARRIER_SITE = """localCheckpoint at Barrier.scala:63
org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:812)
graft.ops.Barrier$.cut(Barrier.scala:63)
graft.ops.Dedup$.nearDupClusters(Dedup.scala:410)
graft.app.CorpusPipeline$.curateFrames(CorpusPipeline.scala:400)
perfbench.CorpusCurate.job(Workloads.scala:120)"""

MLLIB_SITE = """collect at Word2Vec.scala:211
org.apache.spark.rdd.RDD.collect(RDD.scala:1049)
org.apache.spark.mllib.feature.Word2Vec.fit(Word2Vec.scala:211)
org.apache.spark.ml.feature.Word2Vec.$anonfun$fit$1(Word2Vec.scala:194)
org.apache.spark.ml.util.Instrumentation$.instrumented(Instrumentation.scala:191)
graft.ml.Prod2Vec$.train(Prod2Vec.scala:76)
graft.app.Pipeline$.trainStage(Pipeline.scala:117)"""

LAMBDA_SITE = """count at CorpusPipeline.scala:420
graft.app.CorpusPipeline$.$anonfun$curateFrames$7(CorpusPipeline.scala:420)
scala.collection.immutable.List.map(List.scala:247)"""

BENCH_SITE = """collect at Workloads.scala:90
perfbench.Prod2VecTrain.$anonfun$job$3(Workloads.scala:90)
perfbench.Spans$.apply(Trace.scala:40)"""


class ModuleMapTest(unittest.TestCase):
    def test_innermost_library_frame_names_the_module(self):
        self.assertEqual(module_of(BARRIER_SITE), ("ops.Barrier", "cut"))

    def test_mllib_frames_are_skipped_to_the_library_caller(self):
        self.assertEqual(module_of(MLLIB_SITE), ("ml.Prod2Vec", "train"))

    def test_lambda_frames_name_their_enclosing_method(self):
        self.assertEqual(module_of(LAMBDA_SITE), ("app.CorpusPipeline", "curateFrames"))

    def test_benchmark_actions_take_the_open_span_layer(self):
        self.assertEqual(module_of(BENCH_SITE, span_name="ml.IvfIndex.search"),
                         ("ml.IvfIndex", "search"))
        self.assertEqual(module_of(BENCH_SITE, span_name="bench.check"),
                         ("bench", "bench.check"))
        self.assertEqual(module_of(BENCH_SITE), ("bench", "job"))

    def test_streaming_jobs_belong_to_stream_ops(self):
        self.assertEqual(module_of("", stream_query="5f1c-..."), ("streaming.StreamOps", "trigger"))

    def test_no_known_frame_is_unattributed(self):
        self.assertEqual(module_of(""), ("unattributed", ""))
        self.assertEqual(module_of("run at ThreadPoolExecutor.java:1136\n"
                                   "java.util.concurrent.ThreadPoolExecutor.runWorker("
                                   "ThreadPoolExecutor.java:1136)"), ("unattributed", ""))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_children_and_jobs_once(self):
        spans = [
            {"id": 1, "name": "job", "start": 0, "end": 100, "parent": 0},
            {"id": 2, "name": "app.Pipeline.trainStage", "start": 10, "end": 60, "parent": 1},
        ]
        jobs = [  # two overlapping jobs under the library span
            {"parent": 2, "start": 20, "end": 40},
            {"parent": 2, "start": 30, "end": 50},
        ]
        st = self_times(spans, jobs)
        self.assertEqual(st["app.Pipeline.trainStage"], 50 - 30)
        self.assertEqual(st["job"], 100 - 50)


if __name__ == "__main__":
    unittest.main()
