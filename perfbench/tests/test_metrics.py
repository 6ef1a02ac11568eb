"""Unit tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_exact_when_enough_samples_beyond(self):
        xs = list(range(1, 201))            # 200 samples: p90 has 20 beyond
        v, q, n = metrics.tail_percentile(xs, 0.9)
        self.assertEqual((v, q, n), (180, 0.9, 200))

    def test_capped_to_keep_ten_beyond(self):
        xs = list(range(1, 31))             # 30 samples: p90 would have 3 beyond
        v, q, n = metrics.tail_percentile(xs, 0.9)
        self.assertEqual(v, 20)             # 10 samples (21..30) lie above it
        self.assertAlmostEqual(q, 20 / 30)
        self.assertEqual(sum(x > v for x in xs), 10)

    def test_order_of_input_does_not_matter(self):
        xs = [5, 1, 4, 2, 3] * 6
        self.assertEqual(metrics.tail_percentile(xs, 0.5),
                         metrics.tail_percentile(sorted(xs), 0.5))

    def test_too_few_samples_fall_back_to_minimum(self):
        self.assertEqual(metrics.tail_percentile([3, 1, 2], 0.9)[0], 1)
        self.assertEqual(metrics.tail_percentile([], 0.9), (None, None, 0))


class Steady(unittest.TestCase):
    def test_keeps_the_later_half(self):
        self.assertEqual(metrics.steady([5, 4, 3, 2, 1]), [3, 2, 1])
        self.assertEqual(metrics.steady([5, 4, 3, 2]), [3, 2])
        self.assertEqual(metrics.steady([5]), [5])


class EndToEnd(unittest.TestCase):
    @staticmethod
    def events(walls, steal=0, probe=metrics.PROBE_REF_S):
        ev = [{"type": "setup", "first_timed_ms": 25000, "busy_ticks": 5000,
               "steal_ticks": 1000, "probe_s": metrics.PROBE_REF_S}]
        for i, w in enumerate(walls):
            ev.append({"type": "pass", "pass": str(i), "kind": "timed", "traced": False,
                       "wall_s": w, "busy_ticks": 300, "steal_ticks": steal,
                       "probe_s": probe})
            ev.append({"type": "query", "pass": str(i), "wall_s": w, "error": None,
                       "storage_mb": 1.0})
        return ev

    def test_later_half_medians(self):
        e2e, info = metrics.end_to_end(self.events([7, 6, 3, 2, 4]), 1000, (2000, 1000))
        self.assertEqual(e2e["batch_s"], 3)         # median of 3, 2, 4
        self.assertEqual(e2e["setup_s"], 24.0)      # no steal since spawn
        self.assertEqual(info["passes"], 3)

    def test_times_are_net_of_steal(self):
        e2e, _ = metrics.end_to_end(self.events([7, 6, 3, 2, 4], steal=100), 1000, (4000, 0))
        self.assertEqual(e2e["batch_wall_s"], 3)
        self.assertAlmostEqual(e2e["batch_s"], 3 * 0.75)   # a quarter of 400 ticks stolen
        self.assertAlmostEqual(e2e["steal_frac"], 0.25)
        self.assertEqual(e2e["setup_wall_s"], 24.0)
        self.assertAlmostEqual(e2e["setup_s"], 24.0 * 0.5)  # 1000 of 2000 ticks stolen


    def test_times_at_reference_speed(self):
        e2e, _ = metrics.end_to_end(
            self.events([7, 6, 3, 2, 4], probe=2 * metrics.PROBE_REF_S), 1000, (2000, 1000))
        self.assertEqual(e2e["batch_wall_s"], 3)
        self.assertAlmostEqual(e2e["batch_s"], 1.5)         # cores ran at half speed

    def test_no_probe_sample_leaves_time(self):
        self.assertEqual(metrics.at_reference_speed(2.5, 0), 2.5)


class Steal(unittest.TestCase):
    def test_host_ticks_split(self):
        line = "cpu  100 5 20 900 7 3 2 40 0 0"
        self.assertEqual(metrics.host_ticks(line), (130, 40))

    def test_no_ticks_leaves_wall(self):
        self.assertEqual(metrics.net_of_steal(2.5, 0, 0), 2.5)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.union_length([(1, 4), (2, 6), (8, 9)], 0, 10), 6)

    def test_children_clipped_to_parent(self):
        self.assertEqual(metrics.self_time(10, 20, [(5, 12), (18, 30)]), 6)

    def test_never_negative(self):
        self.assertEqual(metrics.self_time(0, 5, [(0, 5), (1, 3), (-2, 9)]), 0)

    def test_no_children(self):
        self.assertEqual(metrics.self_time(3, 7, []), 4)

    def test_empty_and_reversed_intervals_ignored(self):
        self.assertEqual(metrics.union_length([(4, 4), (6, 5)], 0, 10), 0)


class TimedPasses(unittest.TestCase):
    def test_count_follows_seconds_not_host_speed(self):
        self.assertEqual(run.timed_passes(30, 3.6), 8)
        self.assertEqual(run.timed_passes(30, 4.8), 6)
        self.assertEqual(run.timed_passes(1, 4.8), 1)


class Attribution(unittest.TestCase):
    def setUp(self):
        self.w = metrics.Windows([
            (100, 200, ("q1", "build")), (202, 300, ("q1", "action")),
            (310, 400, ("q2", "build")), (401, 500, ("q2", "action"))])

    def test_untagged_job_goes_to_running_phase(self):
        self.assertEqual(self.w.attribute(150), (("q1", "build"), False))
        self.assertEqual(self.w.attribute(450), (("q2", "action"), False))

    def test_gap_between_windows_goes_to_last_started(self):
        self.assertEqual(self.w.attribute(305), (("q1", "action"), False))

    def test_matching_tag_is_trusted(self):
        self.assertEqual(self.w.attribute(320, ("q2", "build")), (("q2", "build"), True))

    def test_stale_tag_is_overridden_by_time(self):
        # a pool thread created during q1 still carries q1's tags in q2
        self.assertEqual(self.w.attribute(330, ("q1", "build")), (("q2", "build"), False))

    def test_before_first_window_is_unattributed(self):
        self.assertEqual(self.w.attribute(50), (None, False))


class CallSites(unittest.TestCase):
    # Call stacks (a job's final-stage details) as Spark records them.
    TABLES = ("org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)\n"
              "graft.Tables$.loose(Tables.scala:156)\n"
              "graft.Tables$.apply(Tables.scala:150)\n"
              "graft.Tables$.lineitem(Tables.scala:165)")
    CUT = ("org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)\n"
           "graft.operators.PersistScope.cut(OpModule.scala:76)\n"
           "graft.operators.Events$.$anonfun$queries$13(Events.scala:387)")
    # short form "localCheckpointWithLayout at Events.scala:57"
    LAYOUT = ("org.apache.spark.sql.GraftBridge$.localCheckpointWithLayout(GraftBridge.scala:51)\n"
              "graft.operators.Events$.$anonfun$evtByUser$1(Events.scala:57)\n"
              "graft.operators.SessionMemo$.memo(OpModule.scala:109)")
    GRAPH = ("org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)\n"
             "graft.operators.Graph$.$anonfun$sharedEdges$1(Graph.scala:81)\n"
             "graft.operators.SessionMemo$.memo(OpModule.scala:109)")
    HARNESS = ("org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:126)\n"
               "graft.perfbench.Harness$.$anonfun$run$16(Harness.scala:144)")
    AQE = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
           "(SQLExecution.scala:329)\n"
           "java.base/java.util.concurrent.CompletableFuture$AsyncSupply.run"
           "(CompletableFuture.java:1768)")

    def test_innermost_library_frame_decides(self):
        self.assertEqual(metrics.call_site_layer(self.TABLES), "tables")
        self.assertEqual(metrics.call_site_layer(self.CUT), "opmodule")
        # an outer SessionMemo frame does not make a graph cut an OpModule job
        self.assertEqual(metrics.call_site_layer(self.GRAPH), "other")

    def test_bridge_job_is_opmodule_though_named_after_caller(self):
        self.assertEqual(metrics.call_site_layer(self.LAYOUT), "opmodule")

    def test_harness_and_spark_threads_are_other(self):
        self.assertEqual(metrics.call_site_layer(self.HARNESS), "other")
        self.assertEqual(metrics.call_site_layer(self.AQE), "other")
        self.assertEqual(metrics.call_site_layer(""), "other")

    def test_module_prefix_is_ignored(self):
        self.assertEqual(metrics.call_site_layer("app//graft.Tables$.loose(Tables.scala:156)"),
                         "tables")


if __name__ == "__main__":
    unittest.main()
