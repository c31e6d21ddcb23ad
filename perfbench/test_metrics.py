"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(M.percentile(v, 50), 50)
        self.assertEqual(M.percentile(v, 99), 99)
        self.assertEqual(M.percentile([7.0], 99), 7.0)

    def test_highest_rung_with_ten_beyond(self):
        self.assertEqual(M.tail_rung(1000), 99.0)   # 10 beyond p99
        self.assertEqual(M.tail_rung(999), 95.0)    # 9 beyond p99
        self.assertEqual(M.tail_rung(200), 95.0)
        self.assertEqual(M.tail_rung(100), 90.0)
        self.assertEqual(M.tail_rung(40), 75.0)
        self.assertEqual(M.tail_rung(20), 50.0)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(M.tail_rung(19), 100.0)
        self.assertEqual(M.tail([3.0, 9.0, 1.0]), (100.0, 9.0))

    def test_tail_value_uses_the_rung(self):
        v = [float(i) for i in range(1, 1001)]
        self.assertEqual(M.tail(v), (99.0, 990.0))


class RecordToBatch(unittest.TestCase):
    # three shards; per batch the end offset per shard (-1 = nothing yet)
    ENDS = [[4, -1, 2],
            [4, -1, 2],      # an empty trigger repeats the previous ends
            [9, 3, 2],
            [12, 3, 7]]

    def test_first_batch_whose_end_reaches_the_record(self):
        got = M.batch_of_records([0, 0, 0, 2, 1, 2], [0, 4, 5, 3, 0, 7], self.ENDS)
        self.assertEqual(got, [0, 0, 2, 3, 2, 3])

    def test_empty_triggers_never_claim_records(self):
        got = M.batch_of_records([0, 2], [4, 2], self.ENDS)
        self.assertNotIn(1, got)

    def test_records_beyond_the_last_batch_are_unmapped(self):
        self.assertEqual(M.batch_of_records([1, 0], [4, 13], self.ENDS), [None, None])


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_children_are_subtracted(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 30), self.span(3, 1, 50, 60)]
        self.assertEqual(M.self_times(spans), {1: 70, 2: 20, 3: 10})

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 50)]
        self.assertEqual(M.self_times(spans)[1], 60)

    def test_children_sticking_out_are_clipped(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 90, 130), self.span(3, 1, -20, 5)]
        self.assertEqual(M.self_times(spans)[1], 85)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, -1, 0, 100), self.span(2, 1, 0, 50), self.span(3, 2, 0, 20)]
        self.assertEqual(M.self_times(spans), {1: 50, 2: 30, 3: 20})

    def test_union_length(self):
        self.assertEqual(M.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(M.union_length([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(M.union_length([]), 0)


class Attribution(unittest.TestCase):
    def site(self, *frames):
        return "\n".join(["org.apache.spark.sql.Dataset.collect(Dataset.scala:1)", *frames])

    def test_program_frames_decide_the_layer(self):
        self.assertEqual(M.layer_of(self.site(
            "graft.Tables$.table(Tables.scala:23)",
            "graft.queries.RelationalQueries$.q02(RelationalQueries.scala:40)")), "tables")
        self.assertEqual(M.layer_of(self.site(
            "graft.operators.CheckpointTracker.lazyCkpt(CheckpointTracker.scala:30)",
            "graft.queries.GraphQueries$.q187(GraphQueries.scala:500)")), "queries.operators")
        self.assertEqual(M.layer_of(self.site(
            "graft.queries.GraphQueries$.q187(GraphQueries.scala:500)")), "queries")

    def test_unknown_call_sites_go_to_other(self):
        self.assertEqual(M.layer_of(self.site("com.example.Other.run(Other.scala:3)")), "other")
        self.assertEqual(M.layer_of(""), "other")
        self.assertEqual(M.layer_of(None), "other")

    def test_sink_executions_by_plan(self):
        dlq_write = ("AdaptiveSparkPlan (9)\n+- Execute InsertIntoHadoopFsRelationCommand (8)\n"
                     "Arguments: file:/w/backlog1-02/dlq, false, [dl_batch#12], Parquet")
        es_write = dlq_write.replace("/dlq,", "/es,")
        self.assertEqual(M.sink_of_plan(dlq_write), "sinks.dlq")
        self.assertEqual(M.sink_of_plan(es_write), "sinks.es")
        self.assertEqual(M.sink_of_plan(
            "CollectLimit (8)\n+- * Project (7)\n   +- * Filter (6)\n      +- InMemoryTableScan (1)"),
            "sinks.dlq")
        self.assertEqual(M.sink_of_plan(
            "DeserializeToObject (11)\n+- * Project (10)\n   +- InMemoryTableScan (1)"), "sinks.splunk")
        self.assertEqual(M.sink_of_plan("* Project (2)\n+- MicroBatchScan (1)"), "streaming.batch")
        self.assertEqual(M.sink_of_plan("HashAggregate (5)\n+- Exchange (4)"), "other")
        self.assertEqual(M.sink_of_plan(None), "other")


if __name__ == "__main__":
    unittest.main()
