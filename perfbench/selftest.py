"""Self-tests for the benchmark's own parts.

    python3 perfbench/selftest.py          # from the root of a checkout

* the plan walker's operator counts, on node names and on a Spark plan
  with known counts (adaptive execution, query stages and a reused
  exchange included);
* span self-time arithmetic, the steal correction of wall times and the
  geometric mean of the calls' median times;
* the oracle comparison: it flags a value moved past the 4-decimal
  rounding boundary, an event leaked past its cutoff and a changed
  column type, and passes equal outputs.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import oracle  # noqa: E402
import run  # noqa: E402
import tracing as tr  # noqa: E402

# Spark's and Python's temp files stay inside the checkout, as in a run
run.prepare_env(os.path.join(os.path.dirname(HERE), ".perfbench_tmp"))


class PlanWalker(unittest.TestCase):
    def test_counts_from_names(self):
        names = [
            "OverwriteByExpression", "AdaptiveSparkPlan", "Window", "Sort",
            "WholeStageCodegen (6)", "AQEShuffleRead", "Exchange",
            "ArrowEvalPython", "MapInPandas", "Project", "SortMergeJoin",
            "Sort", "HashAggregate", "ShuffleQueryStage", "Exchange",
            "HashAggregate", "ReusedExchange", "BroadcastHashJoin",
            "BroadcastExchange", "ObjectHashAggregate", "InputAdapter",
        ]
        self.assertEqual(tr.plan_counts(names), {
            "exchanges": 2, "sorts": 2, "windows": 1, "hash_aggs": 3,
            "sort_merge_joins": 1, "broadcast_joins": 1, "python_nodes": 2,
        })

    def test_counts_from_spark_plan(self):
        """range -> groupBy(k) joined with itself (sort-merge; the second
        side reuses the first side's exchange) -> mapInPandas -> window.
        Final plan: 2 exchanges (aggregation, window partitioning; the
        reused one adds none), 3 sorts (two join sides, window), 1 window,
        3 hash aggregates (partial under the shared exchange, a final on
        each side), 1 sort-merge join, 1 Python node."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from featuretools_spark.session import get_spark

        spark = get_spark("perfbench-selftest", master="local[2]",
                          shuffle_partitions=4,
                          extra_conf={"spark.ui.showConsoleProgress":
                                      "false"})
        a = spark.range(20000).selectExpr("id % 100 AS k", "id AS v")
        g = a.groupBy("k").agg(F.sum("v").alias("s"))
        j = g.join(g.withColumnRenamed("s", "s2").hint("merge"), "k")
        df = j.mapInPandas(lambda it: it, j.schema).withColumn(
            "r", F.row_number().over(Window.partitionBy("k").orderBy("s")))
        first = tr.sql_execution_count(spark)
        df.write.format("noop").mode("overwrite").save()
        tr.wait_for_listeners(spark)
        got = tr.sql_metrics(spark, first)
        self.assertEqual({k: got[f"plan.{k}"] for k in tr.PLAN_KEYS}, {
            "exchanges": 2, "sorts": 3, "windows": 1, "hash_aggs": 3,
            "sort_merge_joins": 1, "broadcast_joins": 0, "python_nodes": 1,
        })
        self.assertGreater(got["exec.python_bytes"], 0)

    def test_parse_metric(self):
        self.assertEqual(tr.parse_metric("2.3 s"), 2.3)
        self.assertEqual(tr.parse_metric("37 ms"), 0.037)
        self.assertEqual(tr.parse_metric("100,000"), 100000.0)
        self.assertEqual(tr.parse_metric(
            "total (min, med, max (stageId: taskId))\n"
            "9.5 KiB (2.3 KiB, 2.3 KiB, 2.4 KiB (stage 0.0: task 0))"),
            9.5 * 1024)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_direct_children(self):
        S = tr.Span
        spans = [S("call", 0.0, 10.0), S("cfm", 1.0, 4.0, parent=0),
                 S("exec", 5.0, 9.0, parent=0),
                 S("cfm", 6.0, 7.0, parent=2)]
        self.assertEqual(tr.self_times(spans),
                         {"call": 3.0, "cfm": 3.0 + 1.0, "exec": 3.0})
        self.assertEqual(tr.total_times(spans),
                         {"call": 10.0, "cfm": 4.0, "exec": 4.0})

    def test_recorder_nests_and_inherits_call_id(self):
        rec = tr.Spans()
        with rec.span("call", call_id=7):
            with rec.span("cfm"):
                pass
        outer, inner = rec.spans
        self.assertEqual((inner.parent, inner.call_id), (0, 7))
        self.assertLessEqual(outer.start, inner.start)
        self.assertLessEqual(inner.end, outer.end)
        off = tr.Spans(enabled=False)
        with off.span("call"):
            pass
        self.assertEqual(off.spans, [])


class Steal(unittest.TestCase):
    def test_unstolen_takes_out_the_stolen_share(self):
        # 300 busy ticks and 100 stolen: a quarter of the time was stolen
        self.assertAlmostEqual(tr.unstolen(8.0, (1000, 50), (1300, 150)),
                               6.0)
        self.assertEqual(tr.unstolen(8.0, (1000, 50), (1300, 50)), 8.0)
        self.assertEqual(tr.unstolen(8.0, (1000, 50), (1000, 50)), 8.0)
        busy, steal = tr.cpu_ticks()
        self.assertGreater(busy, 0)
        self.assertGreaterEqual(steal, 0)


class CallTime(unittest.TestCase):
    def test_geomean_of_each_calls_median(self):
        class O:
            def __init__(self, name, t):
                self.call, self.unstolen = type("C", (), {"name": name}), t
        timed = [O("a", 1.0), O("b", 4.0), O("a", 3.0), O("b", 4.0),
                 O("a", 1.0), O("b", 16.0)]
        # medians 1 and 4 -> geometric mean 2
        self.assertAlmostEqual(run.call_s_geomean(timed), 2.0)
        self.assertAlmostEqual(
            run.call_s_geomean(timed, key=lambda o: 2 * o.unstolen), 4.0)
        self.assertEqual(run.call_s_geomean([]), 0.0)


class Comparison(unittest.TestCase):
    COLS = {"k": ("int", 64), "x": ("float", 64)}

    def test_equal_outputs_pass(self):
        rows = [(1, 0.12344), (2, None), (3, float("nan"))]
        self.assertEqual(oracle.compare(self.COLS, rows, self.COLS,
                                        list(reversed(rows))), [])

    def test_rounding_boundary(self):
        exp = [(1, 1.2345499999)]
        # same 4-decimal value: passes; past the boundary: flagged
        self.assertEqual(oracle.compare(self.COLS, [(1, 1.23451)],
                                        self.COLS, exp), [])
        self.assertTrue(oracle.compare(self.COLS, [(1, 1.2345500001)],
                                       self.COLS, exp))

    def test_nan_is_not_null(self):
        self.assertTrue(oracle.compare(self.COLS, [(1, float("nan"))],
                                       self.COLS, [(1, None)]))

    def test_type_class(self):
        self.assertTrue(oracle.compare({"k": ("int", 64), "x": ("int", 64)},
                                       [(1, 2)], self.COLS, [(1, 2.0)]))

    def test_leaked_event_is_flagged(self):
        """An engine that counts an event after the cutoff disagrees with
        the as-of oracle."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        utc = dt.timezone.utc
        t = [dt.datetime(2024, 1, d, tzinfo=utc) for d in (1, 2, 3, 4)]
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({
                "doc_id": ["a", "b", "c"], "n_tok": pa.array([5, 7, 11],
                                                              pa.int32()),
                "event_time": pa.array(t[:3], pa.timestamp("us", "UTC")),
                "entity_id": ["e1"] * 3}), f"{d}/s.parquet")
            pq.write_table(pa.table({
                "entity_id": ["e1"],
                "first_seen": pa.array(t[:1], pa.timestamp("us", "UTC"))}),
                f"{d}/e.parquet")
            cut = dt.datetime(2024, 1, 2, 12, tzinfo=utc)
            pq.write_table(pa.table({
                "entity_id": ["e1"],
                "time": pa.array([cut], pa.timestamp("us", "UTC")),
                "label": [0.5]}), f"{d}/c.parquet")
            con = duckdb.connect()
            con.execute("SET TimeZone = 'UTC'")
            cols, rows = oracle.duck_result(con, oracle.asof_sql(
                oracle.seqs_table(f"{d}/s.parquet"),
                oracle.entities_table(f"{d}/e.parquet"),
                oracle.cutoffs_table(f"{d}/c.parquet")))
        names = list(cols)
        (row,) = rows
        self.assertEqual(row[names.index(oracle.COUNT)], 2)
        self.assertEqual(row[names.index(oracle.SUM)], 12)
        leaked = list(row)
        leaked[names.index(oracle.COUNT)] = 3     # the event of Jan 3
        leaked[names.index(oracle.SUM)] = 23
        self.assertEqual(oracle.compare(cols, rows, cols, rows), [])
        self.assertTrue(oracle.compare(cols, [tuple(leaked)], cols, rows))


if __name__ == "__main__":
    unittest.main()
