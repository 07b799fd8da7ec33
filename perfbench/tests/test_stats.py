import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_min_samples_leaves_ten_beyond(self):
        self.assertEqual(stats.min_samples(0.9), 100)
        self.assertEqual(stats.min_samples(0.8), 50)
        self.assertEqual(stats.min_samples(0.5), 20)
        self.assertEqual(stats.min_samples(0.99), 1000)
        for q in (0.5, 0.75, 0.9, 0.95):
            n = stats.min_samples(q)
            xs = list(range(n))
            p = stats.percentile(xs, q)
            self.assertGreaterEqual(sum(1 for x in xs if x > p), 10)

    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(stats.percentile(range(99), 0.9, 10))
        self.assertEqual(stats.percentile(range(1, 101), 0.9, 10), 90)
        self.assertIsNone(stats.percentile(range(49), 0.8))
        self.assertEqual(stats.percentile(range(1, 51), 0.8), 40)
        self.assertEqual(stats.percentile(range(1, 101), 0.5), 50)


def span(i, parent, kind, start, end, group=""):
    return {"id": i, "parent": parent, "kind": kind, "name": "M",
            "start": start, "end": end, "group": group}


class SelfTime(unittest.TestCase):
    def test_nested_and_overlapping_children(self):
        spans = [span(1, 0, "job", 0, 100), span(2, 1, "call", 0, 40),
                 span(3, 1, "action", 40, 95),
                 # two overlapping stages and one spilling past the action
                 span(4, 3, "stage", 50, 70), span(5, 3, "stage", 60, 80),
                 span(6, 3, "stage", 90, 99)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 5)      # 100 - (40 + 55)
        self.assertAlmostEqual(st[2], 40)     # no children
        self.assertAlmostEqual(st[3], 55 - 30 - 5)  # union 50-80, 90-95
        self.assertAlmostEqual(st[4], 20)

    def test_engine_spans_attach_by_group_then_time(self):
        spans = [span(1, 0, "job", 0, 100, "g1"), span(2, 1, "call", 0, 40, "g1"),
                 span(3, 1, "action", 40, 100, "g1"),
                 span(4, 0, "stage", 10, 20, "g1"),
                 span(5, 0, "batch", 50, 60)]
        stats.attach_engine_spans(spans)
        self.assertEqual(spans[3]["parent"], 2)
        self.assertEqual(spans[4]["parent"], 3)
        self.assertAlmostEqual(stats.self_times(spans)[2], 30)

    def test_stage_of_a_write_attaches_to_the_write(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "write", 10, 30, "g2"),
                 span(3, 0, "stage", 12, 20, "g2"),
                 # a foreign job group (streaming) falls back to time
                 span(4, 0, "stage", 25, 28, "run-uuid")]
        stats.attach_engine_spans(spans)
        self.assertEqual(spans[2]["parent"], 2)
        self.assertEqual(spans[3]["parent"], 2)


def traced_run(writes):
    engine = dict.fromkeys(
        ["stages", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms",
         "input_bytes", "input_records", "shuffle_write_bytes",
         "shuffle_read_bytes", "spill_bytes", "output_bytes",
         "scheduler_wait_ms"], 0)
    stream = dict.fromkeys(["batches", "input_rows", "state_rows",
                            "state_mem_bytes", "state_commit_ms"] +
                           [f"{k}_ms" for k in stats.STREAM_DURATIONS], 0)
    return {"start_s": 1.0, "warmup_s": 2.0, "rss_mb": 3.0, "cores": 4,
            "jobs": [["SnapshotTable", "snapshot_read", 0.1, 0.2, True,
                      True, 1]],
            "writes": writes, "passes": [[0, False, 3.0], [1, True, 1.0],
                                          [2, False, 1.0]],
            "engine": engine, "stream": stream, "spans": [],
            "ingest": {"rows": 10, "batch_rows": 5, "user_bytes": 100,
                       "stored_bytes": 200, "commits": 2,
                       "files_latest": 1}}


class WriteMetrics(unittest.TestCase):
    def test_per_kind_mean_max_and_count_of_traced_writes(self):
        problems = []
        m, _, _ = stats.per_layer(traced_run(
            [["append", 0.2, True, True], ["append", 0.4, True, True],
             ["append", 9.0, True, False], ["compact", 0.5, True, True]]),
            [], problems)
        self.assertEqual(problems, [])
        self.assertAlmostEqual(m["SnapshotTable.append_s"][0], 0.3)
        self.assertAlmostEqual(m["SnapshotTable.append_max_s"][0], 0.4)
        self.assertEqual(m["SnapshotTable.appends"][0], 2)
        self.assertEqual(m["SnapshotTable.compactions"][0], 1)

    def test_an_unsampled_write_kind_is_a_problem_not_zero(self):
        problems = []
        stats.per_layer(traced_run([["append", 0.2, True, True],
                                    ["compact", 0.5, True, False]]),
                        [], problems)
        self.assertIn("SnapshotTable: no traced compact", problems)


if __name__ == "__main__":
    unittest.main()
