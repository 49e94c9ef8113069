"""Self-tests for the benchmark harness (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 132))  # 131 samples
        p, v = stats.tail_percentile(xs)
        self.assertEqual(p, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 13)

    def test_forty_batches_give_p75(self):
        xs = [float(i) for i in range(40)]
        p, v = stats.tail_percentile(xs)
        self.assertEqual(p, 75)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples_give_none(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(20)))[0], 50)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 100), 5)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10.0)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class IntervalUnion(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 6), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 6)])
        self.assertEqual(stats.length([(0, 2), (1, 3), (10, 11)]), 4)

    def test_empty_intervals_ignored(self):
        self.assertEqual(stats.length([(1, 1), (3, 2)]), 0)

    def test_clip_and_uncovered(self):
        self.assertEqual(stats.clip([(0, 5), (8, 12)], 2, 10), [(2, 5), (8, 10)])
        # critical path vs driver gap: jobs cover 1..3 of the window 0..10
        self.assertEqual(stats.uncovered(0, 10, [(1, 2), (1.5, 3)]), 8)


def _records(ops, passes, jobs=(), plans=()):
    return layers.by_type(
        [dict(o, type="op") for o in ops] + [dict(p, type="pass") for p in passes]
        + [dict(j, type="job") for j in jobs] + [dict(p, type="plan") for p in plans])


def _op(p, name, t0, t1, ok=True, tb=None):
    return {"pass": p, "name": name, "t0": t0, "tb": t0 if tb is None else tb,
            "t1": t1, "ok": ok, "err": None if ok else "boom", "out": None}


class FailureAccounting(unittest.TestCase):
    def setUp(self):
        self.rt = _records(
            [_op(0, "a", 0, 100), _op(0, "b", 100, 101, ok=False),
             _op(1, "a", 200, 300), _op(1, "b", 300, 400),
             _op(2, "a", 400, 500), _op(2, "b", 500, 502)],
            [{"pass": 0, "t0": 0, "t1": 101, "traced": False},
             {"pass": 1, "t0": 200, "t1": 400, "traced": False},
             {"pass": 2, "t0": 400, "t1": 502, "traced": False}])

    def test_thrown_and_wrong_ops_are_failures_and_dropped(self):
        # pass 2's op b returned a wrong result (failed its check)
        metrics, extra, attempted, failed = layers.end_to_end(self.rt, {(2, "b")})
        self.assertEqual((attempted, failed), (6, 2))
        # the fast failed ops (1 ms, 2 ms) never count as successes
        self.assertEqual(extra["op_p50_ms"], 100)
        self.assertAlmostEqual(metrics["op_geomean_ms"], 100)
        # only pass 1 had no failed op
        self.assertEqual(metrics["pass_s"], 0.2)

    def test_a_failed_pass_fails_all_its_ops(self):
        _, _, attempted, failed = layers.end_to_end(self.rt, {1})
        self.assertEqual((attempted, failed), (6, 3))


class Reconciliation(unittest.TestCase):
    def test_disjoint_parts_sum_to_wall(self):
        op = _op(0, "q", 0, 100, tb=10)
        rt = _records([op], [], jobs=[{"id": 1, "t0": 40, "t1": 70, "stages": [],
                                       "exec": None}],
                      plans=[{"phases": [["analysis", 12, 20], ["planning", 20, 30]]}])
        rt["sql"] = []
        d = layers.decompose(op, rt, "stream_intake")
        self.assertEqual((d["build"], d["plan"], d["job"]), (10, 18, 30))
        self.assertAlmostEqual(d["gap"], 42)
        self.assertAlmostEqual(d["err"], 0)

    def test_overlap_shows_as_error(self):
        op = _op(0, "q", 0, 100)
        rt = _records([op], [], jobs=[{"id": 1, "t0": 10, "t1": 50, "stages": [],
                                       "exec": None}],
                      plans=[{"phases": [["planning", 30, 60]]}])
        rt["sql"] = []
        self.assertAlmostEqual(layers.decompose(op, rt, "stream_intake")["err"], 20)


class Determinism(unittest.TestCase):
    def _digest(self, seed, spec):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, seed, spec, run.ROOT)
            return run.tree_digest(d)

    def test_same_seed_same_bytes(self):
        for spec in ({"sf": 0.001, "export": True},
                     {"corpus": {"docs": 40, "factor": 4, "files": 2}}):
            self.assertEqual(self._digest(5, spec), self._digest(5, spec))
            self.assertNotEqual(self._digest(5, spec), self._digest(6, spec))

    def test_replicas_are_distinct(self):
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(d, 3, 30, 4, 1)
            import pyarrow.parquet as pq
            docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
        self.assertEqual(len(docs["doc_id"]), 120)
        self.assertEqual(len(set(docs["doc_id"])), 120)
        # replica 1 of doc 0 differs from its original
        self.assertNotEqual(docs["text"][0], docs["text"][30])


if __name__ == "__main__":
    unittest.main()
