"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile([3.0], 90), 3.0)

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(M.tail_percentile(xs), (90, 90))  # p95 leaves only 5 above
        self.assertEqual(M.tail_percentile(list(range(1, 201))), (95, 190))
        self.assertEqual(M.tail_percentile(list(range(1, 41))), (75, 30))
        self.assertIsNone(M.tail_percentile(list(range(1, 20))))
        for n in range(1, 300):
            got = M.tail_percentile(list(range(n)))
            if got is not None:
                self.assertGreaterEqual(sum(1 for x in range(n) if x > got[1]), 10)


def span(id_, name, parent, start, end, label=""):
    return {"id": id_, "name": name, "parent": parent, "run": "r", "pass": 0,
            "start": start, "end": end, "label": label}


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(M.covered([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(M.covered([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(M.covered([], 0, 10), 0)

    def test_self_time_is_duration_minus_children(self):
        spans = [span(0, "pass", -1, 0, 100), span(1, "io.read", 0, 0, 10),
                 span(2, "query", 0, 20, 90), span(3, "queries.construct", 2, 20, 50),
                 span(4, "sql.plan", 2, 50, 60), span(5, "ops.exec", 2, 60, 85)]
        st = M.self_times(spans)
        self.assertEqual(st, {0: 20, 1: 10, 2: 5, 3: 30, 4: 10, 5: 25})

    def test_layers_and_remainder_add_up_to_the_pass(self):
        spans = [span(0, "pass", -1, 0, 1000), span(1, "session.register", 0, 0, 10),
                 span(2, "query", 0, 10, 990), span(3, "queries.construct", 2, 10, 400, "q71_x"),
                 span(4, "sql.plan", 2, 400, 500), span(5, "ops.exec", 2, 500, 980)]
        jobs = [{"span": 3, "start": 20, "end": 100, "stages": [
                    {"id": 1, "tasks": 4, "run_s": 0.2, "cpu_s": 0.1, "gc_s": 0,
                     "shuffle_write_b": 0, "shuffle_read_b": 0, "fetch_wait_s": 0, "spill_b": 0,
                     "input_rows": 500, "persisted": [], "scans_files": True}]},
                {"span": -1, "start": 600, "end": 900, "stages": []}]
        m = M.layer_metrics(spans, jobs, cores=4, cache_peak_mb=1.0, kind="catalog")
        layers = sum(m[f"{n}_s"] for n in M.LAYERS)
        self.assertAlmostEqual(layers + m["trace.unattributed_s"], m["trace.pass_s"])
        self.assertAlmostEqual(m["trace.unattributed_s"], 0.02)
        self.assertAlmostEqual(m["queries.memo_construct_s"], 0.39)
        self.assertEqual(m["queries.construct_jobs"], 1)
        self.assertEqual(m["ops.jobs"], 2)
        self.assertAlmostEqual(m["ops.driver_gap_s"], 1.0 - 0.08 - 0.3)
        self.assertEqual(m["io.scan_rows"], 500)

    def test_first_stage_on_a_persisted_rdd_computes_it(self):
        stages = [{"persisted": []}, {"persisted": [7]}, {"persisted": [7]}, {"persisted": [7, 9]}]
        self.assertEqual(M.cache_reads(stages), [False, False, True, True])


class StampTest(unittest.TestCase):
    STAMP = {"workload": "w", "params": {"posts": 10}, "seed": 1, "input_digest": "d1",
             "cpus": 4, "advisory_mb": "2", "rev": "a", "tree": "t1", "bench": "b",
             "java": "17", "spark": "4.1.2", "session": "warm", "memos": "n/a",
             "run_seconds": 10, "trace": 0}

    def rec(self, **kw):
        return {"stamp": dict(self.STAMP, **kw)}

    def test_commit_and_seed_may_differ(self):
        self.assertEqual(compare.stamp_mismatch(self.STAMP, dict(self.STAMP, rev="b", tree="t2")), [])
        self.assertIsNone(compare.refusal([self.rec()], [self.rec(rev="b", tree="t2")]))

    def test_refuses_different_stamps(self):
        for field, value in [("cpus", 8), ("advisory_mb", "64"), ("java", "21"),
                             ("session", "cold"), ("params", {"posts": 20})]:
            why = compare.refusal([self.rec()], [self.rec(**{field: value})])
            self.assertIn(field, why)

    def test_refuses_different_seeds_or_inputs(self):
        self.assertIsNotNone(compare.refusal([self.rec()], [self.rec(seed=2)]))
        self.assertIsNotNone(compare.refusal([self.rec()], [self.rec(input_digest="d2")]))


class GeneratorTest(unittest.TestCase):
    PARAMS = {"posts": 300, "warm_posts": 50, "vocab": 200, "tokens_lo": 5, "tokens_hi": 9,
              "channels": 20, "days": 30, "industries": 3, "keywords_per_industry": 2,
              "kw_rank_lo": 5, "kw_rank_hi": 60, "stopwords": 4, "noise_frac": 0.1}

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for i, seed in enumerate([7, 7, 8]):
                gen.corpus(f"{d}/c{i}", seed, self.PARAMS)
                gen.catalog(f"{d}/t{i}", seed, 0.001)
                digests.append((gen.digest(f"{d}/c{i}"), gen.digest(f"{d}/t{i}")))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0][0], digests[2][0])
            self.assertNotEqual(digests[0][1], digests[2][1])

    def test_corpus_shape(self):
        t = gen.posts_table(3, self.PARAMS, 300)
        self.assertEqual(t.column_names, ["post_id", "text", "channel_username", "views", "full_date"])
        lens = [len(x.split()) for x in t.column("text").to_pylist()]
        self.assertGreaterEqual(min(lens), 5)
        self.assertLessEqual(max(lens), 9 + 2)  # a noise phrase adds two words


if __name__ == "__main__":
    unittest.main()
