"""Tests of the benchmark's own machinery (no JVM needed).

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import oplog  # noqa: E402
import rollup  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(100, 0, -1))
        self.assertEqual(rollup.percentile(xs, 50), 50)
        self.assertEqual(rollup.percentile(xs, 90), 90)
        self.assertEqual(rollup.percentile([3.0], 99), 3.0)
        self.assertEqual(rollup.percentile([1, 2, 3, 4], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(rollup.tail_percentile(100), 90)
        self.assertEqual(rollup.tail_percentile(99), 80)
        self.assertEqual(rollup.tail_percentile(1000), 99)
        self.assertEqual(rollup.tail_percentile(40), 75)
        self.assertEqual(rollup.tail_percentile(39), 50)
        self.assertEqual(rollup.tail_percentile(20), 50)
        self.assertIsNone(rollup.tail_percentile(19))
        for n in range(20, 400):
            p = rollup.tail_percentile(n)
            beyond = sum(1 for x in range(1, n + 1) if x > rollup.percentile(range(1, n + 1), p))
            self.assertGreaterEqual(beyond, 10, n)


class SelfTimeTest(unittest.TestCase):

    def test_nested_and_overlapping_spans(self):
        # A holds B and C, which overlap each other; D sits inside C.
        ivs = [("A", 1, 1.0, 9.0), ("B", 2, 2.0, 4.0), ("C", 2, 3.0, 6.0),
               ("D", 3, 5.0, 5.5)]
        got = rollup.self_times(ivs, ("root", 0.0, 10.0))
        want = {"root": 2.0, "A": 4.0, "B": 1.0, "C": 2.5, "D": 0.5}
        self.assertEqual(set(got), set(want))
        for k, v in want.items():
            self.assertAlmostEqual(got[k], v, msg=k)
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_intervals_outside_the_root_are_clipped(self):
        got = rollup.self_times([("A", 1, -5.0, 2.0), ("B", 1, 8.0, 20.0)], ("root", 0.0, 10.0))
        self.assertAlmostEqual(got["A"], 2.0)
        self.assertAlmostEqual(got["B"], 2.0)
        self.assertAlmostEqual(got["root"], 6.0)

    def test_same_layer_adds_up(self):
        got = rollup.self_times([("job", 1, 0.0, 3.0), ("job", 1, 1.0, 2.0)], ("root", 0.0, 4.0))
        self.assertEqual(got, {"job": 3.0, "root": 1.0})

    def test_union_length(self):
        self.assertEqual(rollup.union_length([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
        self.assertEqual(rollup.union_length([(-1, 3), (9, 12)], 0, 10), 4)
        self.assertEqual(rollup.union_length([], 0, 10), 0)


class ClassifierTest(unittest.TestCase):
    SEARCH = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
              "graft.rag.ChatEngine.vectorSearch(ChatEngine.scala:178)\n"
              "graft.rag.ChatEngine.complete(ChatEngine.scala:191)")
    HISTORY = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
               "graft.rag.ChatEngine.sessionMessages(ChatEngine.scala:108)\n"
               "graft.rag.ChatEngine.complete(ChatEngine.scala:193)")
    COMMIT = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
              "graft.store.DocumentStore.upsert(DocumentStore.scala:580)\n"
              "graft.rag.ChatEngine.complete(ChatEngine.scala:214)")

    def test_store_spans_own_their_jobs(self):
        self.assertEqual(rollup.classify_job("store.commit", self.COMMIT), "store.commit")
        self.assertEqual(rollup.classify_job("store.read", self.HISTORY), "store.read")

    def test_vector_search_jobs_are_the_scan(self):
        self.assertEqual(rollup.classify_job("rag.self", self.SEARCH), "search.scan")
        self.assertEqual(rollup.classify_job("search.plan", ""), "search.scan")

    def test_other_engine_jobs_read_the_completions(self):
        self.assertEqual(rollup.classify_job("rag.self", self.HISTORY), "store.read")

    def test_query_jobs_stay_with_their_query(self):
        self.assertEqual(rollup.classify_job("queries.q06_join_multiway", "graft.queries.X"),
                         "queries.q06_join_multiway")


class OpLogTest(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        for w in ("chat", "analytics"):
            self.assertEqual(oplog.generate(w, 7), oplog.generate(w, 7), w)

    def test_other_seed_other_op_log(self):
        for w in ("chat", "analytics"):
            self.assertNotEqual(oplog.generate(w, 7)[2], oplog.generate(w, 8)[2], w)

    def test_fixed_op_count(self):
        for w in ("chat", "analytics"):
            self.assertEqual(len(oplog.generate(w, 1)[2]), len(oplog.generate(w, 2)[2]), w)

    def test_chat_shape(self):
        corpus, history, ops = oplog.generate("chat", 3)
        self.assertEqual(len(corpus), oplog.CHAT_PRODUCTS)
        timed = [o for o in ops if o[0] == "timed"]
        self.assertEqual(len(timed), oplog.CHAT_TIMED_TURNS)
        self.assertEqual(len({o[2] for o in ops}), oplog.CHAT_SESSIONS)
        self.assertEqual(len(history), oplog.CHAT_SESSIONS * oplog.CHAT_HISTORY_TURNS)
        self.assertEqual({h[0] for h in history}, {o[2] for o in ops})
        seen, repeats = set(), 0
        for o in ops:
            repeats += o[3] in seen
            seen.add(o[3])
        self.assertGreater(repeats, 0.1 * len(ops))
        self.assertLess(repeats, 0.4 * len(ops))

    def test_chat_prompts_are_short_questions(self):
        _, history, ops = oplog.generate("chat", 3)
        for p in [h[1] for h in history] + [o[3] for o in ops]:
            self.assertLessEqual(len(p.split()), 9, p)

    def test_analytics_passes_permute_the_headline_list(self):
        _, _, ops = oplog.generate("analytics", 4)
        passes = {}
        for o in ops:
            passes.setdefault(o[2], []).append(o[1])
        self.assertEqual(len(passes), oplog.ANALYTICS_WARM_PASSES + oplog.ANALYTICS_TIMED_PASSES)
        for order in passes.values():
            self.assertEqual(sorted(order), sorted(oplog.ANALYTICS_QUERIES))


def _record():
    """A small traced record: one warm and two timed chat turns."""
    spans, jobs = [], []
    ops = [[0, "warm", "turn", 0.0, 10.0, True, "1"]]
    for k, base in ((1, 100.0), (2, 200.0)):
        sid = 10 * k
        spans += [[sid, 0, "op", k, base, base + 50.0],
                  [sid + 1, sid, "rag", k, base + 1.0, base + 49.0],
                  [sid + 2, sid + 1, "embed", k, base + 2.0, base + 3.0],
                  [sid + 3, sid + 1, "store.commit", k, base + 30.0, base + 45.0]]
        jobs += [[k * 3, sid + 1, base + 5, base + 20, 4, 30, 0, 0, 0, 5000,
                  ClassifierTest.SEARCH],
                 [k * 3 + 1, sid + 1, base + 21, base + 28, 1, 5, 0, 0, 0, 10,
                  ClassifierTest.HISTORY],
                 [k * 3 + 2, sid + 3, base + 31, base + 40, 2, 8, 100, 100, 0, 3,
                  ClassifierTest.COMMIT]]
        ops.append([k, "timed", "turn", base, base + 50.0, True, "1"])
    return {"ops": ops, "spans": spans, "jobs": jobs, "setup_s": [3.0, 2.0, 2.5],
            "timed_counters": {"store.commits": 2, "store.files": 20, "store.bytes": 2000,
                               "rag.prompt_tokens": 3000},
            "setup_counters": {"embed.calls": 20, "embed.texts": 5000,
                               "embed.busy_ns": 400000000},
            "diag": {"gc_timed_s": 0.01}, "checks": {}}


class RollupTest(unittest.TestCase):

    def test_layers_add_up_to_wall(self):
        for idx, kind, wall, selfs, jobs in rollup.timed_ops(_record()):
            self.assertAlmostEqual(sum(selfs.values()), wall)
            self.assertAlmostEqual(selfs["search.scan"], 0.015)
            self.assertAlmostEqual(selfs["store.read"], 0.007)
            self.assertAlmostEqual(selfs["store.commit"], 0.015)
            self.assertAlmostEqual(selfs["embed"], 0.001)
            self.assertAlmostEqual(selfs["trace.unattributed"], 0.002)

    def test_layer_metrics(self):
        m = rollup.layer_metrics(_record(), oplog.ANALYTICS_QUERIES)
        self.assertEqual(m["spark.jobs_per_op"], 3)
        self.assertEqual(m["store.files_per_commit"], 10)
        self.assertEqual(m["store.read_jobs"], 1)
        self.assertEqual(m["search.rows_scored"], 5000)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.050 - 0.015 - 0.007 - 0.009)
        self.assertEqual(m["queries.q155_pagerank_s"], 0.0)

    def test_table_reports_residue(self):
        text = rollup.table("chat", _record(), untraced=(0.05, 0.045))
        self.assertIn("| search.scan | 0.0150 |", text)
        self.assertIn("+11.1%", text)


class ContractTest(unittest.TestCase):
    """BENCHMARK.json names exactly what run.py prints."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_names(self):
        rec = _record()
        names = set(run.end_to_end("chat", rec, []))
        self.assertEqual(names, {m["name"] for m in self.bench["end_to_end"]})
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertEqual(max(m["bound"] for m in self.bench["end_to_end"]),
                         next(m["bound"] for m in self.bench["end_to_end"]
                              if m["name"] == "setup_s"))

    def test_per_layer_names_and_units(self):
        m = rollup.layer_metrics(_record(), oplog.ANALYTICS_QUERIES)
        self.assertEqual([(k, run.unit_of(k)) for k in m],
                         [(x["name"], x["unit"]) for x in self.bench["per_layer"]])

    def test_checks_flag_a_token_mismatch(self):
        ops = [["timed", "turn", "s0", "p"], ["timed", "turn", "s1", "q"]]
        rec = {"checks": {"sessions": [["s0", 10, 10, 2], ["s1", 9, 10, 2]]}}
        self.assertEqual(run.check_chat(rec, [], ops), {1})

    def test_checks_count_the_earlier_turns(self):
        ops = [["timed", "turn", "s0", "p"], ["timed", "turn", "s1", "q"]]
        history = [["s0", "a"], ["s0", "b"], ["s1", "c"]]
        rec = {"checks": {"sessions": [["s0", 10, 10, 6], ["s1", 9, 9, 2]]}}
        self.assertEqual(run.check_chat(rec, history, ops), {1})


if __name__ == "__main__":
    unittest.main()
