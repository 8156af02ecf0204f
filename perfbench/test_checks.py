"""The checkers must reject a deliberately altered answer.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Each test gives a checker a correct input, which must pass, and the same
input with one response, segment row or query row altered, which must
fail. The twin test additionally shows that the generalized grid-panel
twins reproduce the engine's registered p76-p79 twins at their 240 x 6h
grid; it needs the corpus and an `oracle_sql.json` from a benchmark run
(perfbench/out/<workload>/), and is skipped without them.
"""
import glob
import hashlib
import json
import os
import unittest

import checks
import run

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.environ.get("SPARK_GRAFT_SF_DIR", run.DEFAULT_DATA)


def matrix(series):
    """A query_range body: series = {(labels...): {t: "v"}}."""
    result = [{"metric": dict(lab), "values": [[t, v] for t, v in sorted(vs.items())]}
              for lab, vs in series.items()]
    return json.dumps({"status": "success",
                       "data": {"resultType": "matrix", "result": result}}).encode()


def vector(series, t):
    result = [{"metric": dict(lab), "value": [t, v]} for lab, v in series.items()]
    return json.dumps({"status": "success",
                       "data": {"resultType": "vector", "result": result}}).encode()


class TwinCheck(unittest.TestCase):
    rows = [("1", 100, 2.5), ("1", 200, 3.25), ("2", 100, 0.1)]
    entry = {"key": "k", "kind": "range", "twin": {"shape": "counter_sum"}}

    def body(self):
        return matrix({(("k", "1"),): {100: "2.5", 200: "3.25"},
                       (("k", "2"),): {100: "0.1"}})

    def test_accepts_the_twin_answer(self):
        self.assertEqual(checks.check_twins(self.entry, self.body(), self.rows, 0), [])

    def test_rejects_an_altered_value(self):
        bad = matrix({(("k", "1"),): {100: "2.5", 200: "3.2500000000000004"},
                      (("k", "2"),): {100: "0.1"}})
        self.assertTrue(checks.check_twins(self.entry, bad, self.rows, 0))

    def test_rejects_a_missing_point(self):
        bad = matrix({(("k", "1"),): {100: "2.5"}, (("k", "2"),): {100: "0.1"}})
        self.assertTrue(checks.check_twins(self.entry, bad, self.rows, 0))

    def test_instant_stat(self):
        entry = {"key": "s", "kind": "instant", "twin": {"shape": "rate_sum"}}
        rows = [("1", 500, 0.5)]
        self.assertEqual(checks.check_twins(
            entry, vector({(("k", "1"),): "0.5"}, 500.25), rows, 500.25), [])
        self.assertTrue(checks.check_twins(
            entry, vector({(("k", "1"),): "0.6"}, 500.25), rows, 500.25))


class IdentityCheck(unittest.TestCase):
    def test_rejects_one_altered_serving(self):
        body = matrix({(("k", "1"),): {100: "1.0"}})
        sha = hashlib.sha256(body).hexdigest()
        altered = hashlib.sha256(body.replace(b"1.0", b"1.5")).hexdigest()
        self.assertEqual(checks.check_identity({"key": "k", "served": [sha, sha]}, body), [])
        self.assertTrue(checks.check_identity({"key": "k", "served": [sha, altered]}, body))


class RangeInstantCheck(unittest.TestCase):
    rng = matrix({(("k", "1"),): {100: "1.0", 160: "2.0"}, (("k", "2"),): {160: "3.0"}})

    def test_accepts_equal_answers(self):
        inst = vector({(("k", "1"),): "2.0", (("k", "2"),): "3.0"}, 160)
        self.assertEqual(checks.check_range_instant("q", self.rng, 160, inst), [])

    def test_rejects_an_altered_instant(self):
        inst = vector({(("k", "1"),): "2.0", (("k", "2"),): "3.5"}, 160)
        self.assertTrue(checks.check_range_instant("q", self.rng, 160, inst))

    def test_rejects_a_missing_series(self):
        inst = vector({(("k", "1"),): "2.0"}, 160)
        self.assertTrue(checks.check_range_instant("q", self.rng, 160, inst))


class DurabilityCheck(unittest.TestCase):
    sent = [("rw_requests", "w0", 1000, 1.5), ("rw_bytes", "w1", 1001, 22.25),
            ("rw_requests", "w0", 2000, 0.01)]

    def test_accepts_every_sample_once(self):
        self.assertEqual(checks.check_durability(
            list(reversed(self.sent)), 3, checks.digest(self.sent)), [])

    def test_rejects_an_altered_row(self):
        rows = self.sent[:2] + [("rw_requests", "w0", 2000, 0.02)]
        self.assertTrue(checks.check_durability(rows, 3, checks.digest(self.sent)))

    def test_rejects_a_lost_and_a_doubled_row(self):
        rows = self.sent[:2] + [self.sent[1]]
        self.assertTrue(checks.check_durability(rows, 3, checks.digest(self.sent)))
        self.assertTrue(checks.check_durability(self.sent[:2], 3, checks.digest(self.sent)))


class CurationCheck(unittest.TestCase):
    cols = ["doc_id", "score"]
    rows = [(1, 0.5), (2, float("nan")), (3, None)]

    def test_accepts_reordered_rows_and_columns(self):
        want = checks.curation_answer(self.cols, self.rows)
        got = [(s, d) for d, s in reversed(self.rows)]
        self.assertEqual(checks.check_curation("x", ["score", "doc_id"], got, want), [])

    def test_rejects_an_altered_row(self):
        want = checks.curation_answer(self.cols, self.rows)
        got = [(1, 0.5), (2, float("nan")), (3, 0.0)]
        self.assertTrue(checks.check_curation("x", self.cols, got, want))


class GeneralizedTwins(unittest.TestCase):
    """At the registered 240 x 6h grid the generalized twins return
    exactly the rows of the engine's p76-p79 twins."""

    def test_reproduce_registered_twins(self):
        found = sorted(glob.glob(os.path.join(HERE, "out", "*", "oracle_sql.json")))
        if not found or not os.path.isfile(os.path.join(DATA, "events.parquet")):
            self.skipTest("needs the corpus and an exported oracle_sql.json")
        with open(found[0]) as f:
            sql = json.load(f)
        con = checks.connect(DATA)
        t_us = con.execute(f"WITH m AS ({sql['metric_events']}) "
                           "SELECT MAX(epoch_us(ts)) FROM m").fetchone()[0]
        end = t_us // 1000000
        start, step = end - 239 * 21600, 21600
        cases = [("p76_query_range_grid", "counter_sum", "purchase", "", 0, 0),
                 ("p77_query_range_rate", "rate_sum", "purchase", "", 172800, 0),
                 ("p79_query_range_hq", "hq", "error", "", 172800, 0.9)]
        for name, shape, metric, k, w, q in cases:
            want = con.execute(sql[name]).fetchall()
            got = con.execute(checks.twin_sql(sql["metric_events"], shape, metric,
                                              k, w, q, start, end, step)).fetchall()
            self.assertEqual(got, want, name)
        # p78 covers every series; the panel twin takes one k at a time
        want = con.execute(sql["p78_query_range_gauge"]).fetchall()
        ks = sorted({r[1] for r in want})
        got = []
        for k in ks:
            got += con.execute(checks.twin_sql(sql["metric_events"], "gauge", "signup",
                                               k, 0, 0, start, end, step)).fetchall()
        self.assertEqual(sorted(got), sorted(want), "p78_query_range_gauge")


if __name__ == "__main__":
    unittest.main()
