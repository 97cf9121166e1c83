"""Each checker must reject a perturbed answer: a row dropped, a value
changed, or a stale version kept; and a rejected answer must make the
run's verdict incorrect.

    python3 perfbench/test_checks.py
"""
import os
import shutil
import sys
import tempfile
import unittest
from urllib.parse import urlsplit

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class StrictCompareTest(unittest.TestCase):
    def answer(self):
        return pd.DataFrame({
            "id": pd.Series([3, 1, 2], dtype="int64"),
            "title": ["c", None, "b"],
            "score": [0.5, -0.0, 1.25],
            "v": [[1.0, 2.0], [0.0], [3.0]],
        })

    def test_same_rows_in_another_order_and_int_width_pass(self):
        a = self.answer()
        b = a.iloc[[2, 0, 1]].reset_index(drop=True)
        b["id"] = b["id"].astype("int32")
        self.assertIsNone(checks.compare_strict(a, b))

    def test_dropped_row_fails(self):
        a = self.answer()
        self.assertIn("rows", checks.compare_strict(a.iloc[:2], a))

    def test_changed_values_fail(self):
        a = self.answer()
        for col, val in [("title", "z"), ("score", 0.5000000000000001),
                         ("id", 9), ("v", [1.0, 2.5])]:
            b = a.copy()
            b.at[0, col] = val
            self.assertIsNotNone(checks.compare_strict(b, a), col)

    def test_zero_sign_and_dtype_fail(self):
        a = self.answer()
        b = a.copy()
        b.at[1, "score"] = 0.0
        self.assertIsNotNone(checks.compare_strict(b, a))
        c = a.copy()
        c["id"] = c["id"].astype("float64")
        self.assertIn("dtypes", checks.compare_strict(c, a))


class IngestCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.backfill, cls.batches = gen.ingest_items(7, 4, "test")
        cls.model = checks.IngestModel(cls.backfill, cls.batches)

    def corpus(self):
        """The corpus a correct engine writes, built from the model."""
        rows = []
        for url, r in self.model.rows.items():
            v = self.model.version[url]
            rows.append(dict(r, domain=urlsplit(url).hostname,
                             embedding=[0.0] * 1024,
                             last_crawled=pd.Timestamp(gen.BACKFILL_STAMP_MS + 1 + v,
                                                       unit="ms")))
        return pd.DataFrame(rows)

    def test_correct_corpus_passes(self):
        self.assertEqual(checks.check_corpus(self.corpus(), self.model), [])

    def test_dropped_row_fails(self):
        c = self.corpus().iloc[1:]
        self.assertTrue(checks.check_corpus(c, self.model))

    def test_changed_value_fails(self):
        c = self.corpus()
        c.at[5, "content"] = "changed"
        self.assertTrue(checks.check_corpus(c, self.model))
        c = self.corpus()
        c.at[5, "domain"] = "elsewhere.example"
        self.assertTrue(checks.check_corpus(c, self.model))

    def test_stale_version_fails(self):
        older = {}
        for v, rows in [(-1, self.backfill)] + list(enumerate(self.batches)):
            for r in rows:
                if checks.passes_guards(r):
                    if r["url"] in older and self.model.version[r["url"]] == v:
                        stale = older[r["url"]]
                        c = self.corpus()
                        i = c.index[c["url"] == r["url"]][0]
                        for f in checks.FIELDS:
                            c.at[i, f] = stale[f]
                        c.at[i, "last_crawled"] = pd.Timestamp(
                            gen.BACKFILL_STAMP_MS + 1 + v - 1, unit="ms")
                        self.assertTrue(checks.check_corpus(c, self.model))
                        return
                    older[r["url"]] = r
        self.fail("the generated backlog re-crawls no url")

    def test_guard_dropped_row_fails(self):
        dropped = next(r for rows in self.batches for r in rows
                       if r["url"] is not None and not checks.passes_guards(r)
                       and r["url"] not in self.model.rows)
        c = self.corpus()
        extra = dict(dropped, domain=urlsplit(dropped["url"]).hostname,
                     embedding=[0.0] * 1024, last_crawled=c["last_crawled"].max())
        c = pd.concat([c, pd.DataFrame([extra])], ignore_index=True)
        self.assertTrue(checks.check_corpus(c, self.model))

    def test_batch_order_fails(self):
        c = self.corpus()
        last = c["last_crawled"].max()
        first_batch = c.index[c["last_crawled"] == c["last_crawled"].min()][0]
        c.at[first_batch, "last_crawled"] = last + pd.Timedelta(milliseconds=1)
        self.assertTrue(checks.check_corpus(c, self.model))


class EmbeddingCheckTest(unittest.TestCase):
    # A stand-in featurizer with the same shape as the engine's CTE chain:
    # items(k, txt) -> xfeat(k, v).
    SQL = "xfeat AS (SELECT k, list_transform(range(1024), i -> " \
          "CAST(length(txt) + i AS DOUBLE)) AS v FROM items)"

    def sample(self):
        urls = ["https://s1.example/p/1.html", "https://s2.example/p/2.jpg"]
        emb = [[float(len("alpha beta") + i) for i in range(1024)],
               [float(24 + i) for i in range(1024)]]   # base64 of 16 bytes
        return pd.DataFrame({"url": urls, "content": ["alpha beta", None],
                             "embedding_type": ["text", "vision"],
                             "embedding": emb})

    def test_recomputed_embeddings_pass(self):
        self.assertEqual(oracle.embedding_check(self.SQL, self.sample()), [])

    def test_changed_embedding_fails(self):
        s = self.sample()
        s.at[1, "embedding"] = s.at[1, "embedding"][:-1] + [0.5]
        self.assertTrue(oracle.embedding_check(self.SQL, s))


class RunVerdictTest(unittest.TestCase):
    """A wrong answer must make the whole run incorrect, not only count."""
    SQL = "SELECT n_nationkey, n_name FROM nation"

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.cache = oracle.CACHE
        oracle.CACHE = os.path.join(self.tmp, "cache")

    def tearDown(self):
        oracle.CACHE = self.cache
        shutil.rmtree(self.tmp)

    def record(self, answer):
        d = os.path.join(self.tmp, "a0")
        os.makedirs(d)
        answer.to_parquet(os.path.join(d, "part-0.parquet"))
        return {"answers": [{"id": 0, "key": "nations", "dir": d}],
                "oracle_sql": {"nations": self.SQL}}

    def ops(self):
        return [{"round": 0, "answer": 0, "error": None},
                {"round": 0, "answer": 0, "error": None}]

    def right(self):
        return oracle.Oracle(run.DATA).answer(self.SQL, cache=False)

    def test_right_answer_is_correct(self):
        bad = run.check_answers(self.record(self.right()), {})
        self.assertEqual(run.verdict(self.ops(), bad_answers=bad), (True, 0))

    def test_dropped_row_makes_the_run_incorrect(self):
        bad = run.check_answers(self.record(self.right().iloc[1:]), {})
        self.assertEqual(run.verdict(self.ops(), bad_answers=bad), (False, 2))

    def test_bad_round_or_error_makes_the_run_incorrect(self):
        ops = self.ops()
        self.assertEqual(run.verdict(ops, bad_rounds={0}), (False, 2))
        ops[1]["error"] = "boom"
        self.assertEqual(run.verdict(ops), (False, 1))


class ListingTemplateTest(unittest.TestCase):
    def test_unknown_sort_column_falls_back_to_last_crawled(self):
        page = {"term": "Red widget", "sort": "updated_at", "asc": False,
                "offset": 10, "limit": 10}
        sql = oracle.listing_sql("web_pages AS (SELECT 1)", page)
        self.assertIn("ORDER BY last_crawled DESC NULLS LAST, id", sql)
        self.assertIn("['red', 'widget']", sql)
        self.assertIn("LIMIT 10 OFFSET 10", sql)


if __name__ == "__main__":
    unittest.main()
