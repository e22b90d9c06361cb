"""The benchmark's correctness checks accept a right answer and reject a
deliberately corrupted one. No engine needed: the "engine output" here is
made from the generator's own record, then damaged.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402


def _write_parts(d, chunks, suffix=".txt"):
    """Writes `chunks` as Spark-style part files of directory `d`."""
    os.makedirs(d, exist_ok=True)
    for i, c in enumerate(chunks):
        with open(os.path.join(d, f"part-{i:05d}-x-c000{suffix}"), "wb") as f:
            f.write(c)


class CorpusCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        saved = gen.CORPUS_FILES, gen.CORPUS_TOKENS_PER_FILE
        gen.CORPUS_FILES, gen.CORPUS_TOKENS_PER_FILE = 12, 800
        try:
            cls.inputs = gen.ensure("corpus", 7, cls.tmp)
        finally:
            gen.CORPUS_FILES, gen.CORPUS_TOKENS_PER_FILE = saved
        with open(os.path.join(cls.inputs, "expected_index.txt"), "rb") as f:
            cls.expected = f.read()
        with open(os.path.join(cls.inputs, "expected.json")) as f:
            cls.kept = json.load(f)["kept_tokens"]

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def run_check(self, text, observed=None):
        d = tempfile.mkdtemp(dir=self.tmp)
        lines = text.splitlines(keepends=True)
        half = len(lines) // 2
        _write_parts(d, [b"".join(lines[:half]), b"".join(lines[half:])])
        return checks.corpus(self.inputs, {
            "builds": [d],
            "observed_words": [self.kept if observed is None else observed]})

    def test_expected_index_passes(self):
        self.assertEqual(self.run_check(self.expected)[0], 0)

    def test_expected_counts_match_the_corpus_text(self):
        # recount the written files under the documented token rules
        stop = set(gen.STOP_WORDS)
        table = str.maketrans({c: " " for c in gen.PUNCTUATION})
        counts = {}
        inp = os.path.join(self.inputs, "input")
        for name in sorted(os.listdir(inp)):
            with open(os.path.join(inp, name)) as f:
                text = f.read()
            for tok in text.lower().translate(table).split():
                if len(tok) >= 3 and not re.fullmatch(r"[-+]?[0-9]*", tok) \
                        and tok not in stop:
                    counts[(tok, name)] = counts.get((tok, name), 0) + 1
        self.assertEqual(sum(counts.values()), self.kept)
        first = self.expected.split(b"\n")[0].decode()
        term, posts = first.split(": ")
        for p in posts.split(", "):
            doc, c = p.rsplit("#", 1)
            self.assertEqual(counts[(term, doc)], int(c))

    def test_count_off_by_one_fails(self):
        line = self.expected.split(b"\n")[0]
        head, last = line.rsplit(b"#", 1)
        bad = head + b"#" + str(int(last) + 1).encode()
        self.assertGreater(
            self.run_check(self.expected.replace(line, bad, 1))[0], 0)

    def test_posting_order_fails(self):
        lines = self.expected.split(b"\n")
        i = next(k for k, l in enumerate(lines) if l.count(b",") >= 1)
        term, posts = lines[i].split(b": ")
        ps = posts.split(b", ")
        lines[i] = term + b": " + b", ".join(ps[1:] + ps[:1])
        self.assertGreater(self.run_check(b"\n".join(lines))[0], 0)

    def test_term_order_fails(self):
        lines = self.expected.split(b"\n")
        lines[0], lines[1] = lines[1], lines[0]
        self.assertGreater(self.run_check(b"\n".join(lines))[0], 0)

    def test_observed_token_count_off_fails(self):
        self.assertGreater(
            self.run_check(self.expected, observed=self.kept - 1)[0], 0)


class ServeCheck(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        saved = gen.SERVE_DOCS, gen.SERVE_ROUNDS
        gen.SERVE_DOCS, gen.SERVE_ROUNDS = 200, 3
        try:
            cls.inputs = gen.ensure("serve", 7, cls.tmp)
        finally:
            gen.SERVE_DOCS, gen.SERVE_ROUNDS = saved
        cls.n_ops = 2 * len(gen.SERVE_ROUND)
        cls.want, cls.appended = gen.serve_replay(cls.inputs, cls.n_ops)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def run_check(self, rows, doc_count=None):
        out = tempfile.mkdtemp(dir=self.tmp)
        with open(os.path.join(out, "serve_results.jsonl"), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        count = self.appended if doc_count is None else doc_count
        return checks.serve(self.inputs, out, {"doc_count": count})

    def test_replayed_answers_pass(self):
        self.assertEqual(self.run_check(self.want)[0], 0)

    def test_appended_terms_are_looked_up(self):
        # after the first append, some lookup of an appended-only term hits
        later = self.want[len(gen.SERVE_ROUND):]
        self.assertTrue(any(r.get("rows") for r in later))

    def test_count_off_by_one_fails(self):
        rows = json.loads(json.dumps(self.want))
        hit = next(r for r in rows if r.get("rows"))
        hit["rows"][0][1] += 1
        self.assertEqual(self.run_check(rows)[0], 1)

    def test_missing_posting_fails(self):
        rows = json.loads(json.dumps(self.want))
        hit = next(r for r in rows if r.get("rows"))
        hit["rows"].pop()
        self.assertEqual(self.run_check(rows)[0], 1)

    def test_doc_count_off_fails(self):
        self.assertEqual(self.run_check(self.want, self.appended + 1)[0], 1)


class MixCheck(unittest.TestCase):
    SQL = ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
           "round(sum(l_quantity), 2) AS qty FROM lineitem "
           "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")

    @classmethod
    def setUpClass(cls):
        import duckdb
        cls.tmp = tempfile.mkdtemp()
        cls.inputs = gen.ensure("tables", 7, cls.tmp)
        con = duckdb.connect()
        con.execute("CREATE VIEW lineitem AS SELECT * FROM "
                    f"'{os.path.join(cls.inputs, 'lineitem.parquet')}'")
        cls.frame = con.execute(cls.SQL).df()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def run_check(self, frame):
        out = tempfile.mkdtemp(dir=self.tmp)
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q_test": self.SQL}, f)
        d = os.path.join(out, "mix", "0", "q_test")
        os.makedirs(d)
        # column order must not matter, as in the engine's own comparison
        frame[frame.columns[::-1]].to_parquet(
            os.path.join(d, "part-00000-x-c000.snappy.parquet"))
        return checks.mix(self.inputs, out, {"outputs": [["q_test", d]]})

    def test_oracle_result_passes(self):
        self.assertEqual(self.run_check(self.frame.copy())[0], 0)

    def test_value_off_by_one_fails(self):
        bad = self.frame.copy()
        bad.loc[0, "n"] += 1
        self.assertEqual(self.run_check(bad)[0], 1)

    def test_row_order_fails(self):
        self.assertEqual(
            self.run_check(self.frame.iloc[::-1].reset_index(drop=True))[0], 1)


if __name__ == "__main__":
    unittest.main()
