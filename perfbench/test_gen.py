"""Tests of the benchmark's own input generator and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The last tests run both workloads end to end with a deliberately corrupted
planted truth and need the sbt build; they are skipped unless
PERFBENCH_E2E=1.
"""
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402


def tree_files(root):
    return sorted(p.relative_to(root) for p in Path(root).rglob("*") if p.is_file())


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.root = Path(cls.tmp.name)
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            gen.tables(str(cls.root / name / "tables"), seed, sf=0.001)
            gen.serve(str(cls.root / name / "serve"), seed, n_ops=40)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_inputs(self):
        a, b = self.root / "a", self.root / "b"
        files = tree_files(a)
        self.assertEqual(files, tree_files(b))
        self.assertGreater(len(files), 20)
        for f in files:
            self.assertTrue(filecmp.cmp(a / f, b / f, shallow=False), f)

    def test_different_seed_gives_different_inputs(self):
        a, c = self.root / "a", self.root / "c"
        for f in ("tables/lineitem.parquet", "tables/documents.parquet",
                  "serve/ops.json", "serve/ann_corpus.parquet",
                  "serve/lookup_events.parquet", "serve/dedup_corpus.parquet"):
            self.assertFalse(filecmp.cmp(a / f, c / f, shallow=False), f)

    def test_ops_come_in_blocks_of_one_of_each_type(self):
        ops = json.loads((self.root / "a" / "serve" / "ops.json").read_text())["ops"]
        self.assertEqual(len(ops), 40)
        for i in range(0, len(ops), 4):
            self.assertEqual(sorted(o["op"] for o in ops[i:i + 4]), sorted(gen.OPS))
        ingests = [o for o in ops if o["op"] == "ingest_file"]
        self.assertIn(ingests[2]["redeliver"], {o["file"] for o in ingests[:2]})
        self.assertIn(ingests[7]["redeliver"], {o["file"] for o in ingests[:7]})
        self.assertEqual(sum(o["redeliver"] is not None for o in ingests), 2)

    def test_planted_near_copies_clear_the_jaccard_tau(self):
        ops = json.loads((self.root / "a" / "serve" / "ops.json").read_text())["ops"]
        con = duckdb.connect()
        corpus = [r[0] for r in con.execute(
            f"SELECT text FROM read_parquet('{self.root}/a/serve/dedup_corpus.parquet')").fetchall()]
        admitted = list(corpus)
        near = 0
        for o in (o for o in ops if o["op"] == "dedup_admit"):
            for text, verdict in zip(o["texts"], o["verdicts"]):
                best = max(gen.jaccard(text, t) for t in admitted)
                if verdict == "exact_dup":
                    self.assertIn(text, admitted)
                elif verdict == "near_dup":
                    near += 1
                    self.assertNotIn(text, admitted)
                    self.assertGreaterEqual(best, 0.5)
                else:
                    self.assertLess(best, 0.5)
            admitted += [t for t, v in zip(o["texts"], o["verdicts"]) if v == "new"]
        self.assertGreater(near, 0)

    def test_dirty_files_carry_the_planted_dirt(self):
        inbox = self.root / "a" / "serve" / "inbox"
        raw = {p.name: p.read_bytes() for p in inbox.iterdir()}
        self.assertTrue(any(b.startswith(b"\xef\xbb\xbf") for b in raw.values()), "BOM")
        self.assertTrue(any(b"\xfc" in b or b"\xe9" in b for b in raw.values()), "cp1252")
        self.assertTrue(any(b",}" in b for n, b in raw.items() if n.endswith(".jsonl")))
        ops = json.loads((self.root / "a" / "serve" / "ops.json").read_text())["ops"]
        self.assertTrue(any(o.get("quarantined", 0) > 0 for o in ops))


class OracleCheckTest(unittest.TestCase):
    """The gate check must fail an output that disagrees with the oracle."""

    def test_corrupted_output_is_caught(self):
        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            gen.tables(str(d / "tables"), 3, sf=0.001)
            verify = d / "verify"
            verify.mkdir()
            sql = "SELECT o_orderstatus AS s, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1"
            (verify / "oracle_sql.json").write_text(json.dumps({"g": sql}))
            con = duckdb.connect()
            con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{d}/tables/orders.parquet')")
            (verify / "g").mkdir()
            con.execute(f"COPY ({sql}) TO '{verify}/g/part-0.parquet' (FORMAT parquet)")
            self.assertEqual(oracle.check(d / "tables", verify), (1, []))
            con.execute(f"COPY (SELECT s, n + 1 AS n FROM ({sql})) "
                        f"TO '{verify}/g/part-0.parquet' (FORMAT parquet)")
            checked, bad = oracle.check(d / "tables", verify)
            self.assertEqual(checked, 1)
            self.assertEqual(len(bad), 1)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1", "needs the sbt build")
class CorruptedTruthTest(unittest.TestCase):
    """A run against a corrupted planted truth must report failures: a spoilt
    dedup verdict and ingest row count (serve), a spoilt oracle (batch)."""

    def run_corrupted(self, workload):
        out = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
             "--seconds", "1", "--trace", "0", "--corrupt-truth"],
            cwd=HERE.parent, capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_corrupted_serve_truth_fails_the_run(self):
        res = self.run_corrupted("serve")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 2)

    def test_corrupted_oracle_fails_the_run(self):
        res = self.run_corrupted("batch")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
