"""Self-tests of the benchmark.

    python3 -m unittest discover -s pipebench/tests -v     # from the repository root

The generator and checker tests take seconds. `TracedBackfillTest` runs an
untraced and a traced backfill through the real program (about two
minutes).
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

GOLD = "gold_market_features_daily"
SCRATCH = os.path.join(ROOT, ".bench_work", "tests")


def tree_digest(root):
    h = hashlib.sha256()
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def table_digest(con, wh, table):
    """Order-independent digest of a table's rows, file layout and the run's
    own directory (in `input_file`) ignored."""
    sel, _ = check._select(check.TABLES[table][0])
    rows = con.execute(f"SELECT {sel} FROM read_parquet('{wh}/{table}/*/*.parquet', "
                       f"hive_partitioning = true, union_by_name = true)").fetchall()
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()


def plant(con, wh, symbol):
    """Rewrites the gold partition of `symbol` with one close value changed."""
    part = os.path.join(wh, GOLD, f"symbol={symbol}")
    files = [os.path.join(part, f) for f in os.listdir(part) if f.endswith(".parquet")]
    tmp = os.path.join(wh, "planted.parquet")
    con.execute(f"COPY (SELECT * REPLACE (CASE WHEN row_number() OVER (ORDER BY date) = 7 "
                f"THEN close * 1.01 ELSE close END AS close) FROM read_parquet({files!r})) "
                f"TO '{tmp}' (FORMAT PARQUET)")
    for f in os.listdir(part):
        os.remove(os.path.join(part, f))
    shutil.move(tmp, os.path.join(part, "part-planted.parquet"))


class ScratchTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(SCRATCH, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)

    def tearDown(self):
        shutil.rmtree(self.tmp)


class GeneratorTest(ScratchTest):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            gen.generate(os.path.join(self.tmp, name), seed, 20, 60, 2)
        a, b, c = (tree_digest(os.path.join(self.tmp, n)) for n in "abc")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_no_batch_repeats_a_key_and_equity_files_are_largest(self):
        m = gen.generate(self.tmp, 9, 20, 60, 2)
        for b in m["batches"]:
            d = os.path.join(self.tmp, b["dir"])
            sizes = {f: os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)}
            self.assertTrue(max(sizes, key=sizes.get).startswith("EQ"))
            for f in sizes:
                with open(os.path.join(d, f)) as fh:
                    dates = [line.split(",")[0] for line in fh.read().splitlines()[1:]]
                self.assertEqual(len(dates), len(set(dates)), f)


class CheckerTest(ScratchTest):
    """The checker against a warehouse written by DuckDB from the oracle."""

    def setUp(self):
        super().setUp()
        data = os.path.join(self.tmp, "data")
        self.manifest = gen.generate(data, 3, 20, 80, 1)
        self.oracle = check.Oracle(data, self.manifest, ["full"])
        self.wh = os.path.join(self.tmp, "wh")
        os.makedirs(self.wh)
        con = self.oracle.con
        for table in check.TABLES:
            key = "layer" if table == "data_quality_checks" else "symbol"
            con.execute(f"COPY (SELECT * FROM {self.oracle.table(table, 1)}) TO "
                        f"'{self.wh}/{table}' (FORMAT PARQUET, PARTITION_BY ({key}))")

    def test_oracle_copy_passes(self):
        self.assertEqual(check.check_warehouse(self.oracle, self.wh, 1), [])

    def test_planted_gold_value_fails(self):
        plant(self.oracle.con, self.wh, self.manifest["symbols"][0])
        problems = check.check_warehouse(self.oracle, self.wh, 1)
        self.assertEqual(len(problems), 1)
        self.assertIn(GOLD, problems[0])


class TracedBackfillTest(unittest.TestCase):
    """One untraced and one traced backfill of the same seed: `runConfigured`
    and the benchmark's span-by-span calls of the same stages must leave
    identical tables, the spans must cover the pipeline call, and a value
    planted in the real warehouse must fail the check."""

    def run_bench(self, seed, trace):
        out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                              "backfill", "--seed", str(seed), "--seconds", "1", "--trace",
                              str(trace), "--keep"], cwd=ROOT, capture_output=True, text=True,
                             timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"], out.stdout)
        work = os.path.join(ROOT, ".bench_work", f"backfill-seed{seed}-trace{trace}")
        self.addCleanup(shutil.rmtree, work, True)
        return result["metrics"], os.path.join(work, "wh", "rep0"), os.path.join(work, "data")

    def test_traced_backfill(self):
        plain, plain_wh, _ = self.run_bench(7, 0)
        traced, traced_wh, data = self.run_bench(7, 1)
        self.assertGreaterEqual(traced["trace.coverage"]["value"], 0.9)
        print(f"\ntracing overhead on one cold backfill call: "
              f"{traced['trace.pipeline_run_s']['value'] - plain['pipeline_run_s']['value']:+.3f} s "
              f"({plain['pipeline_run_s']['value']:.3f} s untraced)")

        con = check.duckdb.connect()
        for table in check.TABLES:
            self.assertEqual(table_digest(con, plain_wh, table), table_digest(con, traced_wh, table),
                             table)

        with open(os.path.join(data, "manifest.json")) as f:
            manifest = json.load(f)
        oracle = check.Oracle(data, manifest, ["full"])
        self.assertEqual(check.check_warehouse(oracle, traced_wh, 1), [])
        plant(con, traced_wh, manifest["symbols"][1])
        problems = check.check_warehouse(oracle, traced_wh, 1)
        self.assertTrue(problems and all(GOLD in p for p in problems), problems)


if __name__ == "__main__":
    unittest.main()
