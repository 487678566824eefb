"""Self-tests of the benchmark's own logic: input generation, the tail
percentile rule and result normalization.

  python3 -m unittest discover -s perfbench/tests   (from the repository root)
"""
import datetime
import decimal
import filecmp
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(HERE)), "dev"))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import run  # noqa: E402


def files_under(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        runs = os.path.join(os.path.dirname(os.path.dirname(HERE)), ".bench_run")
        os.makedirs(runs, exist_ok=True)
        cls.tmp = tempfile.TemporaryDirectory(dir=runs)
        cls.a, cls.b, cls.c = (os.path.join(cls.tmp.name, x) for x in "abc")
        gen.generate(7, cls.a)
        gen.generate(7, cls.b)
        gen.generate(8, cls.c)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_files(self):
        names = files_under(self.a)
        self.assertEqual(names, files_under(self.b))
        _, mismatch, errors = filecmp.cmpfiles(self.a, self.b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_reorders_rows_but_keeps_every_table(self):
        for t in gen.TABLES:
            src = pq.read_table(os.path.join(gen.SOURCE, f"{t}.parquet"))
            for d in (self.a, self.c):
                out = pq.read_table(os.path.join(d, f"{t}.parquet"))
                self.assertEqual(out.schema, src.schema, t)
                self.assertEqual(run.multiset(out), run.multiset(src), t)
        lineitem = [pq.read_table(os.path.join(d, "lineitem.parquet")) for d in (self.a, self.c)]
        self.assertNotEqual(lineitem[0].to_pylist(), lineitem[1].to_pylist())

    def test_ingest_splits_cover_history_and_arrivals_once(self):
        ids = pq.read_table(os.path.join(gen.SOURCE, "documents.parquet")).column("doc_id").to_pylist()
        hist = [d for i in range(2)
                for d in pq.read_table(os.path.join(self.a, "ingest", f"hist_{i}.parquet"))
                .column("doc_id").to_pylist()]
        arrive = pq.read_table(os.path.join(self.a, "ingest", "arrive")).column("doc_id").to_pylist()
        self.assertEqual(sorted(hist), sorted(d for d in ids if d % 2 == 0))
        self.assertEqual(sorted(arrive), sorted(d for d in ids if d % 2 == 1))
        events = pq.read_table(os.path.join(self.a, "ingest", "events"))
        self.assertEqual(run.multiset(events),
                         run.multiset(pq.read_table(os.path.join(gen.SOURCE, "events.parquet"))))

    def test_planted_near_dups_copy_their_even_twin(self):
        docs = dict(zip(*pq.read_table(os.path.join(gen.SOURCE, "documents.parquet"),
                                       columns=["doc_id", "text"]).to_pydict().values()))
        arrive = pq.read_table(os.path.join(self.a, "ingest", "arrive")).to_pydict()
        planted = 0
        for d, t in zip(arrive["doc_id"], arrive["text"]):
            if d % 7 == 3:
                planted += 1
                self.assertEqual(t, None if docs.get(d - 1) is None else docs[d - 1] + " zz")
            else:
                self.assertEqual(t, docs[d])
        self.assertGreater(planted, 0)


class TailPercentileTest(unittest.TestCase):

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (11, 24, 36, 48, 100, 1000):
            values = [float(i) for i in range(n)]
            p, v, k = run.tail_percentile(list(reversed(values)))
            self.assertEqual(k, 10)
            self.assertEqual(sum(x > v for x in values), 10, n)
            self.assertAlmostEqual(p, 100.0 * (n - 10) / n)

    def test_hundred_samples_give_p90(self):
        p, v, k = run.tail_percentile(range(1, 101))
        self.assertEqual((p, v, k), (90.0, 90, 10))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(run.tail_percentile([3.0, 1.0, 2.0]), (100.0, 3.0, 0))
        self.assertEqual(run.tail_percentile(range(10)), (100.0, 9, 0))


class NormalizationTest(unittest.TestCase):

    def table(self, rows, cols):
        return pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})

    def test_row_and_column_order_do_not_matter(self):
        a = self.table([(1, "x"), (2, "y")], ["id", "s"])
        b = self.table([("y", 2), ("x", 1)], ["s", "id"])
        self.assertEqual(run.multiset(a), run.multiset(b))

    def test_duplicate_rows_count(self):
        a = self.table([(1,), (1,), (2,)], ["id"])
        b = self.table([(1,), (2,), (2,)], ["id"])
        self.assertNotEqual(run.multiset(a), run.multiset(b))

    def test_decimals_compare_as_floats_and_timestamps_drop_zone(self):
        dec = pa.table({"v": pa.array([decimal.Decimal("1.50")], pa.decimal128(18, 2))})
        flt = pa.table({"v": pa.array([1.5], pa.float64())})
        self.assertEqual(run.multiset(dec), run.multiset(flt))
        ts = datetime.datetime(2024, 1, 2, 3, 4, 5)
        utc = pa.table({"t": pa.array([ts], pa.timestamp("us", tz="UTC"))})
        naive = pa.table({"t": pa.array([ts], pa.timestamp("us"))})
        self.assertEqual(run.multiset(utc), run.multiset(naive))

    def test_floats_compare_exactly(self):
        a = pa.table({"v": pa.array([0.1 + 0.2])})
        b = pa.table({"v": pa.array([0.3])})
        self.assertNotEqual(run.multiset(a), run.multiset(b))


if __name__ == "__main__":
    unittest.main()
