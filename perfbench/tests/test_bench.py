"""The benchmark's own tests: seeded inputs, metric names, the tail
statistic and the output checks. No Spark needed.

    python3 -m unittest discover -s perfbench/tests
"""
import csv
import hashlib
import json
import os
import random
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import duckdb  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def digest(root):
    h = hashlib.sha256()
    for rel in gen.tree_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


SMALL = {
    "etl_month": lambda seed, out: gen.etl_month(seed, out, rows_per_day=50),
    "index_daily": gen.index_daily,
    "olap": lambda seed, out: gen.olap_hot(seed, out, sf=0.0005),
}


class SeededInputs(unittest.TestCase):
    def make(self, kind, seed):
        d = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(d, ignore_errors=True))
        SMALL[kind](seed, d)
        return digest(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for kind in SMALL:
            with self.subTest(kind=kind):
                a, b, c = self.make(kind, 7), self.make(kind, 7), self.make(kind, 8)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_every_name_is_well_formed_and_unique(self):
        names = [w["name"] for w in self.spec["workloads"]]
        names += [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_runner_knows_every_workload(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.REQUEST)
            self.assertIn(w["name"], gen.GENERATORS)
            self.assertIn(w["name"], oracle.CHECKS)

    def test_named_figures_land_in_per_layer(self):
        per_layer = {m["name"] for m in self.spec["per_layer"]}
        for figures in run.NAMED.values():
            for name, _, _, _ in figures:
                self.assertIn(f"e2e.{name}", per_layer)
                self.assertRegex(f"e2e.{name}", NAME)


class Tail(unittest.TestCase):
    def test_at_least_ten_samples_beyond(self):
        rnd = random.Random(1)
        for n in range(1, 300):
            xs = [rnd.random() for _ in range(n)]
            t = stats.tail(xs)
            if n <= stats.TAIL_BEYOND:
                self.assertIsNone(t)
                continue
            value, pct = t
            ordered = sorted(xs)
            k = ordered.index(value)
            self.assertGreaterEqual(len(ordered) - 1 - k, stats.TAIL_BEYOND)
            self.assertEqual(len(ordered) - 1 - k, stats.TAIL_BEYOND)
            self.assertAlmostEqual(pct, 100.0 * (k + 1) / n)


def write_csv(d, header, rows):
    os.makedirs(d)
    with open(os.path.join(d, "part-00000-test.csv"), "w", newline="",
              encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows([["" if v is None else v for v in r] for r in rows])


class PlantedWrongOutput(unittest.TestCase):
    """Each check passes on outputs computed independently and fails once
    a wrong value is planted in them."""

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.addCleanup(lambda: __import__("shutil").rmtree(self.dir, ignore_errors=True))

    def test_etl_month(self):
        data, work = os.path.join(self.dir, "data"), os.path.join(self.dir, "work")
        gen.etl_month(3, data, rows_per_day=300)
        logs = os.path.join(data, "logs")
        files = sorted(os.path.join(logs, f) for f in os.listdir(logs)
                       if f.endswith(".json"))
        rel = duckdb.sql(oracle.etl_month_sql(files))
        rows = [list(r) for r in rel.fetchall()]
        day = os.path.basename(files[0])[:-5]
        drel = duckdb.sql(oracle.etl_day_sql(files[0], "2022-04-01"))
        write_csv(os.path.join(work, "out", "month"), rel.columns, rows)
        write_csv(os.path.join(work, "out", "daily", day), drel.columns, drel.fetchall())
        info = {"month_checked": True, "days_run": [day]}
        self.assertEqual(oracle.check_etl_month(data, work, info), [])

        rows[0][rel.columns.index("TotalDevices")] += 1
        os.remove(os.path.join(work, "out", "month", "part-00000-test.csv"))
        os.rmdir(os.path.join(work, "out", "month"))
        write_csv(os.path.join(work, "out", "month"), rel.columns, rows)
        problems = oracle.check_etl_month(data, work, info)
        self.assertEqual(len(problems), 1)
        self.assertIn("month report", problems[0])

    def index_info(self, data):
        """A correct info for a run of one day (day 0): admit exactly the
        docs that copy nothing."""
        con = duckdb.connect()
        batch = con.sql(f"SELECT doc_id, day, src_id, exact FROM "
                        f"'{os.path.join(data, 'batch_docs.parquet')}' "
                        f"WHERE day = 0").fetchall()
        corpus = {r[0] for r in con.sql(
            f"SELECT doc_id FROM '{os.path.join(data, 'corpus_docs.parquet')}'").fetchall()}
        deleted = set()
        with open(os.path.join(data, "deletes.txt")) as f:
            for line in f:
                d, i = line.split()
                if d == "0":
                    deleted.add(int(i))
        admitted = sorted(r[0] for r in batch if r[2] < 0)
        live = sorted((corpus | set(admitted)) - deleted)
        # day 0's IVF serve: cosine top-5 over the corpus, by brute force
        vec = {}
        for name in ("corpus_vecs", "batch_vecs"):
            for i, v in con.sql(f"SELECT vec_id, embedding FROM "
                                f"'{os.path.join(data, name + '.parquet')}'").fetchall():
                vec[i] = v

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            return dot / (sum(x * x for x in a) * sum(y * y for y in b)) ** 0.5

        top = []
        for q, _, _, _ in batch:
            best = sorted(corpus, key=lambda n: -cos(vec[q], vec[n]))[:5]
            top += [[q, n, rk + 1] for rk, n in enumerate(best)]
        return {"minhash_rebuild_days": [0], "minhash_rebuild_mismatch_days": [],
                "admitted": {"0": admitted}, "ivf_served": {"0": top},
                "day_order": [0], "live_doc_ids": live,
                "live_vec_ids": live}, batch

    def test_index_daily(self):
        gen.index_daily(4, self.dir)
        info, batch = self.index_info(self.dir)
        self.assertEqual(oracle.check_index_daily(self.dir, self.dir, info), [])

        def caught(wrong, text):
            problems = oracle.check_index_daily(self.dir, self.dir, wrong)
            self.assertTrue(any(text in p for p in problems), problems)

        copy = next(r[0] for r in batch if r[3] == 1)
        caught(dict(info, admitted={"0": info["admitted"]["0"] + [copy]},
                    live_doc_ids=sorted(info["live_doc_ids"] + [copy]),
                    live_vec_ids=sorted(info["live_vec_ids"] + [copy])), "verbatim copy")
        # a serve that admits nothing
        gone = set(info["admitted"]["0"])
        caught(dict(info, admitted={"0": []},
                    live_doc_ids=[i for i in info["live_doc_ids"] if i not in gone],
                    live_vec_ids=[i for i in info["live_vec_ids"] if i not in gone]),
               "fresh doc")
        caught(dict(info, live_vec_ids=info["live_vec_ids"][1:]), "live_vec_ids")
        top = info["ivf_served"]["0"]
        # an IVF serve that misses a neighbor, ranks out of order, or
        # serves a vector that is not live
        sixth = next(n for n in sorted(info["live_vec_ids"])
                     if n not in {r[1] for r in top[:5]})
        caught(dict(info, ivf_served={"0": [top[0][:1] + [sixth, 1]] + top[1:]}),
               "exact top-5")
        caught(dict(info, ivf_served={"0": [top[1][:2] + [1], top[0][:2] + [2]]
                                      + top[2:]}), "exact top-5")
        caught(dict(info, ivf_served={"0": top[:4] + [top[4][:1] + [-7, 5]] + top[5:]}),
               "exact top-5")
        caught(dict(info, ivf_served={}), "no IVF serve")
        caught(dict(info, minhash_rebuild_mismatch_days=[0]), "rebuild")
        caught(dict(info, minhash_rebuild_days=[]), "rebuild")

    def test_olap_queries(self):
        data, work = os.path.join(self.dir, "olap"), os.path.join(self.dir, "work")
        os.makedirs(data)
        gen.olap_hot(5, data, sf=0.0005)
        sql = {"g1": "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q "
                     "FROM lineitem GROUP BY 1"}
        con = duckdb.connect()
        for t in oracle.OLAP_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data, t + '.parquet')}'")
        out = os.path.join(work, "olap", "g1")
        os.makedirs(out)
        con.execute(f"COPY ({sql['g1']}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        info = {"olap_oracle_sql": sql}
        self.assertEqual(oracle.check_olap(data, work, info), [])
        con.execute(f"COPY (SELECT l_returnflag, n + 1 AS n, q FROM ({sql['g1']})) "
                    f"TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        self.assertEqual(len(oracle.check_olap(data, work, info)), 1)


if __name__ == "__main__":
    unittest.main()
