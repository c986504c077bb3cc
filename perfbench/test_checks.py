"""The benchmark's own tests: the generators are deterministic and every
output check fails on a perturbed result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import shutil
import tempfile
import unittest

import duckdb

import checks
import gen

SHAPE = {"bulk_days": 40, "batches": 3}


def write_clean(seed, applied, out, mutate=None):
    """Write the truth as a hive-partitioned parquet table, the layout
    Upsert.writePartitioned produces, optionally mutated by SQL."""
    con = duckdb.connect()
    con.register("truth", checks.weather_truth_table(seed, SHAPE, applied))
    con.execute("CREATE TABLE t AS SELECT * FROM truth")
    if mutate:
        con.execute(mutate)
    con.execute(f"COPY t TO '{out}' (FORMAT PARQUET, "
                "PARTITION_BY (island, location_name, year, month))")


def answers(clean):
    """Q1-Q3 as the harness reports them, computed here with DuckDB."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW clean AS SELECT * FROM {checks.weather_sql(clean)}")
    q = lambda sql: [list(r) for r in con.execute(sql).fetchall()]
    return {
        "q1": q("SELECT location_name, round(avg(sunshine_duration) / 3600, 2) AS s "
                "FROM clean GROUP BY 1 ORDER BY s DESC, 1"),
        "q2": q("SELECT location_name, CAST(month AS INTEGER), "
                "round(avg(sunshine_duration) / 3600, 2) AS s FROM clean "
                "GROUP BY 1, 2 ORDER BY s DESC, 1, 2 LIMIT 10"),
        "q3": q("SELECT CAST(month AS INTEGER), round(avg(uvindex), 1) FROM clean "
                "WHERE location_name = 'Las_Palmas_de_Gran_Canaria' GROUP BY 1 ORDER BY 1"),
    }


class Base(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)


class GeneratorTest(Base):
    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        for d, seed in ((a, 5), (b, 5), (c, 6)):
            gen.gen_weather(os.path.join(d, "wx"), seed, bulk_days=20, batches=1)
            gen.gen_corpus(os.path.join(d, "corpus"), seed, n_docs=50)
        same = filecmp.dircmp(a, b)
        self.assertFalse(same.diff_files or same.subdirs["wx"].diff_files)
        for sub in ("wx/bulk/Tenerife/Vilaflor", "corpus"):
            x, y = os.path.join(a, sub), os.path.join(c, sub)
            self.assertTrue(filecmp.dircmp(x, y).diff_files, sub)

    def test_batches_revise_and_append(self):
        wins = gen.weather_windows(40, 2)
        self.assertEqual(len(wins[1]), 31)
        self.assertTrue(set(wins[1]) & set(wins[0]))   # revises existing days
        self.assertTrue(set(wins[1]) - set(wins[0]))   # and appends new ones
        full = 14 * 40
        self.assertLess(len(gen.weather_truth(1, 40, 2, 0)), full)  # VC gaps drop rows


class WeatherCheckTest(Base):
    def run_check(self, mutate=None, answer_fix=None):
        clean = os.path.join(self.tmp, "clean")
        write_clean(3, 2, clean, mutate)
        ans = answers(clean)
        if answer_fix:
            answer_fix(ans)
        return checks.check_weather(3, SHAPE, clean, 2, ans)

    def test_truth_passes(self):
        self.assertEqual(self.run_check(), [])

    def test_dropped_row_fails(self):
        p = self.run_check("DELETE FROM t WHERE rowid = (SELECT min(rowid) FROM t)")
        self.assertTrue(any("clean table" in x for x in p), p)

    def test_stale_value_fails(self):
        p = self.run_check("UPDATE t SET uvindex = coalesce(uvindex, 0) + 1 "
                           "WHERE rowid = (SELECT max(rowid) FROM t)")
        self.assertTrue(any("clean table" in x for x in p), p)

    def test_duplicate_row_fails(self):
        p = self.run_check("INSERT INTO t SELECT * FROM t LIMIT 1")
        self.assertTrue(any("clean table" in x for x in p), p)

    def test_wrong_query_answer_fails(self):
        def fix(ans):
            ans["q3"][0][1] += 0.5
        p = self.run_check(answer_fix=fix)
        self.assertEqual([x[:3] for x in p], ["q3:"])

    def test_wrong_applied_batch_count_fails(self):
        clean = os.path.join(self.tmp, "clean")
        write_clean(3, 1, clean)
        self.assertTrue(checks.check_weather(3, SHAPE, clean, 2, answers(clean)))


class OracleBase(Base):
    SQL = ("SELECT doc_id, text, CAST(doc_id % 3 AS DECIMAL(12, 6)) AS p, "
           "[doc_id, 2] AS arr FROM documents WHERE doc_id % 4 <> 0")

    def setUp(self):
        super().setUp()
        gen.gen_corpus(os.path.join(self.tmp, "in"), 9, n_docs=40)
        self.con = checks.oracle_con(os.path.join(self.tmp, "in"))
        self.want = checks.rows_digest(self.con, self.SQL)

    def spark_output(self, sql):
        out = os.path.join(self.tmp, "out")
        os.makedirs(out, exist_ok=True)
        # shuffled row order: the digest must not depend on it
        self.con.execute(f"COPY ({sql} ORDER BY random()) TO '{out}/part-0.parquet' "
                         "(FORMAT PARQUET)")
        return out


class OracleCheckTest(OracleBase):
    def test_same_rows_pass(self):
        out = self.spark_output(self.SQL)
        self.assertEqual(checks.check_oracle("k", out, self.want), [])

    def test_dropped_row_fails(self):
        out = self.spark_output(self.SQL + " AND doc_id <> 1")
        self.assertTrue(checks.check_oracle("k", out, self.want))

    def test_changed_value_fails(self):
        out = self.spark_output(self.SQL.replace("doc_id % 3", "(doc_id + 1) % 3"))
        self.assertTrue(checks.check_oracle("k", out, self.want))


class MixCheckTest(OracleBase):
    def mix(self, cold_sql, warm_sql, counts=None):
        work = os.path.join(self.tmp, "work")
        for side, sql in (("cold", cold_sql), ("warm", warm_sql)):
            shutil.move(self.spark_output(sql), os.path.join(work, side, "k"))
        counts = counts or {"k": [self.want[0]]}
        return checks.check_mix({"k": self.want}, work, counts)

    def test_same_rows_pass(self):
        self.assertEqual(self.mix(self.SQL, self.SQL), [])

    def test_warm_dropped_row_fails(self):
        p = self.mix(self.SQL, self.SQL + " AND doc_id <> 1")
        self.assertEqual([x.split(":")[0] for x in p], ["k (warm)"])

    def test_cold_changed_value_fails(self):
        p = self.mix(self.SQL.replace("doc_id % 3", "(doc_id + 1) % 3"), self.SQL)
        self.assertEqual([x.split(":")[0] for x in p], ["k (cold)"])

    def test_timed_call_row_count_fails(self):
        p = self.mix(self.SQL, self.SQL, {"k": [self.want[0], self.want[0] - 1]})
        self.assertEqual(len(p), 1)
        self.assertIn("timed calls", p[0])

    def test_key_without_oracle_fails(self):
        p = self.mix(self.SQL, self.SQL, {"k": [self.want[0]], "other": [3]})
        self.assertEqual(p, ["other: no oracle"])


if __name__ == "__main__":
    unittest.main()
