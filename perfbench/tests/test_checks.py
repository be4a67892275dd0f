"""Each benchmark check passes on a correct output and fails once that
output is corrupted.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402

VALUED = """SELECT g AS game_id, i AS action_idx, CAST(i AS DOUBLE) AS event_id,
    CASE WHEN i % 5 = 0 THEN 'shot' ELSE 'pass' END AS type_name,
    0.1 + i / 100.0 AS scores, 0.05 + i / 200.0 AS concedes,
    i / 1000.0 AS offensive_value, -i / 3000.0 AS defensive_value,
    i / 1000.0 + -i / 3000.0 AS vaep_value
  FROM range(1, 4) g(g), range(1, 21) i(i)"""

FRAME = """SELECT g AS game_id, i AS action_idx, CAST(i AS DOUBLE) AS event_id,
    CAST(i % 3 AS DOUBLE) AS type_id_a0, CAST((i - 1) % 3 AS DOUBLE) AS type_id_a1,
    i * 0.5 AS start_x_a0, (i - 1) * 0.5 AS start_x_a1,
    CAST(i % 7 = 0 AS DOUBLE) AS scores, 0.0 AS concedes
  FROM range(1, 4) g(g), range(3, 12) i(i)"""

LABELS = """SELECT g AS game_id, i AS action_idx,
    CASE WHEN i >= 12 THEN NULL ELSE i % 7 = 0 END AS scores,
    CASE WHEN i >= 12 THEN NULL ELSE false END AS concedes
  FROM range(1, 4) g(g), range(1, 21) i(i)"""


class ChecksTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")
        self.con = checks.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def write(self, rel, sql):
        path = os.path.join(self.dir, rel)
        os.makedirs(path, exist_ok=True)
        self.con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT PARQUET)")
        return checks.parquet_files(path)

    def sink(self, sql, batches=2):
        """An exactly-once sink layout: rows split over committed batches."""
        root = os.path.join(self.dir, "sink")
        os.makedirs(os.path.join(root, "_commits"))
        for b in range(batches):
            self.write(f"sink/batch_id={b}",
                       f"SELECT *, 0 AS _lineage_partition, {b} AS _batch_id "
                       f"FROM ({sql}) WHERE game_id % {batches} = {b}")
            open(os.path.join(root, "_commits", str(b)), "w").close()
        return root

    # --------------------------------------------------------- valued rows

    def test_valued_rows_pass_when_equal(self):
        truth = self.write("truth", VALUED)
        self.assertEqual(checks.check_valued_rows(
            self.con, self.write("out", VALUED), truth), [])

    def test_dropped_valued_row_fails(self):
        truth = self.write("truth", VALUED)
        got = self.write("out", VALUED + " WHERE NOT (g = 2 AND i = 20)")
        errs = checks.check_valued_rows(self.con, got, truth)
        self.assertTrue(any("row count" in e for e in errs), errs)

    def test_dropped_middle_row_breaks_contiguity(self):
        truth = self.write("truth", VALUED)
        got = self.write("out", VALUED + " WHERE NOT (g = 2 AND i = 7)")
        errs = checks.check_valued_rows(self.con, got, truth)
        self.assertTrue(any("contiguous" in e for e in errs), errs)

    def test_perturbed_vaep_value_fails(self):
        truth = self.write("truth", VALUED)
        got = self.write("out", f"""SELECT * REPLACE (CASE WHEN game_id = 3
            AND action_idx = 4 THEN vaep_value + 1e-12 ELSE vaep_value END
            AS vaep_value) FROM ({VALUED})""")
        errs = checks.check_valued_rows(self.con, got, truth)
        self.assertTrue(any("content differs" in e for e in errs), errs)
        self.assertTrue(any("offensive_value + defensive_value" in e
                            for e in errs), errs)

    # ---------------------------------------------------------------- sink

    def test_sink_passes_when_equal(self):
        truth = self.write("truth", VALUED)
        self.assertEqual(checks.check_sink(self.con, self.sink(VALUED), truth), [])

    def test_duplicated_sink_batch_fails(self):
        truth = self.write("truth", VALUED)
        root = self.sink(VALUED)
        shutil.copytree(os.path.join(root, "batch_id=1"),
                        os.path.join(root, "batch_id=2"))
        open(os.path.join(root, "_commits", "2"), "w").close()
        errs = checks.check_sink(self.con, root, truth)
        self.assertTrue(any("duplicate" in e for e in errs), errs)

    def test_uncommitted_sink_batch_is_not_read(self):
        truth = self.write("truth", VALUED)
        root = self.sink(VALUED)
        os.remove(os.path.join(root, "_commits", "1"))
        errs = checks.check_sink(self.con, root, truth)
        self.assertTrue(any("row count" in e for e in errs), errs)

    # ------------------------------------------------------ training frame

    def test_training_frame_passes_when_consistent(self):
        self.assertEqual(checks.check_training(
            self.con, self.write("frame", FRAME), self.write("labels", LABELS)), [])

    def test_flipped_label_fails(self):
        got = self.write("frame", f"""SELECT * REPLACE (CASE WHEN action_idx = 5
            THEN 1.0 - scores ELSE scores END AS scores) FROM ({FRAME})""")
        errs = checks.check_training(self.con, got, self.write("labels", LABELS))
        self.assertTrue(any("labels unlike" in e for e in errs), errs)

    def test_lag_feature_mismatch_fails(self):
        got = self.write("frame", f"""SELECT * REPLACE (CASE WHEN action_idx = 6
            THEN start_x_a1 + 0.25 ELSE start_x_a1 END AS start_x_a1) FROM ({FRAME})""")
        errs = checks.check_training(self.con, got, self.write("labels", LABELS))
        self.assertTrue(any("_a1 features" in e for e in errs), errs)

    # -------------------------------------------------------------- queries

    def query_case(self, got_sql):
        tables = os.path.join(self.dir, "tables")
        os.makedirs(tables)
        self.con.execute(f"""COPY (SELECT i AS k, i * 2 AS v, 'x' || i AS s
            FROM range(10) t(i)) TO '{tables}/t.parquet' (FORMAT PARQUET)""")
        oracle = "SELECT k, CAST(sum(v) AS BIGINT) AS total FROM t GROUP BY k"
        got = self.write("q", got_sql.format(t=f"'{tables}/t.parquet'"))
        return checks.check_query(self.con, tables, oracle, got)

    def test_query_passes_when_equal(self):
        self.assertEqual(self.query_case(
            "SELECT CAST(v AS BIGINT) AS total, k FROM {t}"), [])

    def test_query_row_altered_fails(self):
        errs = self.query_case("""SELECT CASE WHEN k = 4 THEN CAST(v + 1 AS BIGINT)
            ELSE CAST(v AS BIGINT) END AS total, k FROM {t}""")
        self.assertTrue(any(e.startswith("total") for e in errs), errs)

    def test_query_dtype_change_fails(self):
        errs = self.query_case("SELECT CAST(v AS DOUBLE) AS total, k FROM {t}")
        self.assertTrue(any("dtype" in e for e in errs), errs)


if __name__ == "__main__":
    unittest.main()
