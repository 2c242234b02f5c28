"""The operator_queries oracle comparison accepts an equal result and
rejects each kind of perturbed one.

    python3 -m unittest discover -s pipebench/tests
"""
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import oracle  # noqa: E402


def result():
    return pd.DataFrame({"doc_id": [3, 1, 2], "score": [0.5, 0.25, 1.0],
                         "tag": ["c", "a", "b"]})


class VerdictTest(unittest.TestCase):
    def test_equal_up_to_row_and_column_order(self):
        shuffled = result().iloc[[2, 0, 1]][["tag", "score", "doc_id"]]
        self.assertIsNone(oracle.verdict("q", result(), shuffled))

    def test_dropped_row(self):
        self.assertIn("rows", oracle.verdict("q", result(), result().iloc[:2]))

    def test_changed_value(self):
        spark = result()
        spark.loc[0, "score"] = 0.5000001
        self.assertIn("value mismatch", oracle.verdict("q", result(), spark))

    def test_renamed_column(self):
        spark = result().rename(columns={"tag": "label"})
        self.assertIn("columns", oracle.verdict("q", result(), spark))


class CheckAllTest(unittest.TestCase):
    def test_reports_only_the_query_whose_output_lost_a_row(self):
        with tempfile.TemporaryDirectory() as d:
            tables, outputs = Path(d, "tables"), Path(d, "out")
            (tables / "documents.parquet").mkdir(parents=True)
            result().to_parquet(tables / "documents.parquet" / "part-0.parquet")
            for q, df in (("q_same", result()), ("q_short", result().iloc[1:])):
                (outputs / q).mkdir(parents=True)
                df.to_parquet(outputs / q / "part-0.parquet")
            sql = {q: "SELECT doc_id, score, tag FROM documents"
                   for q in ("q_same", "q_short")}
            errors = oracle.check_all(str(tables), str(outputs), sql)
        self.assertEqual(len(errors), 1)
        self.assertTrue(errors[0].startswith("FAIL q_short: rows"))


if __name__ == "__main__":
    unittest.main()
