"""Tests of the benchmark's input generators.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import sri_gen  # noqa: E402
import tables_gen  # noqa: E402

VEHICLE_COLS = ["CÓDIGO DE VEHÍCULO", "MARCA", "MODELO", "PAÍS", "AÑO MODELO",
                "CLASE", "SUB CLASE", "TIPO", "CILINDRAJE", "TIPO COMBUSTIBLE",
                "COLOR 1", "COLOR 2"]
TRANSACTION_COLS = ["TIPO TRANSACCIÓN", "TIPO SERVICIO",
                    "PERSONA NATURAL - JURÍDICA", "CATEGORÍA"]


def q(c):
    return '"' + c + '"'


class SriGeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        a, _ = sri_gen.generate(7, rows=1500)
        b, _ = sri_gen.generate(7, rows=1500)
        c, _ = sri_gen.generate(8, rows=1500)
        self.assertEqual(a.encode("utf-8"), b.encode("utf-8"))
        self.assertNotEqual(a, c)

    def test_shape_does_not_depend_on_seed(self):
        self.assertEqual(sri_gen.generate(1, rows=1500)[1], sri_gen.generate(2, rows=1500)[1])

    def test_prediction_matches_independent_duckdb_join(self):
        """Rebuild the dims and the lookup joins in DuckDB, the way the ETL
        defines them (dedup on raw values, J2 on the code, J3 on the
        cleaned transaction pair, J4 one-to-one), and count."""
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "sri.csv")
            pred = sri_gen.write(path, seed=11, rows=2000)
            con = duckdb.connect()
            con.execute(f"CREATE TABLE raw AS SELECT * FROM read_csv('{path}', header=true, all_varchar=true)")
            count = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
            self.assertEqual(count("SELECT count(*) FROM raw"), pred.rows)
            vcols = ", ".join(map(q, VEHICLE_COLS))
            tcols = ", ".join(map(q, TRANSACTION_COLS))
            con.execute(f"CREATE TABLE dv AS SELECT DISTINCT {vcols} FROM raw")
            con.execute(f"""CREATE TABLE dt AS SELECT
                  coalesce(upper(trim({q('TIPO TRANSACCIÓN')})), 'NAN') AS tt,
                  coalesce(upper(trim({q('TIPO SERVICIO')})), 'NAN') AS ts
                FROM (SELECT DISTINCT {tcols} FROM raw)""")
            self.assertEqual(count("SELECT count(*) FROM dv"), pred.dim_vehiculo)
            self.assertEqual(count("SELECT count(*) FROM dt"), pred.dim_transaccion)
            self.assertEqual(
                count(f"SELECT count(DISTINCT {q('CANTÓN')}) FROM raw"), pred.dim_ubicacion)
            fact = count(f"""
                SELECT count(*) FROM raw r
                LEFT JOIN dv ON r.{q('CÓDIGO DE VEHÍCULO')} = dv.{q('CÓDIGO DE VEHÍCULO')}
                LEFT JOIN dt ON r.{q('TIPO TRANSACCIÓN')} = dt.tt
                            AND r.{q('TIPO SERVICIO')} = dt.ts""")
            self.assertEqual(fact, pred.fact_rows)

    def test_fixture_quirks_present(self):
        text, _ = sri_gen.generate(3, rows=1500)
        lines = text.splitlines()
        self.assertEqual(lines[0].split(","), sri_gen.HEADERS)
        self.assertTrue(any(l.endswith(",,,,,,,,,,,,,,,,,,") for l in lines[1:]))
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "sri.csv")
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            rel = f"read_csv('{path}', header=true, all_varchar=true)"
            null_share = con.execute(
                f"SELECT avg(CASE WHEN {q('COLOR 2')} IS NULL THEN 1 ELSE 0 END) FROM {rel}").fetchone()[0]
            self.assertGreater(null_share, 0.12)
            self.assertLess(null_share, 0.25)
            cantons = [r[0] for r in con.execute(
                f"SELECT DISTINCT {q('CANTÓN')} FROM {rel} WHERE {q('CANTÓN')} IS NOT NULL").fetchall()]
            self.assertTrue(all(c.endswith(".0") for c in cantons))
            self.assertIn("10701.0", cantons)
            paises = {r[0] for r in con.execute(f"SELECT DISTINCT {q('PAÍS')} FROM {rel}").fetchall()}
            self.assertIn("CHINA ", paises)
            self.assertIn("ESPA?A", paises)


class DocumentGeneratorTest(unittest.TestCase):

    def test_same_seed_same_documents(self):
        self.assertEqual(tables_gen.document_texts(5, 300), tables_gen.document_texts(5, 300))

    def test_duplicates_present(self):
        texts, _, _ = tables_gen.document_texts(5, 300, n_exact=10, n_near=30)
        self.assertEqual(len(texts), 340)
        self.assertLess(len(set(texts)), 340)


if __name__ == "__main__":
    unittest.main()
