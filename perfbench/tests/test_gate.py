import datetime as dt
import decimal
import unittest

import duckdb

from pb import gate


class RenderTest(unittest.TestCase):
    def test_values(self):
        self.assertEqual(gate.render("int", 42), "42")
        self.assertEqual(gate.render("f64", 1.5), "3ff8000000000000")
        self.assertEqual(gate.render("f64", -0.0), gate.render("f64", 0.0))
        self.assertEqual(gate.render("f32", 1.5), "3fc00000")
        self.assertEqual(gate.render("dec", decimal.Decimal("12.300")), "12.3")
        self.assertEqual(gate.render("dec", decimal.Decimal("1E+2")), "100")
        self.assertEqual(gate.render("dec", decimal.Decimal("0.00")), "0")
        self.assertEqual(gate.render("ts", dt.datetime(1970, 1, 1, 0, 0, 1)), "1000000")
        self.assertEqual(gate.render("ts", dt.datetime(1970, 1, 1, 1, tzinfo=dt.timezone(
            dt.timedelta(hours=1)))), "0")
        self.assertEqual(gate.render("date", dt.date(1970, 1, 3)), "2")
        self.assertEqual(gate.render("list<int>", [1, None]), "[1,\u0000NULL]")
        self.assertEqual(gate.render("str", None), gate.NULL)

    def test_kinds(self):
        self.assertEqual(gate.kind("INTEGER"), gate.kind("BIGINT"))
        self.assertNotEqual(gate.kind("HUGEINT"), gate.kind("BIGINT"))
        self.assertEqual(gate.kind("DECIMAL(18,2)"), "dec")
        self.assertEqual(gate.kind("FLOAT[]"), "list<f32>")
        self.assertEqual(gate.kind("TIMESTAMP WITH TIME ZONE"), "ts")


class HashTest(unittest.TestCase):
    def test_columns_sorted_by_name_and_rows_in_order(self):
        h1 = gate.canonical_hash(["b", "a"], ["BIGINT", "VARCHAR"], [(1, "x"), (2, None)])
        h2 = gate.canonical_hash(["a", "b"], ["VARCHAR", "BIGINT"], [("x", 1), (None, 2)])
        h3 = gate.canonical_hash(["a", "b"], ["VARCHAR", "BIGINT"], [(None, 2), ("x", 1)])
        self.assertEqual(h1, h2)
        self.assertNotEqual(h1, h3)
        self.assertEqual(h1[1], 2)

    def test_type_strict(self):
        con = duckdb.connect()
        big = con.sql("SELECT 3::BIGINT AS n")
        huge = con.sql("SELECT SUM(3::BIGINT) AS n")
        a = gate.canonical_hash(big.columns, big.types, big.fetchall())
        b = gate.canonical_hash(huge.columns, huge.types, huge.fetchall())
        self.assertNotEqual(a, b)

    def test_events_off(self):
        rows = [("1", "A", 5), ("2", "A", 3)]
        self.assertEqual(gate.events_off(rows, {("1", "A"): 5, ("2", "A"): 4,
                                                ("3", "B"): 1}), 2)


if __name__ == "__main__":
    unittest.main()
