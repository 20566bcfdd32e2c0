import hashlib
import os
import tempfile
import unittest

from pb import gen


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class StreamFilesTest(unittest.TestCase):
    def write(self, seed, root):
        d = os.path.join(root, f"s{seed}")
        return [digest(p) for p in
                gen.write_stream_files(seed, d, 0, 24, 200, "ev")]

    def test_byte_identical_for_one_seed_and_different_for_another(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            first, again = self.write(7, a), self.write(7, b)
            other = self.write(8, a)
        self.assertEqual(first, again)
        self.assertTrue(all(x != y for x, y in zip(first, other)))

    def test_shares_of_duplicates_and_late_events(self):
        n = 200
        late_from = gen.STREAM_LATE_FROM
        before = gen.stream_file(3, late_from - 1, n)
        after = gen.stream_file(3, late_from, n)
        t0 = int((gen.STREAM_T0 - gen.EPOCH).total_seconds() * 1e6)
        late = [t for t in after.column("ts").cast("int64").to_pylist() if t < t0]
        self.assertEqual(len(late), int(n * gen.STREAM_LATE_SHARE))
        self.assertFalse([t for t in before.column("ts").cast("int64").to_pylist()
                          if t < t0])
        ids = after.column("event_id").to_pylist()
        earlier = set()
        for k in range(late_from - 3, late_from):
            earlier |= set(gen.stream_file(3, k, n).column("event_id").to_pylist())
        self.assertEqual(len([i for i in ids if i in earlier]),
                         int(n * gen.STREAM_DUP_SHARE))
        self.assertEqual(after.num_rows, n)


# Row counts of the sf0.1 fixture tables, read from their parquet footers.
FIXTURE_SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}


class TablesTest(unittest.TestCase):
    def test_row_counts_match_the_sf01_fixture(self):
        tables = {**gen.tpch_tables(1), "events": gen.events_table(1),
                  **gen.corpus_tables(1)}
        self.assertEqual({t: tables[t].num_rows for t in tables}, FIXTURE_SF01_ROWS)
        self.assertEqual(sorted(tables), sorted(gen.ALL_TABLES))

    def test_corpus_domains_match_the_sf01_fixture(self):
        # the fixture: 64-dim embeddings, labels 0-9, 5 languages (about
        # 41% "en"), 20 sources, n_chars 44-577 with mean 297
        c = gen.corpus_tables(1)
        docs, emb = c["documents"].to_pydict(), c["embeddings"].to_pydict()
        self.assertEqual({len(v) for v in emb["embedding"]}, {64})
        self.assertEqual(set(emb["label"]), set(range(10)))
        self.assertEqual(len(set(docs["lang"])), 5)
        self.assertAlmostEqual(docs["lang"].count("en") / len(docs["lang"]), 0.41, delta=0.03)
        self.assertEqual(len(set(docs["source"])), 20)
        n_chars = docs["n_chars"]
        self.assertAlmostEqual(sum(n_chars) / len(n_chars), 297, delta=20)
        self.assertTrue(30 <= min(n_chars) and max(n_chars) <= 650)

    def test_tables_repeat_for_a_seed(self):
        a, b = gen.tpch_tables(5, sf=0.001), gen.tpch_tables(5, sf=0.001)
        c = gen.tpch_tables(6, sf=0.001)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_fixture_schema(self):
        t = gen.tpch_tables(1, sf=0.001)
        self.assertEqual(str(t["lineitem"].schema.field("l_shipdate").type), "timestamp[us]")
        self.assertEqual(str(t["orders"].schema.field("o_custkey").type), "int64")
        corpus = gen.corpus_tables(1, sf=0.001)
        self.assertEqual(str(corpus["embeddings"].schema.field("embedding").type),
                         "list<item: float>")


if __name__ == "__main__":
    unittest.main()
