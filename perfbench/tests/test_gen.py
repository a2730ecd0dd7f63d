"""Generator tests: determinism, seed sensitivity and the pinned schemas.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402

# DuckDB DESCRIBE (column, type) of the engine's reference testdata
SCHEMAS = {
    "region": [("r_regionkey", "INTEGER"), ("r_name", "VARCHAR")],
    "nation": [("n_nationkey", "INTEGER"), ("n_name", "VARCHAR"), ("n_regionkey", "INTEGER")],
    "customer": [("c_custkey", "BIGINT"), ("c_name", "VARCHAR"), ("c_nationkey", "INTEGER"),
                 ("c_acctbal", "DOUBLE"), ("c_mktsegment", "VARCHAR")],
    "supplier": [("s_suppkey", "BIGINT"), ("s_name", "VARCHAR"), ("s_nationkey", "INTEGER"),
                 ("s_acctbal", "DOUBLE")],
    "part": [("p_partkey", "BIGINT"), ("p_name", "VARCHAR"), ("p_brand", "VARCHAR"),
             ("p_type", "VARCHAR"), ("p_size", "INTEGER"), ("p_retailprice", "DOUBLE")],
    "orders": [("o_orderkey", "BIGINT"), ("o_custkey", "BIGINT"), ("o_orderstatus", "VARCHAR"),
               ("o_totalprice", "DOUBLE"), ("o_orderdate", "TIMESTAMP"), ("o_orderpriority", "VARCHAR")],
    "lineitem": [("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
                 ("l_linenumber", "INTEGER"), ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
                 ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"), ("l_returnflag", "VARCHAR"),
                 ("l_linestatus", "VARCHAR"), ("l_shipdate", "TIMESTAMP")],
    "events": [("event_id", "BIGINT"), ("ts", "TIMESTAMP"), ("user_id", "BIGINT"),
               ("event_type", "VARCHAR"), ("value", "DOUBLE"), ("props", "VARCHAR")],
    "documents": [("doc_id", "BIGINT"), ("text", "VARCHAR"), ("lang", "VARCHAR"),
                  ("source", "VARCHAR"), ("n_chars", "BIGINT")],
    "embeddings": [("vec_id", "BIGINT"), ("embedding", "FLOAT[]"), ("label", "INTEGER")],
}


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in [("a", 7), ("b", 7), ("c", 8)]:
            cls.dirs[name] = os.path.join(cls.tmp.name, name)
            gen.generate(seed, 0.001, cls.dirs[name])

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def path(self, run, table):
        return os.path.join(self.dirs[run], f"{table}.parquet")

    def test_same_seed_gives_identical_bytes(self):
        for t in gen.TABLES:
            self.assertTrue(filecmp.cmp(self.path("a", t), self.path("b", t), shallow=False), t)

    def test_other_seed_gives_other_data(self):
        for t in ["customer", "orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertFalse(filecmp.cmp(self.path("a", t), self.path("c", t), shallow=False), t)

    def test_subset_matches_full_set(self):
        sub = os.path.join(self.tmp.name, "sub")
        gen.generate(7, 0.001, sub, ["events", "documents"])
        self.assertEqual(sorted(os.listdir(sub)), ["documents.parquet", "events.parquet"])
        for t in ["events", "documents"]:
            self.assertTrue(filecmp.cmp(os.path.join(sub, f"{t}.parquet"), self.path("a", t),
                                        shallow=False), t)

    def test_schemas_match_the_reference(self):
        con = duckdb.connect()
        for t, cols in SCHEMAS.items():
            got = [(r[0], r[1]) for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{self.path('a', t)}')").fetchall()]
            self.assertEqual(got, cols, t)

    def test_row_counts_and_profile(self):
        con = duckdb.connect()
        n = lambda t: con.execute(f"SELECT count(*) FROM '{self.path('a', t)}'").fetchone()[0]
        self.assertEqual([n(t) for t in gen.TABLES],
                         [5, 25, 150, 10, 200, 1500, 6000, 1000, 500, 500])
        docs = self.path("a", "documents")
        ok, types = con.execute(
            f"SELECT bool_and(n_chars = length(text)), count(DISTINCT source) FROM '{docs}'").fetchone()
        self.assertTrue(ok)
        self.assertEqual(types, 20)
        ev = self.path("a", "events")
        self.assertEqual(con.execute(f"SELECT count(DISTINCT event_type) FROM '{ev}'").fetchone()[0], 5)
        self.assertEqual(con.execute(
            f"SELECT count(*) FROM '{ev}' WHERE props NOT SIMILAR TO '\\{{\"k\": [0-9]+\\}}'").fetchone()[0], 0)


if __name__ == "__main__":
    unittest.main()
