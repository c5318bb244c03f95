import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SCALE = {"sf": 0.001, "replicas": 1}

# (column path, physical type, logical type) of the reference test tables
PARQUET_SCHEMA = {
    "region": [("r_regionkey", "INT32", "NONE"), ("r_name", "BYTE_ARRAY", "STRING")],
    "nation": [("n_nationkey", "INT32", "NONE"), ("n_name", "BYTE_ARRAY", "STRING"),
               ("n_regionkey", "INT32", "NONE")],
    "customer": [("c_custkey", "INT64", "NONE"), ("c_name", "BYTE_ARRAY", "STRING"),
                 ("c_nationkey", "INT32", "NONE"), ("c_acctbal", "DOUBLE", "NONE"),
                 ("c_mktsegment", "BYTE_ARRAY", "STRING")],
    "supplier": [("s_suppkey", "INT64", "NONE"), ("s_name", "BYTE_ARRAY", "STRING"),
                 ("s_nationkey", "INT32", "NONE"), ("s_acctbal", "DOUBLE", "NONE")],
    "part": [("p_partkey", "INT64", "NONE"), ("p_name", "BYTE_ARRAY", "STRING"),
             ("p_brand", "BYTE_ARRAY", "STRING"), ("p_type", "BYTE_ARRAY", "STRING"),
             ("p_size", "INT32", "NONE"), ("p_retailprice", "DOUBLE", "NONE")],
    "orders": [("o_orderkey", "INT64", "NONE"), ("o_custkey", "INT64", "NONE"),
               ("o_orderstatus", "BYTE_ARRAY", "STRING"), ("o_totalprice", "DOUBLE", "NONE"),
               ("o_orderdate", "INT64", "TIMESTAMP"), ("o_orderpriority", "BYTE_ARRAY", "STRING")],
    "lineitem": [("l_orderkey", "INT64", "NONE"), ("l_partkey", "INT64", "NONE"),
                 ("l_suppkey", "INT64", "NONE"), ("l_linenumber", "INT32", "NONE"),
                 ("l_quantity", "DOUBLE", "NONE"), ("l_extendedprice", "DOUBLE", "NONE"),
                 ("l_discount", "DOUBLE", "NONE"), ("l_tax", "DOUBLE", "NONE"),
                 ("l_returnflag", "BYTE_ARRAY", "STRING"), ("l_linestatus", "BYTE_ARRAY", "STRING"),
                 ("l_shipdate", "INT64", "TIMESTAMP")],
    "events": [("event_id", "INT64", "NONE"), ("ts", "INT64", "TIMESTAMP"),
               ("user_id", "INT64", "NONE"), ("event_type", "BYTE_ARRAY", "STRING"),
               ("value", "DOUBLE", "NONE"), ("props", "BYTE_ARRAY", "STRING")],
    "documents": [("doc_id", "INT64", "NONE"), ("text", "BYTE_ARRAY", "STRING"),
                  ("lang", "BYTE_ARRAY", "STRING"), ("source", "BYTE_ARRAY", "STRING"),
                  ("n_chars", "INT64", "NONE")],
    "embeddings": [("vec_id", "INT64", "NONE"), ("embedding.list.element", "FLOAT", "NONE"),
                   ("label", "INT32", "NONE")],
}
# Tables.events reads this layout as TIMESTAMP_NTZ
NTZ_MICROS = "Timestamp(isAdjustedToUTC=false, timeUnit=microseconds"


def files(d):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            out[t] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in [("a", 11), ("b", 11), ("c", 12)]:
            d = os.path.join(cls.tmp.name, name)
            gen.write(d, seed, SCALE)
            cls.dirs[name] = d

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_files(self):
        self.assertEqual(files(self.dirs["a"]), files(self.dirs["b"]))

    def test_other_seed_gives_other_contents(self):
        a, c = files(self.dirs["a"]), files(self.dirs["c"])
        for t in ["customer", "part", "orders", "lineitem", "events", "documents", "embeddings"]:
            self.assertNotEqual(pq.read_table(os.path.join(self.dirs["a"], f"{t}.parquet")),
                                pq.read_table(os.path.join(self.dirs["c"], f"{t}.parquet")), t)
        self.assertEqual(a["region"], c["region"])

    def test_parquet_schema_and_physical_types(self):
        for t, want in PARQUET_SCHEMA.items():
            f = pq.ParquetFile(os.path.join(self.dirs["a"], f"{t}.parquet"))
            got = [(c.path, c.physical_type, c.logical_type.type) for c in f.schema]
            self.assertEqual(got, want, t)
            self.assertEqual(f.metadata.num_row_groups, 1, t)
            for c in f.schema:
                if c.logical_type.type == "TIMESTAMP":
                    self.assertTrue(str(c.logical_type).startswith(NTZ_MICROS), (t, c.path))

    def test_row_counts_follow_scale(self):
        rows = {t: pq.ParquetFile(os.path.join(self.dirs["a"], f"{t}.parquet")).metadata.num_rows
                for t in gen.TABLES}
        self.assertEqual(rows["lineitem"], 6000)
        self.assertEqual(rows["orders"], 1500)
        self.assertEqual(rows["documents"], 500)
        self.assertEqual(rows["nation"], 25)

    def test_replicas_rename_tokens_and_keep_density(self):
        one = gen.tables(5, {"sf": 0.001, "replicas": 1})["documents"].to_pylist()
        two = gen.tables(5, {"sf": 0.001, "replicas": 2})["documents"].to_pylist()
        self.assertEqual(len(two), 2 * len(one))
        self.assertEqual(two[:len(one)], one)
        for a, b in zip(one, two[len(one):]):
            self.assertEqual(b["doc_id"], a["doc_id"] + gen.REPLICA_ID_STRIDE)
            self.assertEqual(b["text"].split(" "), [w + "_1" for w in a["text"].split(" ")])
            self.assertEqual(b["n_chars"], len(b["text"]))
        dups = sum(1 for r in one if r["text"].endswith(" dup"))
        self.assertTrue(0.02 * len(one) < dups < 0.09 * len(one), dups)


if __name__ == "__main__":
    unittest.main()
