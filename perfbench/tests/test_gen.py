"""Tests of the benchmark's own generators, replay and comparison.

    python3 -m unittest discover -s perfbench/tests
"""

import collections
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402


def fingerprints(d):
    """Content hash and row count of every parquet file under `d`."""
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, f))
                h = hashlib.sha256()
                for col in t.column_names:
                    h.update(col.encode())
                    h.update(repr(t[col].to_pylist()).encode())
                out[os.path.relpath(os.path.join(root, f), d)] = \
                    (h.hexdigest(), t.num_rows)
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        work = os.path.join(HERE, ".work")
        os.makedirs(work, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=work)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def make(self, name, seed):
        d = os.path.join(self.tmp, f"{name}-{seed}-{len(os.listdir(self.tmp))}")
        gen.GENERATORS[name](seed, d)
        return d

    def test_same_seed_same_inputs(self):
        for name in gen.GENERATORS:
            with self.subTest(name):
                self.assertEqual(fingerprints(self.make(name, 7)),
                                 fingerprints(self.make(name, 7)))

    def test_other_seed_other_values_same_shape(self):
        for name in gen.GENERATORS:
            with self.subTest(name):
                a = fingerprints(self.make(name, 7))
                b = fingerprints(self.make(name, 8))
                self.assertEqual(a.keys(), b.keys())
                self.assertEqual({k: v[1] for k, v in a.items()},
                                 {k: v[1] for k, v in b.items()})
                self.assertNotEqual({k: v[0] for k, v in a.items()},
                                    {k: v[0] for k, v in b.items()})

    def test_tx_operation_mix_is_seed_independent(self):
        def mix(seed):
            ops = pq.read_table(os.path.join(self.make("tx_upsert_cycle",
                                                       seed), "tx_ops.parquet"))
            return collections.Counter(zip(ops["cycle"].to_pylist(),
                                           ops["op"].to_pylist()))
        self.assertEqual(mix(1), mix(2))

    def test_tx_stream_is_well_defined(self):
        d = self.make("tx_upsert_cycle", 3)
        base = pq.read_table(os.path.join(d, "tx_base.parquet"))
        ops = pq.read_table(os.path.join(d, "tx_ops.parquet"))
        # replay raises KeyError if a delete targets a key that is not live
        state, reads = gen.tx_replay(base, ops, gen.TX_CYCLES)
        self.assertEqual(len(reads), gen.TX_CYCLES)
        per = collections.defaultdict(list)
        for c, op, k in zip(ops["cycle"].to_pylist(), ops["op"].to_pylist(),
                            ops["k"].to_pylist()):
            per[(c, op)].append(k)
        for (c, op), keys in per.items():
            self.assertEqual(len(keys), len(set(keys)), (c, op))
        live = set(base["k"].to_pylist())
        for c in range(gen.TX_CYCLES):
            hits = sum(1 for k in per[(c, "merge")] if k in live)
            self.assertEqual(hits, int(gen.TX_MERGE_ROWS * gen.TX_MERGE_HIT))
            live |= set(per[(c, "merge")]) | set(per[(c, "append")])
            self.assertTrue(set(per[(c, "append")]).isdisjoint(
                set(per[(c, "merge")])))
            live -= set(per[(c, "delete")])
        self.assertEqual(live, set(state))

    def test_medallion_edge_cases_present(self):
        d = os.path.join(self.make("medallion_batch", 5), "landing")
        con = duckdb.connect()
        q = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
        season = os.path.join(d, "ld_season.parquet")
        logs = os.path.join(d, "ld_gamelogs.parquet")
        self.assertEqual(gen.NULL_BIRTHDATE_PLAYERS, q(
            f"SELECT count(*) FROM '{season}' WHERE birthdate IS NULL"))
        self.assertEqual(gen.DUP_SEASON_PLAYERS, q(
            f"SELECT count(*) - count(DISTINCT player_id) FROM '{season}'"))
        self.assertEqual(1, q(f"SELECT count(*) FROM '{logs}' "
                              "WHERE video_available > 2147483647"))
        self.assertEqual(gen.NO_SEASON_PLAYERS, q(
            f"SELECT count(DISTINCT player_name) FROM '{logs}' WHERE "
            f"player_name NOT IN (SELECT player_name FROM '{season}')"))


class ComparisonTest(unittest.TestCase):
    def test_same_rows_catches_a_changed_value(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE a AS SELECT range AS k, range * 2 AS v "
                    "FROM range(100)")
        con.execute("CREATE TABLE b AS SELECT * FROM a")
        self.assertTrue(checks._same_rows(con, "a", "b")[0])
        con.execute("UPDATE b SET v = v + 1 WHERE k = 42")
        self.assertFalse(checks._same_rows(con, "a", "b")[0])
        con.execute("CREATE TABLE c AS SELECT * FROM a UNION ALL "
                    "SELECT * FROM a WHERE k = 1")
        self.assertFalse(checks._same_rows(con, "a", "c")[0])


if __name__ == "__main__":
    unittest.main()
