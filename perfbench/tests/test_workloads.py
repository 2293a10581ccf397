"""Per-seed determinism of the generated inputs, and the store replay:
exact write amplification on a tiny log, and agreement between the
DuckDB replay and an independent in-memory model of the same log."""

import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import workloads  # noqa: E402
from bench.store_replay import Replay, fixture_rows  # noqa: E402

D0 = workloads.DAY0


class Determinism(unittest.TestCase):
    def test_query_order_depends_only_on_seed(self):
        for w in workloads.QUERY_WORKLOADS:
            a = workloads.query_passes(w, 7)
            self.assertEqual(a, workloads.query_passes(w, 7))
            self.assertNotEqual(a, workloads.query_passes(w, 8))
            # every pass is a permutation of the same fixed list
            for p in a:
                self.assertEqual(sorted(p), sorted(workloads.QUERY_WORKLOADS[w]))

    def test_op_log_depends_only_on_seed(self):
        a = workloads.store_log(7)
        self.assertEqual(a, workloads.store_log(7))
        self.assertNotEqual(a, workloads.store_log(8))
        self.assertEqual(workloads.harness_input("store_ingest", 7, 5, 0, "w", "d", 4, 3),
                         workloads.harness_input("store_ingest", 7, 5, 0, "w", "d", 4, 3))

    def test_blocks_hold_the_fixed_mix(self):
        init, blocks = workloads.store_log(3)
        self.assertEqual(sorted(op[0] for op in blocks[0]), sorted(workloads.WARMUP))
        for b in blocks[1:]:
            kinds = [op[0] for op in b]
            self.assertEqual({k: kinds.count(k) for k in workloads.BLOCK}, workloads.BLOCK)
        last = D0 + workloads.N_DAYS - 1
        for root, first, days in init:
            self.assertTrue(D0 <= first and first + days - 1 <= last)
        for b in blocks:
            for op in b:
                if op[0] == "upsert":
                    self.assertTrue(1 <= op[3] <= 5 and op[2] + op[3] - 1 <= last)
                else:
                    self.assertTrue(D0 <= op[2] <= op[3] <= last)


class Fixture(unittest.TestCase):
    def test_rows_follow_the_fixture_formula(self):
        rows = fixture_rows("SPY", D0, 1).to_pylist()
        self.assertEqual(len(rows), 13)
        first, last = rows[0], rows[-1]
        # day 19723: base = 100 + 19723 % 50 = 123
        self.assertEqual(first["day"], datetime.date(2024, 1, 1))
        self.assertEqual(first["ts"], datetime.datetime(2024, 1, 1, 9, 30))
        self.assertEqual((first["open"], first["high"], first["low"], first["close"]),
                         (123.0, 123.8, 122.4, 123.3))
        self.assertEqual(first["volume"], 7230)
        self.assertEqual(last["ts"], datetime.datetime(2024, 1, 1, 15, 30))
        self.assertEqual(last["open"], 126.0)


TINY_INIT = [("AAPL", D0, 2)]  # 26 rows
TINY_LOG = [
    ("read", "AAPL", D0, D0),             # 13 rows
    ("upsert", "AAPL", D0 + 1, 2),        # day 1 present: 13 inserted
    ("patch", "AAPL", D0, D0 + 1, 0.5),   # 26 updated
    ("delete", "AAPL", D0 + 2, D0 + 2),   # 13 deleted
    ("upsert", "MSFT", D0, 1),            # 13 inserted
    ("read", "AAPL", D0, D0 + 5),         # 26 rows
]


class Model:
    """The same semantics in plain Python: a dict keyed (root, ts)."""

    def __init__(self, init):
        self.rows = {}
        for r, d, n in init:
            self.insert(r, d, n)

    def insert(self, root, first, days):
        new = 0
        for row in fixture_rows(root, first, days).to_pylist():
            key = (row["root"], row["ts"])
            if key not in self.rows:
                self.rows[key] = row
                new += 1
        return new

    def select(self, root, d0, d1):
        lo = datetime.date(1970, 1, 1) + datetime.timedelta(days=d0)
        hi = datetime.date(1970, 1, 1) + datetime.timedelta(days=d1)
        return [k for k, r in self.rows.items() if r["root"] == root and lo <= r["day"] <= hi]


class StoreReplay(unittest.TestCase):
    def test_exact_write_amp_on_a_tiny_log(self):
        r = Replay()
        r.load(TINY_INIT)
        got = [r.apply(op) for op in TINY_LOG]
        self.assertEqual(got, [13, 39, 39, 26, 39, 26])
        # rows written: 39 + 39 + 26 + 39; changed: 13 + 26 + 13 + 13
        self.assertEqual(r.changed, {"inserted": 26, "updated": 26, "deleted": 13})
        self.assertEqual(r.write_amp(), (39 + 39 + 26 + 39) / (26 + 26 + 13))
        self.assertEqual(r.insert_yield(), 26 / (13 * 3))

    def test_replay_agrees_with_an_in_memory_model(self):
        init, blocks = workloads.store_log(5, blocks=3)
        r, m = Replay(), Model(init)
        r.load(init)
        for op in [op for b in blocks for op in b]:
            kind = op[0]
            if kind == "read":
                self.assertEqual(r.apply(op), len(m.select(*op[1:])))
                continue
            if kind == "upsert":
                m.insert(op[1], op[2], op[3])
            elif kind == "patch":
                for k in m.select(*op[1:4]):
                    m.rows[k]["close"] += op[4]
            else:
                for k in m.select(*op[1:]):
                    del m.rows[k]
            self.assertEqual(r.apply(op), len(m.rows))
        cols = ["day", "ts", "root", "open", "high", "low", "close", "volume"]
        got = r.con.execute(f"SELECT {', '.join(cols)} FROM bars ORDER BY root, ts").fetchall()
        exp = sorted((tuple(row[c] for c in cols) for row in m.rows.values()),
                     key=lambda t: (t[2], t[1]))
        self.assertEqual(got, exp)


if __name__ == "__main__":
    unittest.main()
