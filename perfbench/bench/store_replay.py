"""DuckDB replay of the store op log: the expected table after every op,
each read's row count, and the exact row counts behind ``write_amp``.

Fetched rows follow ``FixtureTransport.csv`` as ``DayCsvReader`` parses
it: 13 bars a day from 09:30 every 30 minutes, prices from the day
number only.
"""

import datetime

import duckdb
import pyarrow as pa

BARS_PER_DAY = 13
EPOCH = datetime.date(1970, 1, 1)
SCHEMA = pa.schema([("day", pa.date32()), ("ts", pa.timestamp("us")),
                    ("root", pa.string()), ("open", pa.float64()),
                    ("high", pa.float64()), ("low", pa.float64()),
                    ("close", pa.float64()), ("volume", pa.int64())])


def fixture_rows(root, first_day, days):
    rows = []
    for d in range(first_day, first_day + days):
        day = EPOCH + datetime.timedelta(days=d)
        for h in range(BARS_PER_DAY):
            minute = 570 + h * 30
            base = 100.0 + (d % 50) + h * 0.25
            rows.append((day,
                         datetime.datetime(day.year, day.month, day.day) +
                         datetime.timedelta(minutes=minute),
                         root,
                         float(f"{base:.2f}"), float(f"{base + 0.8:.2f}"),
                         float(f"{base - 0.6:.2f}"), float(f"{base + 0.3:.2f}"),
                         (d % 1000) * 10 + h))
    return pa.Table.from_pylist([dict(zip(SCHEMA.names, r)) for r in rows], schema=SCHEMA)


def _day(n):
    return EPOCH + datetime.timedelta(days=int(n))


class Replay:
    """The expected table, one SQL statement per op."""

    def __init__(self):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE bars(day DATE, ts TIMESTAMP, root VARCHAR, open DOUBLE, "
            "high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT, PRIMARY KEY(root, ts))")
        self.rows_written = 0
        self.changed = {"inserted": 0, "updated": 0, "deleted": 0}
        self.offered = 0

    def size(self):
        return self.con.execute("SELECT count(*) FROM bars").fetchone()[0]

    def _count(self, root, d0, d1):
        return self.con.execute(
            "SELECT count(*) FROM bars WHERE root = ? AND day BETWEEN ? AND ?",
            [root, _day(d0), _day(d1)]).fetchone()[0]

    def _insert(self, table):
        self.con.register("incoming", table)
        self.con.execute("INSERT OR IGNORE INTO bars SELECT * FROM incoming")
        self.con.unregister("incoming")

    def load(self, init):
        for root, first, days in init:
            self._insert(fixture_rows(root, int(first), int(days)))

    def apply(self, op):
        """Apply one op (as the harness reports it: kind then args).
        Returns the expected row count for a read, else the table size
        the write leaves behind."""
        kind, args = op[0], op[1:]
        if kind == "read":
            return self._count(args[0], args[1], args[2])
        if kind == "upsert":
            root, first, days = args[0], int(args[1]), int(args[2])
            before = self.size()
            self._insert(fixture_rows(root, first, days))
            self.offered += days * BARS_PER_DAY
            self.changed["inserted"] += self.size() - before
        elif kind == "patch":
            root, d0, d1, delta = args[0], args[1], args[2], float(args[3])
            self.changed["updated"] += self._count(root, d0, d1)
            self.con.execute(
                "UPDATE bars SET close = close + ? WHERE root = ? AND day BETWEEN ? AND ?",
                [delta, root, _day(d0), _day(d1)])
        elif kind == "delete":
            root, d0, d1 = args
            self.changed["deleted"] += self._count(root, d0, d1)
            self.con.execute("DELETE FROM bars WHERE root = ? AND day BETWEEN ? AND ?",
                             [root, _day(d0), _day(d1)])
        else:
            raise ValueError(f"unknown store op {kind}")
        size = self.size()
        self.rows_written += size
        return size

    def write_amp(self):
        changed = sum(self.changed.values())
        return self.rows_written / changed if changed else float("nan")

    def insert_yield(self):
        return self.changed["inserted"] / self.offered if self.offered else float("nan")

    def table_diff(self, parquet_dir):
        """None when the table written at ``parquet_dir`` equals the
        replayed one row for row, else a one-line reason."""
        cols = "day, ts, root, open, high, low, close, volume"
        got = self.con.execute(
            f"SELECT {cols} FROM read_parquet('{parquet_dir}/**/*.parquet', "
            "hive_partitioning = true) ORDER BY root, ts").fetchall()
        exp = self.con.execute(f"SELECT {cols} FROM bars ORDER BY root, ts").fetchall()
        if len(got) != len(exp):
            return f"final table rows: spark={len(got)} replay={len(exp)}"
        for i, (a, b) in enumerate(zip(got, exp)):
            if a != b:
                return f"final table row {i}: spark={a} replay={b}"
        return None
