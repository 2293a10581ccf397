"""Query output check: each dumped result against its oracle SQL run in
DuckDB over the same tables, compared as ``tools/diffcheck.py`` compares
them (same columns after sorting by name, same row count, rows equal in
order, NaN equal to NaN).

The oracle's results are cached per query, keyed by the oracle SQL and
the data files, so they are computed once per checkout.
"""

import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                h.update(t.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compare(got, exp):
    """None when the two arrow tables match, else a one-line reason."""
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns differ: spark={gcols} oracle={ecols}"
    if got.num_rows != exp.num_rows:
        return f"rows differ: spark={got.num_rows} oracle={exp.num_rows}"
    grows = [tuple(_norm(r[c]) for c in gcols) for r in got.to_pylist()]
    erows = [tuple(_norm(r[c]) for c in ecols) for r in exp.to_pylist()]
    bad = [i for i, (a, b) in enumerate(zip(grows, erows)) if a != b]
    if bad:
        i = bad[0]
        return (f"{len(bad)}/{len(grows)} rows differ; first at {i}: "
                f"spark={grows[i]} oracle={erows[i]}")
    return None


def check_dumps(data_dir, check_dir, names, cache_dir):
    """{query: None | reason} for every name, comparing
    ``check_dir/<name>`` with the (cached) oracle result."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    digest = data_digest(data_dir)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name in names:
        if name not in sql:
            out[name] = "no oracle SQL"
            continue
        key = hashlib.sha256((digest + sql[name]).encode()).hexdigest()[:20]
        cached = os.path.join(cache_dir, f"{name}-{key}.parquet")
        if os.path.exists(cached):
            exp = pq.read_table(cached)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    path = os.path.join(data_dir, f"{t}.parquet")
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            try:
                exp = con.execute(sql[name]).fetch_arrow_table()
            except Exception as e:  # noqa: BLE001 - reported as the reason
                out[name] = f"oracle sql error: {type(e).__name__}: {e}"
                continue
            pq.write_table(exp, cached + ".tmp")
            os.replace(cached + ".tmp", cached)
        try:
            got = pq.read_table(os.path.join(check_dir, name))
        except Exception as e:  # noqa: BLE001
            out[name] = f"no spark output: {type(e).__name__}"
            continue
        out[name] = compare(got, exp)
    return out
