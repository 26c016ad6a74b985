"""DuckDB check of the battery rows: every measured `count()` must equal the
row count of the row's `SparkEntry.oracleSql` answer, and each result the
harness wrote must match that answer by column names, row count and a hash
over the sorted rows (the comparison of `scripts/oracle_check.py`)."""
import glob
import hashlib
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from oracle_check import TABLES, table_sig  # noqa: E402


def signature(cols, rows):
    """Column names, row count and row hash: `table_sig` without its rows."""
    return list(table_sig(cols, rows)[:3])


def check(data_dir, out_dir, counts, cache_path):
    """Returns (checks made, failure messages). An oracle answer depends only
    on the tables and its SQL, so answers are kept in `cache_path`, which
    lives beside the tables and goes when they are generated again."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    made, failures = 0, []
    for name in sorted(oracles):
        key = hashlib.sha256(oracles[name].encode()).hexdigest()
        if key not in cache:
            want = con.execute(oracles[name])
            cache[key] = signature([d[0] for d in want.description], want.fetchall())
        cols, n, digest = cache[key]
        made += 1
        bad = [c for c in counts.get(name, []) if c != n]
        if bad:
            failures.append(f"{name}: count() gave {bad}, the oracle has {n} rows")
        files = glob.glob(os.path.join(out_dir, "battery", name, "*.parquet"))
        if files:
            made += 1
            got = con.execute(f"SELECT * FROM read_parquet({files!r})")
            spark = signature([d[0] for d in got.description], got.fetchall())
            if spark != [cols, n, digest]:
                failures.append(f"{name}: result {spark[:2]} differs from the oracle's {cols, n}")
    with open(cache_path, "w") as f:
        json.dump(cache, f)
    return made, failures
