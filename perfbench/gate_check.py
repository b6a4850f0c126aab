"""Gate results against their DuckDB oracle SQL.

Each gate's collected rows (parquet written by the benchmark JVM) are
compared with the gate's oracle SQL run by DuckDB over the generated
tables: row count, column names, and a row-order-insensitive hash of the
values (columns sorted by name, values stringified, rows sorted). The hash
is tools/check.py's own table_fingerprint, imported from there.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import table_fingerprint  # noqa: E402

TABLES = ("lineitem", "documents", "events")


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def compare(con, sql, cols, rows):
    """None when the rows match the oracle, else what differs."""
    try:
        exp = con.execute(sql).fetchall()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"oracle sql error: {e}"
    exp_cols = [c[0] for c in con.description]
    gh, gn, gc = table_fingerprint(cols, rows)
    eh, en, ec = table_fingerprint(exp_cols, exp)
    if gc != ec:
        return f"columns differ: got {gc}, oracle {ec}"
    if gn != en:
        return f"rows differ: got {gn}, oracle {en}"
    if gh != eh:
        return f"hash mismatch over {gn} rows"
    return None


def read_result(con, result_dir):
    files = sorted(glob.glob(f"{result_dir}/*.parquet"))
    if not files:
        return None, None
    rows = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
    return [c[0] for c in con.description], rows


def check_all(results_dir, data_dir):
    """[(gate, ok, detail)] for every gate in oracle_sql.json."""
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = connect(data_dir)
    out = []
    for gate, sql in sorted(oracle.items()):
        cols, rows = read_result(con, os.path.join(results_dir, gate))
        if cols is None:
            out.append((gate, False, "no result parquet"))
            continue
        diff = compare(con, sql, cols, rows)
        out.append((gate, diff is None, diff or ""))
    return out
