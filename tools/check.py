#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py <verify_out_dir> <sf_dir>

Reads each <name>/ parquet result written by `graft.Tool verify` (every
gate, or only the gates named on its command line), runs the matching
oracle SQL from oracle_sql.json in DuckDB over the sf parquet tables, and
compares row count, column names, and a row-order-insensitive value hash
(columns sorted by name, values stringified, rows sorted).
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    import hashlib
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return h, len(rows), sorted(cols)


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no result parquet"); n_fail += 1; continue
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchall()
        got_cols = [c[0] for c in con.description]
        if name not in oracle:
            print(f"[SKIP] {name}: no oracle sql (rows={len(got)})")
            n_skip += 1
            continue
        try:
            exp = con.execute(oracle[name]).fetchall()
            exp_cols = [c[0] for c in con.description]
        except Exception as e:
            print(f"[FAIL] {name}: oracle sql error: {e}"); n_fail += 1; continue
        gh, gn, gc = table_fingerprint(got_cols, got)
        eh, en, ec = table_fingerprint(exp_cols, exp)
        if gc != ec:
            print(f"[FAIL] {name}: columns differ spark={gc} duckdb={ec}")
            n_fail += 1
        elif gn != en:
            print(f"[FAIL] {name}: rows differ spark={gn} duckdb={en}")
            n_fail += 1
        elif gh != eh:
            print(f"[FAIL] {name}: hash mismatch ({gn} rows)")
            order = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
            gl = sorted("|".join(norm_cell(r[i]) for i in order) for r in got)
            el = sorted("|".join(norm_cell(r[i]) for i in order) for r in exp)
            for a, b in zip(gl, el):
                if a != b:
                    print(f"    spark : {a[:200]}")
                    print(f"    duckdb: {b[:200]}")
                    break
            n_fail += 1
        else:
            print(f"[PASS] {name} ({gn} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} skipped (rows-only)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
