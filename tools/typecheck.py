#!/usr/bin/env python3
"""Cross-engine result-TYPE parity audit — the failure class behind the
round-8 driver reds, made locally visible.

The driver's correctness gate hashes typed values; the local check.py
stringifies them first. So a gate whose oracle yields DuckDB HUGEINT
(e.g. a bare sum(BIGINT)) against a Spark BIGINT column passes locally
and fails remotely. This tool closes that blind spot: for every gate in
a `Tool verify` dump it compares the Spark result's parquet schema against the
DuckDB type of `DESCRIBE <oracle sql>` and fails on any column whose
types are not the agreed pairing.

Usage: python3 tools/typecheck.py <verify_out_dir> <sf_dir>

Exit 1 if any gate has a type mismatch or an oracle that exposes a type
with no Spark counterpart (HUGEINT, UBIGINT, UINTEGER...).
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB type -> acceptable Spark/parquet physical-logical types (as
# reported by duckdb's read_parquet, so both sides are read by one
# engine and the comparison is apples-to-apples).
PAIRING = {
    "BIGINT": {"BIGINT"},
    "INTEGER": {"INTEGER"},
    "SMALLINT": {"SMALLINT", "INTEGER"},
    "TINYINT": {"TINYINT", "INTEGER"},
    "DOUBLE": {"DOUBLE"},
    "FLOAT": {"FLOAT"},
    "VARCHAR": {"VARCHAR"},
    "BOOLEAN": {"BOOLEAN"},
    "DATE": {"DATE"},
    "BLOB": {"BLOB"},
    "TIMESTAMP": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE",
                  "TIMESTAMP_NS"},
    "TIMESTAMP WITH TIME ZONE": {"TIMESTAMP WITH TIME ZONE", "TIMESTAMP"},
}
# DuckDB types with NO Spark counterpart: their presence in an oracle is
# itself the bug (the engine cannot emit them, so the driver's typed
# hash can never match).
FORBIDDEN = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT",
             "UTINYINT"}


def norm(t):
    """Collapse cosmetic rendering differences (whitespace, case) so a
    DuckDB version that prints 'DECIMAL(22, 0)' instead of
    'DECIMAL(22,0)' cannot produce a spurious failure — the comparison is
    about the type, not the printer."""
    return "".join(t.upper().split())


def base(t):
    t = norm(t)
    if t.startswith("DECIMAL"):
        return "DECIMAL"
    if t.endswith("[]"):
        return "LIST"
    if t.startswith("STRUCT") or t.startswith("MAP"):
        return "COMPOUND"
    return t


def compatible(duck_t, spark_t):
    d, s = base(duck_t), base(spark_t)
    if d == "DECIMAL" or s == "DECIMAL":
        # exact precision/scale must agree for a typed hash
        return norm(duck_t) == norm(spark_t)
    if d == "LIST" and s == "LIST":
        return compatible(norm(duck_t)[:-2], norm(spark_t)[:-2])
    if d == "COMPOUND" or s == "COMPOUND":
        # STRUCT/MAP are outside the pairing table's model: exact-string
        # equality is the best this audit can do, and the caller prints
        # an explicit marker so a pass here is distinguishable from a
        # modeled pass (see [SKIP-type] in main)
        return norm(duck_t) == norm(spark_t)
    return s in PAIRING.get(d, {d})


def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"[FAIL] {name}: no result parquet"); n_fail += 1
            continue
        spark_types = dict(
            (r[0], r[1]) for r in
            con.execute(f"DESCRIBE SELECT * FROM read_parquet({files!r})")
            .fetchall())
        if name not in oracle:
            print(f"[SKIP] {name}: no oracle sql"); n_skip += 1
            continue
        try:
            duck_types = dict((r[0], r[1]) for r in
                              con.execute("DESCRIBE " + oracle[name])
                              .fetchall())
        except Exception as e:
            print(f"[FAIL] {name}: oracle error: {e}"); n_fail += 1
            continue
        bad = []
        unmodeled = []
        for c in sorted(set(duck_types) | set(spark_types)):
            dt, st = duck_types.get(c), spark_types.get(c)
            if dt is None or st is None:
                bad.append(f"{c}: only one side has it "
                           f"(duckdb={dt} spark={st})")
            elif base(dt) in FORBIDDEN:
                bad.append(f"{c}: oracle type {dt} has no Spark "
                           f"counterpart (spark={st})")
            elif not compatible(dt, st):
                bad.append(f"{c}: duckdb={dt} spark={st}")
            elif base(dt) == "COMPOUND":
                unmodeled.append(f"{c}={dt}")
        if unmodeled:
            # checked by exact string only — visible, so a false pass on a
            # compound type is distinguishable from a modeled pass
            print(f"[SKIP-type] {name}: compound types outside the "
                  f"pairing model, string-compared only: "
                  + ", ".join(unmodeled))
        if bad:
            print(f"[FAIL] {name}: " + "; ".join(bad)); n_fail += 1
        else:
            n_pass += 1
    print(f"\n{n_pass} type-clean, {n_fail} mismatched, {n_skip} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
