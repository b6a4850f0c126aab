"""`run.py --smoke`: every check must reject a deliberately wrong output.

The JVM half (perfbench/src/perfbench/Smoke.scala) runs a few readings
through the real forks and HttpShim and confirms that the lake check
rejects a dropped row and a misplaced row, the latest check a stale row and
the serving check a stale point response. This half confirms that the gate
oracle check accepts the real q1_pricing_summary result over small seeded
tables and rejects it with one row changed.
"""
import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import gate_check
import gen_tables


def main(jar, run_jvm, root):
    work = os.path.join(root, ".bench_run", f"smoke-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen_tables.generate(data, 7, 0.001)
    try:
        res = run_jvm(jar, work, ["--workload", "smoke", "--seed", "7",
                                  "--seconds", "1",
                                  "--data", data], 170)
        results = [(c["name"], c["ok"]) for c in res["checks"]]
        out = os.path.join(work, "gate_results")
        real = dict((g, ok) for g, ok, _ in gate_check.check_all(out, data))
        results.append(("smoke.gate_accepts_real_result",
                        real.get("q1_pricing_summary", False)))
        path = glob.glob(os.path.join(out, "q1_pricing_summary", "*.parquet"))[0]
        t = pq.read_table(path)
        col = next(i for i, f in enumerate(t.schema)
                   if pa.types.is_floating(f.type) or pa.types.is_integer(f.type))
        vals = t.column(col).to_pylist()
        vals[0] = (vals[0] or 0) + 1
        pq.write_table(t.set_column(col, t.schema.field(col),
                                    pa.array(vals, t.schema.field(col).type)),
                       path)
        changed = dict((g, ok) for g, ok, _ in gate_check.check_all(out, data))
        results.append(("smoke.gate_rejects_changed_row",
                        not changed.get("q1_pricing_summary", True)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, ok in results:
        print(f"{'PASS' if ok else 'FAIL'} {name}")
    return 0 if results and all(ok for _, ok in results) else 1
