"""Seeded generator for the gate tables (lineitem, documents, events).

The gates workload reads the same three tables the nine benchmarked gates
and their DuckDB oracles read. They are generated here from `--seed`, in
the layout of the project's test tables: one snappy parquet file per table,
one row group, microsecond timestamps without a zone. The distributions
follow those tables: uniform TPC-H-style keys and flags, a 30-word
vocabulary with 5 % near-duplicate ("<other doc> dup") and a few exact
duplicate documents, and an events stream with exponential gaps over 30
days, 5 event types and exponential values.

Run directly to write one scale factor:
    python3 perfbench/gen_tables.py <out_dir> <seed> [sf]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
US_PER_DAY = 86_400_000_000


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy",
                   row_group_size=max(1, tbl.num_rows))


def lineitem(rng, sf):
    n = int(6_000_000 * sf)
    ship0 = np.datetime64("1995-01-02", "us").astype(np.int64)
    return pa.table({
        "l_orderkey": rng.integers(0, int(1_500_000 * sf), n),
        "l_partkey": rng.integers(0, int(200_000 * sf), n),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n) / 100.0,
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(ship0 + rng.integers(0, 2498, n) * US_PER_DAY),
    })


def documents(rng, sf):
    n = int(50_000 * sf)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # 5 % near-duplicates (another doc + " dup") and ~0.2 % exact copies,
    # always of a doc that is itself original, so chains stay one deep
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    original = kind >= 0.052
    for i in np.nonzero(~original)[0]:
        j = int(src[i])
        while not original[j] or j == i:
            j = (j + 1) % n
        texts[i] = texts[j] + (" dup" if kind[i] < 0.05 else "")
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def events(rng, sf):
    n = int(1_000_000 * sf)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * US_PER_DAY / n, n).astype(np.int64) + 1
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(t0 + np.cumsum(gaps)),
        "user_id": rng.integers(0, int(15_000 * sf), n),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def generate(out_dir, seed, sf=0.1):
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, fn) in enumerate((("lineitem", lineitem),
                                    ("documents", documents),
                                    ("events", events))):
        rng = np.random.default_rng([seed, i])
        _write(fn(rng, sf), os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]),
             float(sys.argv[3]) if len(sys.argv) > 3 else 0.1)
