#!/usr/bin/env python3
"""Seeded input generators for the benchmark.

The same seed always gives the same bytes. Two kinds of input:

* validator tables (`validate_table`): a `|`-separated CSV table plus its
  metadata CSV in the layout `graft.Main` reads
  (`<base>/inputs/<T>.csv`, `<base>/metadata/csv/<T>_metadata.csv`).
  The metadata follows FIXTURES.md section 1: the four-quote
  quote cell (or an empty one for an unquoted table), the `|` separator and `dd/MM/yyyy`
  dates. A dirty table carries a known number of rows with an extra field
  and of typed violations; their counts, per column and check, are
  returned as the expected outputs.
* a corpus (`corpus`): `documents`, `embeddings` and `events` parquet
  tables with the schema, row counts and value distributions of the sf0.1
  test tables, which is what the ops and streaming gates read.

Usage:
  python3 perfbench/gen.py validate <plain|quoted_dirty> <rows> <seed> <base> <table>
  python3 perfbench/gen.py corpus <seed> <dir>
Both print the expected-output JSON (empty for the corpus) on stdout.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLUMNS = [  # (name, type, nullable, format)
    ("ID", "NUMBER", "FALSE", ""),
    ("NAME", "VARCHAR2", "TRUE", ""),
    ("SURNAME", "VARCHAR2", "TRUE", ""),
    ("BIRTH_DATE", "DATE", "TRUE", "dd/MM/yyyy"),
    ("AMOUNT", "NUMBER", "TRUE", ""),
]
FIRST = ["Patricia", "Charles", "Maria", "John", "Ana", "Wei", "Fatima",
         "Luis", "Olga", "Kenji", "Amara", "Pierre"]
LAST = ["Turner", "Jones", "Garcia", "Smith", "Silva", "Chen", "Khan",
        "Rossi", "Novak", "Sato", "Okafor", "Dubois"]

# Typed violations a dirty table carries: (column, check, bad cell value).
# Each injected row carries exactly one defect, so the expected counts add.
VIOLATIONS = [
    ("ID", "not_null", ""),
    ("ID", "type_format", "A17"),
    ("BIRTH_DATE", "type_format", "31/13/1990"),
    ("AMOUNT", "type_format", "n/a"),
]


def metadata_csv(quoted):
    quote = '""""' if quoted else ""
    lines = ["COLUMN_NAME;DATA_TYPE;STRING_SEPARATOR;FIELD_SEPARATOR;"
             "DECIMAL_SEPARATOR;NULLABLE;DATA_FORMAT"]
    for name, typ, nullable, fmt in COLUMNS:
        lines.append(f"{name};{typ};{quote};|;.;{nullable};{fmt}")
    return "\n".join(lines) + "\n"


def validate_table(kind, rows, seed, base, table):
    """Write one validator table and its metadata; return the expected
    outputs (exit code, corrupt rows, typed bad rows, per-check counts)."""
    quoted = kind == "quoted_dirty"
    rng = np.random.default_rng([seed, 1 if quoted else 0])
    ids = np.arange(1, rows + 1) * 7 + 1000000
    first = np.array(FIRST)[rng.integers(0, len(FIRST), rows)]
    last = np.array(LAST)[rng.integers(0, len(LAST), rows)]
    day = rng.integers(1, 29, rows)
    month = rng.integers(1, 13, rows)
    year = rng.integers(1940, 2010, rows)
    cents = rng.integers(0, 10_000_000, rows)
    cells = [
        [str(i) for i in ids],
        [f"{f} {l[0]}." for f, l in zip(first, last)],
        list(last),
        [f"{d:02d}/{m:02d}/{y}" for d, m, y in zip(day, month, year)],
        [f"{c // 100}.{c % 100:02d}" for c in cents],
    ]
    extra_rows = set()
    typed = {}
    if quoted:
        # A quoted `|` inside a field on every tenth row, as in the golden
        # fixture (`"Turner|"`): the CSV parse must keep it in the field.
        for r in range(0, rows, 10):
            cells[2][r] = cells[2][r] + "|"
        n_bad = max(1, rows // 1000)
        picks = rng.choice(np.arange(1, rows), size=n_bad * (1 + len(VIOLATIONS)),
                           replace=False)
        extra_rows = set(int(r) for r in picks[:n_bad])
        for k, (col, check, value) in enumerate(VIOLATIONS):
            ci = [c[0] for c in COLUMNS].index(col)
            for r in picks[n_bad * (k + 1):n_bad * (k + 2)]:
                cells[ci][int(r)] = value
            typed[f"{col}:{check}"] = n_bad
    q = '"' if quoted else ""
    if quoted:
        cells = [[q + v + q for v in c] for c in cells]
    lines = list(map("|".join, zip(*cells)))
    for r in extra_rows:
        lines[r] += f"|{q}extra{q}"
    out = ["|".join(f"{q}{c[0]}{q}" for c in COLUMNS)] + lines
    os.makedirs(f"{base}/inputs", exist_ok=True)
    os.makedirs(f"{base}/metadata/csv", exist_ok=True)
    with open(f"{base}/inputs/{table}.csv", "w", newline="\n") as f:
        f.write("\n".join(out) + "\n")
    with open(f"{base}/metadata/csv/{table}_metadata.csv", "w") as f:
        f.write(metadata_csv(quoted))
    return {
        "exit_code": 1 if (extra_rows or typed) else 0,
        "rows": rows,
        "input_bytes": os.path.getsize(f"{base}/inputs/{table}.csv"),
        "corrupt_rows": len(extra_rows),
        "typed_bad_rows": sum(typed.values()),
        "typed": typed,
    }


VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]


def corpus(seed, out_dir):
    """sf0.1-shaped documents (5000, 5% planted `dup` copies), embeddings
    (2000 unit 64-d vectors, 10 labels) and events (100000 over 30 days,
    1500 users)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    n_docs = 5000
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 101, n_docs)]
    dups = rng.choice(n_docs, size=n_docs // 20, replace=False)
    originals = rng.integers(0, n_docs, len(dups))
    for d, o in zip(dups, originals):
        texts[d] = texts[o] + " dup"
    langs = np.array(LANGS)[rng.choice(len(LANGS), n_docs,
                                       p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    n_vec, dim = 2000, 64
    v = rng.standard_normal((n_vec, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")

    n_ev = 100_000
    start_us = 1704067200 * 1_000_000  # 2024-01-01 00:00:00
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_ev)) + start_us
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pa.array(np.array(
            ["view", "click", "purchase", "signup", "error"])[
                rng.integers(0, 5, n_ev)].tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string()),
    }), f"{out_dir}/events.parquet")
    return {}


if __name__ == "__main__":
    a = sys.argv[1:]
    if a[:1] == ["validate"] and len(a) == 6:
        print(json.dumps(validate_table(a[1], int(a[2]), int(a[3]), a[4], a[5])))
    elif a[:1] == ["corpus"] and len(a) == 3:
        print(json.dumps(corpus(int(a[1]), a[2])))
    else:
        sys.exit(__doc__)
