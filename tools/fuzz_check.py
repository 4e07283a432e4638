#!/usr/bin/env python3
"""Replay the DuckDB side of the dialect fuzzer and diff against Spark.

Usage: python3 tools/fuzz_check.py <sfDir> <fuzzOutDir>
(run `sbt "Test/runMain graft.tools.FuzzDialect <seed> <n> <sfDir> <fuzzOutDir>"`
first). Exit 0 iff every expression column matches on every row.

Record mode: python3 tools/fuzz_check.py --record <sfDir> <manifest> <out>
replays the DuckDB side of the cases in <manifest> (written by
`sbt "Test/runMain graft.tools.FuzzDialect --spec-cases <manifest>"`) and
writes every value, in the form the compare below sees it, to <out>: one
line per value, `tag<TAB>column<TAB>key<TAB>value`, with `\\`, `\t` and `\n`
escaped in the value. A float case's value is its Python repr (NULL and
NaN both `nan`); any other value is `norm(v)`. FuzzDialectSpec compares
Spark's values with this file, so tier-1 needs no DuckDB.
"""
import glob
import json
import sys

import duckdb
import pandas as pd

RECORD = sys.argv[1:2] == ["--record"]
args = sys.argv[2:] if RECORD else sys.argv[1:]
sf = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
out = args[1] if len(args) > 1 else "/tmp/fuzz_out"

con = duckdb.connect()
for t in ("documents", "orders", "events"):
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
    )


def norm(v):
    """Engine-neutral form of a non-float value: bools/ints may come back
    as different numpy dtypes, and NULLs as None (object) vs NaN (float)
    — normalize nulls BEFORE stringifying (astype(str) would bake them
    into "None"/"nan")."""
    try:
        if pd.isna(v):
            return "\\N"
    except (TypeError, ValueError):
        pass  # list-like: not null
    if isinstance(v, float) and v.is_integer():
        return str(int(v))  # 3.0 (nullable-int col) == 3
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")  # BINARY vs VARCHAR
    return str(v)


if RECORD:
    cases = json.load(open(out))
    esc = str.maketrans({"\\": "\\\\", "\t": "\\t", "\n": "\\n"})
    n_values = 0
    with open(args[2], "w", encoding="utf-8") as w:
        for case in cases:
            key = case["key"]
            oracle = con.execute(case["duck"]).fetchdf()
            oracle = oracle.sort_values(key).reset_index(drop=True)
            for c in [c for c in oracle.columns if c != key]:
                for k, v in zip(oracle[key], oracle[c]):
                    text = repr(float(v)) if case["float"] else norm(v)
                    w.write(f"{case['tag']}\t{c}\t{norm(k)}\t{text.translate(esc)}\n")
                    n_values += 1
    print(f"== FUZZ: recorded {n_values} values of {len(cases)} cases -> {args[2]} ==")
    sys.exit(0)

manifest = json.load(open(f"{out}/manifest.json"))
n_expr = 0
failures = []
for entry in manifest:
    is_float = "float" in entry
    if "agg" in entry:
        i, tag, key, d = entry["agg"], f"agg {entry['agg']}", "k", f"{out}/agg_{entry['agg']}"
    elif "date" in entry:
        i, tag, key, d = entry["date"], f"date {entry['date']}", "o_orderkey", f"{out}/date_{entry['date']}"
    elif is_float:
        i, tag, key, d = entry["float"], f"float {entry['float']}", "doc_id", f"{out}/float_{entry['float']}"
    elif "null" in entry:
        i, tag, key, d = entry["null"], f"null {entry['null']}", "doc_id", f"{out}/null_{entry['null']}"
    elif "arr" in entry:
        i, tag, key, d = entry["arr"], f"arr {entry['arr']}", "doc_id", f"{out}/arr_{entry['arr']}"
    elif "map" in entry:
        i, tag, key, d = entry["map"], f"map {entry['map']}", "doc_id", f"{out}/map_{entry['map']}"
    elif "json" in entry:
        i, tag, key, d = entry["json"], f"json {entry['json']}", "doc_id", f"{out}/json_{entry['json']}"
    elif "utf8" in entry:
        i, tag, key, d = entry["utf8"], f"utf8 {entry['utf8']}", "doc_id", f"{out}/utf8_{entry['utf8']}"
    elif "ts" in entry:
        i, tag, key, d = entry["ts"], f"ts {entry['ts']}", "event_id", f"{out}/ts_{entry['ts']}"
    elif "conv2" in entry:
        i, tag, key, d = entry["conv2"], f"conv2 {entry['conv2']}", "doc_id", f"{out}/conv2_{entry['conv2']}"
    elif "conv" in entry:
        i, tag, key, d = entry["conv"], f"conv {entry['conv']}", "doc_id", f"{out}/conv_{entry['conv']}"
    elif "rnd" in entry:
        i, tag, key, d = entry["rnd"], f"rnd {entry['rnd']}", "doc_id", f"{out}/rnd_{entry['rnd']}"
    elif "cond" in entry:
        i, tag, key, d = entry["cond"], f"cond {entry['cond']}", "doc_id", f"{out}/cond_{entry['cond']}"
    else:
        i, tag, key, d = entry["batch"], f"batch {entry['batch']}", "doc_id", f"{out}/batch_{entry['batch']}"
    oracle = con.execute(entry["duck"]).fetchdf()
    spark = pd.concat(
        [pd.read_parquet(f) for f in sorted(glob.glob(f"{d}/*.parquet"))]
    )
    spark = spark.sort_values(key).reset_index(drop=True)
    oracle = oracle.sort_values(key).reset_index(drop=True)
    if len(spark) != len(oracle):
        failures.append(f"{tag}: row count {len(spark)} vs {len(oracle)}")
        continue
    for c in [c for c in oracle.columns if c != key]:
        n_expr += 1
        a, b = spark[c], oracle[c]
        if is_float:
            # tolerance compare; isclose treats inf==inf, equal_nan=True
            import numpy as np
            eq = pd.Series(
                np.isclose(a.astype(float), b.astype(float),
                           rtol=1e-9, atol=1e-12, equal_nan=True),
                index=a.index,
            )
        else:
            eq = a.map(norm).eq(b.map(norm))
        if not eq.all():
            j = int(eq.idxmin())
            failures.append(
                f"{tag} col {c} row {j} ({key}={spark[key][j]}): "
                f"spark={a[j]!r} duck={b[j]!r}"
            )

if failures:
    print(f"== FUZZ: {len(failures)} mismatching expressions of {n_expr} ==")
    for f in failures[:40]:
        print("FAIL", f)
    sys.exit(1)
print(f"== FUZZ: all {n_expr} expressions match across engines ==")
