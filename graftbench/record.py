#!/usr/bin/env python3
"""Record the expected outputs the inventory checks against.

    python3 graftbench/record.py [--runs 1] [--passes 3] [--oracle-dump DIR] [--jsonl F ...]

Run it on the commit the benchmark is anchored to, from the root of its
checkout. With `--oracle-dump DIR` (a `graft.Verify` output that
`tools/check.py` passed) every recorded result must also equal the dumped
one. Each run is a fresh JVM (`graftbench.Record`) that runs every query
of `SparkEntry.queries` `--passes` times: the first pass collects and
fingerprints, later passes materialize through `noop`. The row count must
agree everywhere; a query whose fingerprint differs between any two
runs is marked unstable and is then checked by row count only. The cost
of a query is the median time of its last-pass executions in the new runs,
with the default three passes the execution the inventory times; it sets
the inventory's cost strata and the over-budget rule in run.py. `--jsonl`
adds earlier runs to the stability check.
Writes graftbench/expected/inventory_sf0.01.json.
"""
import argparse
import json
import os
import subprocess
import sys

import run
import stats


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--jsonl", nargs="*", default=[],
                    help="earlier Record outputs to merge with the new runs")
    ap.add_argument("--oracle-dump", help="a graft.Verify output directory that passed "
                    "tools/check.py; every stable expected result must match it")
    args = ap.parse_args()
    wl = run.WORKLOADS["inventory"]
    files = list(args.jsonl)
    classes, _ = run.build()
    if args.runs:
        for i in range(args.runs):
            out = os.path.join(run.BUILD, f"record-inventory-{i}.jsonl")
            if os.path.exists(out):
                os.remove(out)
            cmd = ["java"] + jvm_opts() + [
                "-cp", classes + os.pathsep + os.path.join(run.SPARK_JARS, "*"),
                "graftbench.Record", os.path.join(run.DATA, wl["sf"]), str(args.passes), out,
                "collect"]
            subprocess.run(cmd, cwd=run.BUILD, check=True, stdout=subprocess.DEVNULL)
            files.append(out)
    by = {}
    for f in files:
        with open(f) as fh:
            for i, line in enumerate(fh):
                r = json.loads(line)
                r["file"] = f
                by.setdefault(r["name"], []).append(r)
    queries = {}
    for n, rs in sorted(by.items()):
        errs = [r["error"] for r in rs if "error" in r]
        if errs:
            sys.exit(f"{n} failed while recording: {errs[0]}")
        rows = {r["rows"] for r in rs if "rows" in r}
        if len(rows) != 1:
            sys.exit(f"{n} returned different row counts: {sorted(rows)}")
        # costs come from this invocation's runs when there are any, so they
        # reflect the current session settings
        fresh = [r for r in rs if r["file"] not in args.jsonl] or rs
        last = max(r["pass"] for r in fresh)
        queries[n] = {
            "rows": rows.pop(),
            "fingerprint": next(r["fingerprint"] for r in rs if "fingerprint" in r),
            "stable": len({r["fingerprint"] for r in rs if "fingerprint" in r}) == 1,
            "cost_s": round(stats.median([r["s"] for r in fresh if r["pass"] == last]), 4),
        }
    if args.oracle_dump:
        check_dump(classes, args.oracle_dump, queries)
    out = os.path.join(run.HERE, "expected", wl["expected"])
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"sf": wl["sf"], "commit": run.commit(), "oracle_checked": bool(args.oracle_dump),
                   "queries": queries}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    unstable = [n for n, q in queries.items() if not q["stable"]]
    print(f"{out}: {len(queries)} queries, unstable: {unstable}")


def jvm_opts():
    tmp = os.path.join(run.BUILD, "record-tmp")
    os.makedirs(tmp, exist_ok=True)
    return run.JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]


def check_dump(classes, dump, queries):
    """Fingerprint each query's result in a graft.Verify dump and require it
    to equal the recorded one (row count only for unstable queries)."""
    out = os.path.join(run.BUILD, "record-oracle-dump.jsonl")
    if os.path.exists(out):
        os.remove(out)
    subprocess.run(["java"] + jvm_opts() + [
        "-cp", classes + os.pathsep + os.path.join(run.SPARK_JARS, "*"),
        "graftbench.Record", os.path.abspath(dump), "1", out, "parquet"] + sorted(queries),
        cwd=run.BUILD, check=True, stdout=subprocess.DEVNULL)
    with open(out) as fh:
        got = {r["name"]: r for r in map(json.loads, fh)}
    bad = [n for n, q in queries.items()
           if n not in got or "error" in got[n] or got[n]["rows"] != q["rows"]
           or (q["stable"] and got[n]["fingerprint"] != q["fingerprint"])]
    if bad:
        sys.exit(f"results differ from the oracle-checked dump: {bad}")
    print(f"all {len(queries)} results match the oracle-checked dump {dump}")


if __name__ == "__main__":
    main()
