#!/usr/bin/env python3
"""Steadiness check: run the benchmark as two sets of runs of the same code,
the second set started after the first has finished, and compare.

    python3 graftbench/steady.py [--workloads inventory ingest_mv] [--runs 10] [--sets 2]

Each set runs every workload `--runs` times with seeds 1, 2, ... (the same
seeds in both sets), with tracing off. For every workload and
end-to-end metric it prints each set's median, the spread of each set (the
distance between the first and third quartile as a share of the median),
and the change of the second median against the first, next to the
metric's bound from BENCHMARK.json. A spread beyond the bound, or a change
in either direction beyond it, is marked FAIL (the spread of setup_s is
shown but not judged). Raw results
go to .bench_build/steady/.
"""
import argparse
import json
import os
import subprocess
import sys

import run
import stats


def one(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=run.ROOT, capture_output=True, text=True)
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
    if r.returncode != 0 or not last.startswith("{"):
        sys.exit(f"{workload} seed {seed} failed ({r.returncode}):\n{r.stdout[-2000:]}{r.stderr[-2000:]}")
    return json.loads(last)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2, help="1 gives the spreads alone")
    args = ap.parse_args()
    sets = args.sets
    out_dir = os.path.join(run.BUILD, "steady")
    os.makedirs(out_dir, exist_ok=True)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    results = {}  # (set, workload) -> list of metric dicts
    for s in range(sets):
        for w in args.workloads:
            for i in range(args.runs):
                seed = 1 + i
                res = one(w, seed, spec["run_seconds"])
                results.setdefault((s, w), []).append({k: v["value"] for k, v in res["metrics"].items()})
                print(f"set {s + 1} {w} seed {seed}: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
                with open(os.path.join(out_dir, f"set{s + 1}-{w}.json"), "w") as fh:
                    json.dump(results[(s, w)], fh)

    ok = True
    print(f"\n{'workload/metric':34} {'bound':>6} " + " ".join(
        f"{'median' + str(s + 1):>10} {'spread' + str(s + 1):>8}" for s in range(sets))
        + ("   change" if sets > 1 else ""))
    for w in args.workloads:
        for name, bound in bounds.items():
            cols, meds = [], []
            for s in range(sets):
                vals = [r[name] for r in results[(s, w)]]
                med, sp = stats.median(vals), stats.spread(vals) if len(vals) >= 2 else 0.0
                meds.append(med)
                bad = name != "setup_s" and sp > bound
                ok &= not bad
                cols.append(f"{med:10.4g} {sp:8.3f}" + ("!" if bad else " "))
            line = f"{w + '/' + name:34} {bound:6.2f} " + " ".join(cols)
            if sets > 1:
                change = meds[-1] / meds[0] - 1
                # the sets run the same code: a gap either way is noise
                bad = abs(change) > bound
                ok &= not bad
                line += f" {change:+8.3f}" + (" FAIL" if bad else "")
            print(line)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
