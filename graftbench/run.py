#!/usr/bin/env python3
"""The benchmark's one command.

    python3 graftbench/run.py --workload {inventory,ingest_mv} --seed N \
        --seconds S --trace {0,1} [--record PATH]

Run from the root of a checkout. It compiles the engine (`src/main/scala`)
and the harness (`graftbench/src`) with the Scala compiler that ships with
Spark into `.bench_build/`, unless a build of the same sources is there;
starts one JVM for the run; checks the outputs; prints every metric by
name with its unit; and prints, as the last line of standard output, one
JSON object with the keys `correct`, `attempted`, `failed` and `metrics`.
With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. The full record of the run, with its
environment fingerprint, goes to `--record` (default
`.bench_build/records/`). The exit code is 0 only when every output is
correct. See graftbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

# The fixture directories sf0.01 and sf0.1 live here (FIXTURES.md).
DATA = os.environ.get("GRAFTBENCH_DATA") or os.path.expanduser("~/testdata")


def spark_jars():
    """Spark's jars, which also hold the Scala compiler the build uses."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.environ.get("GRAFTBENCH_SPARK_JARS") or os.path.join(home or "", "jars")


SPARK_JARS = spark_jars()
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170

WORKLOADS = {
    "inventory": {"sf": "sf0.01", "expected": "inventory_sf0.01.json"},
    "ingest_mv": {"sf": "sf0.1", "expected": None},
}
# Queries the inventory run times, one drawn by the seed from each of this
# many strata of the population ordered by recorded cost.
INVENTORY_SAMPLE = 16
# A traced run fails when more of the listener-reported job and phase time
# than this share lies outside the traced query it belongs to.
UNMATCHED_MAX = 0.01
# A query whose recorded execution takes longer than this cannot run inside
# one run's time limit; it stays in the population, is listed in every
# record as over budget, and is not executed.
QUERY_BUDGET_S = 20.0

JVM_OPTS = [
    "-Xss8m", "-Xmx6g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isdir(main):
        die(f"no engine sources at {main}; run from the root of a checkout")
    out = []
    for base in (main, own):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile engine plus harness once per distinct source tree."""
    if not os.path.isdir(SPARK_JARS):
        die(f"no Spark jars at {SPARK_JARS}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(BUILD, f"classes-{digest}")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one compile at a time per checkout
        if not os.path.isdir(classes):
            compile_into(classes, files)
    return classes, digest


def compile_into(classes, files):
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"graftbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("compile failed")
    os.rename(tmp, classes)


def cpu_times():
    """(all, steal) jiffies from /proc/stat, or None where there is none. On
    a virtual machine, time stolen by the host slows a whole run."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return None


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- inputs

def load_expected(name):
    with open(os.path.join(HERE, "expected", name)) as fh:
        return json.load(fh)


def inventory_sample(expected, seed):
    """One query per cost stratum of the population, drawn by the seed."""
    qs = expected["queries"]
    eligible = sorted((q["cost_s"], n) for n, q in qs.items() if q["cost_s"] <= QUERY_BUDGET_S)
    rnd = random.Random(seed)
    k = min(INVENTORY_SAMPLE, len(eligible))
    bounds = [round(i * len(eligible) / k) for i in range(k + 1)]
    return [eligible[rnd.randrange(bounds[i], bounds[i + 1])][1] for i in range(k)]


def over_budget(expected):
    return sorted(n for n, q in expected["queries"].items() if q["cost_s"] > QUERY_BUDGET_S)


# ---------------------------------------------------------------- run

def run_jvm(args, classes, names):
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    names_file = os.path.join(work, "names.txt")
    with open(names_file, "w") as fh:
        fh.write("\n".join(names) + "\n")
    out = os.path.join(work, "record.json")
    log = os.path.join(BUILD, f"jvm-{args.workload}.log")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmpdir}", f"-Dspark.local.dir={tmpdir}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--dir", os.path.join(DATA, WORKLOADS[args.workload]["sf"]),
        "--work", work, "--out", out, "--names", names_file]
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"run exceeded {JVM_TIMEOUT_S} s; see {log}")
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        die(f"JVM exited with {code}; see {log}")
    with open(out) as fh:
        record = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    return record


# ---------------------------------------------------------------- metrics

def query_metrics(record, expected):
    """Latency metrics and output checks of the inventory."""
    qs = expected["queries"]
    failures = []

    def check(e):
        if "error" in e:
            return e["error"]
        want = qs.get(e["name"])
        if want is None:
            return "no expected output recorded"
        if e["rows"] != want["rows"]:
            return f"{e['rows']} rows, expected {want['rows']}"
        if want["stable"] and e["fingerprint"] != want["fingerprint"]:
            return f"fingerprint {e['fingerprint']}, expected {want['fingerprint']}"
        return None

    checked = record.get("checks", []) + [e for e in record["executions"] if "rows" in e]
    for e in checked:
        why = check(e)
        if why:
            failures.append({"name": e["name"], "why": why})
    timed = [e for e in record["executions"] if "error" not in e and e["pass"] >= record["warm_passes"]]
    failures += [{"name": e["name"], "why": e["error"]}
                 for e in record["executions"] if "error" in e and "rows" not in e]
    per_query = {}
    for e in timed:
        if not e["traced"]:
            per_query.setdefault(e["name"], []).append(e["build_s"] + e["run_s"])
    medians = [stats.median(v) for v in per_query.values()]
    attempted = len(record.get("checks", [])) + len(record["executions"])
    m = {
        "latency_p50_s": stats.median(medians),
        "latency_geomean_s": stats.geomean(medians),
        "pass_s": sum(medians),
        "latency_p90_s": stats.tail_percentile(medians),
        "queries_timed": len(medians),
        "executions_per_query": stats.median([len(v) for v in per_query.values()]),
    }
    traced = {}
    for e in timed:
        if e["traced"]:
            traced.setdefault(e["name"], []).append(e["build_s"] + e["run_s"])
    if traced:
        m["traced_latency_geomean_s"] = stats.geomean([stats.median(v) for v in traced.values()])
    return m, attempted, failures


def ingest_metrics(record):
    failures = []
    # a batch is visible to readers once its MV write returns
    commit_ms = {w["batch"]: w["end"] for w in record["mv_writes"]}
    file_batch = record["file_batches"]
    fresh = []
    for f in record["landed"]:
        b = file_batch.get(f["file"])
        if b is None or b not in commit_ms:
            failures.append({"name": f["file"], "why": "file never committed"})
            continue
        if commit_ms[b] < f["landed"]:
            failures.append({"name": f["file"], "why": f"batch {b} committed before the file landed"})
            continue
        fresh.append((commit_ms[b] - f["due"]) / 1e3)
    reads = record["reads"]
    failures += [{"name": "readMv", "why": r["error"]} for r in reads if "error" in r]
    read_s = [(r["end"] - r["start"]) / 1e3 for r in reads if "error" not in r]
    c = record["check"]
    if (c["view_rows"], c["view_fingerprint"]) != (c["want_rows"], c["want_fingerprint"]):
        failures.append({"name": "mv", "why": f"view {c['view_rows']} rows {c['view_fingerprint']}, "
                         f"distinct events give {c['want_rows']} rows {c['want_fingerprint']}"})
    drains = [((d["end"] - d["start"]) / 1e3, d["rows"]) for d in record["drains"]]
    # where the offered load sits: rows offered against the drain's rows per
    # second, the share of the live window in which a batch with data ran,
    # and how many files such a batch took
    live = record["landed"]
    lo, hi = min(f["due"] for f in live), max(f["landed"] for f in live)
    offered = len(live) * record["rows_per_file"] * (1 + record["dup_percent"] / 100) / (hi - lo) * 1e3
    busy = [(b["start"], b["start"] + b["triggerExecution_ms"]) for b in record["batches"]
            if b["batch"] >= record["live_from_batch"] and b["rows"] > 0]
    per_batch = {}
    for f in live:
        per_batch[file_batch.get(f["file"])] = per_batch.get(file_batch.get(f["file"]), 0) + 1
    m = {
        "latency_p50_s": stats.median(fresh),
        "latency_geomean_s": stats.geomean(fresh),
        "pass_s": stats.median([s for s, _ in drains]),
        "freshness_p50_s": stats.median(fresh),
        "freshness_p90_s": stats.tail_percentile(fresh),
        "drain_rows_per_s": stats.median([n / s for s, n in drains]),
        "mv_read_p50_s": stats.median(read_s) if read_s else None,
        "offered_share": offered / stats.median([n / s for s, n in drains]),
        "busy_share": stats.length(stats.clip(busy, lo, hi)) / (hi - lo),
        "files_per_batch": stats.median(list(per_batch.values())),
    }
    attempted = len(record["landed"]) + len(reads) + len(drains) + 1  # and the final check
    return m, attempted, failures


def per_layer(record):
    """Per-layer metrics of a traced run (see README.md for each)."""
    t = record.get("trace_data", {"spans": [], "jobs": [], "stages": [], "tasks": [], "phases": []})
    out = {}
    rw = record.get("rewrite")
    out["sqlfront.rewrite_s"] = stats.median(rw["pass_s"]) if rw else 0.0

    roots = [s for s in t["spans"] if s["name"] == "query"]
    construct = {(s["query"], s["start"]): s for s in t["spans"] if s["name"] == "construct"}
    jobs, phases = t["jobs"], t["phases"]
    first_job = {}  # a stage's tasks run under the first job that lists it
    for j in sorted(jobs, key=lambda j: j["job"]):
        for sid in j["stages"]:
            first_job.setdefault(sid, j["job"])
    tasks_by_stage = {}
    for k in t["tasks"]:
        tasks_by_stage.setdefault(k["stage"], []).append(k)
    completed = {st["stage"] for st in t["stages"]}

    rows_by_name = {e["name"]: e["rows"] for e in record.get("checks", []) + record.get("executions", [])
                    if "rows" in e}
    n = max(len(roots), 1)
    acc = {k: 0.0 for k in (
        "queries.construct_s", "queries.construct_jobs", "queries.construct_job_s",
        "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
        "plans.exchanges", "plans.sorts", "plans.broadcasts", "plans.nodes",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.wait_s", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        "exec.spill_bytes", "core.input_bytes", "core.input_rows")}
    skews, rows_out = [], 0
    unattributed = wall = 0.0
    for r in roots:
        # listener times are whole milliseconds: allow 1 ms at both ends
        q, s, e = r["query"], r["start"], r["end"]
        c = construct[(q, s)]
        qjobs = [j for j in jobs if j["query"] == q and s - 1 <= j["start"] <= e + 1]
        qphases = [p for p in phases if s - 1 <= p["start"] and p["end"] <= e + 1
                   and p.get("query", q) == q and p["phase"] != "plan_shape"]
        shape = [p for p in phases if p["phase"] == "plan_shape" and s - 1 <= p["start"] <= e + 1]
        cjobs = [j for j in qjobs if j["start"] <= c["end"]]
        acc["queries.construct_s"] += (c["end"] - c["start"]) / 1e3
        acc["queries.construct_jobs"] += len(cjobs)
        acc["queries.construct_job_s"] += stats.length([(j["start"], j["end"]) for j in cjobs]) / 1e3
        for name in ("analysis", "optimization", "planning"):
            acc[f"plans.{name}_s"] += stats.length(
                [(p["start"], p["end"]) for p in qphases if p["phase"] == name]) / 1e3
        if shape:
            for k in ("exchanges", "sorts", "broadcasts", "nodes"):
                acc[f"plans.{k}"] += shape[-1][k]
        acc["exec.jobs"] += len(qjobs)
        for j in qjobs:
            own = [sid for sid in j["stages"] if first_job.get(sid) == j["job"] and sid in completed]
            ts = [k for sid in own for k in tasks_by_stage.get(sid, [])]
            acc["exec.stages"] += len(own)
            acc["exec.tasks"] += len(ts)
            if ts:
                acc["exec.wait_s"] += max(0.0, min(k["launch"] for k in ts) - j["start"]) / 1e3
            for k in ts:
                acc["exec.task_run_s"] += k["run_s"]
                acc["exec.task_cpu_s"] += k["cpu_s"]
                acc["exec.gc_s"] += k["gc_s"]
                for f in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
                    acc[f"exec.{f}"] += k[f]
                acc["core.input_bytes"] += k["input_bytes"]
                acc["core.input_rows"] += k["input_rows"]
            for sid in own:
                durs = [k["run_s"] for k in tasks_by_stage.get(sid, [])]
                if len(durs) >= 2 and stats.median(durs) > 0:
                    skews.append(max(durs) / stats.median(durs))
        rows_out += rows_by_name.get(q, 0)
        ex = [(j["start"], j["end"]) for j in qjobs]
        pl = [(p["start"], p["end"]) for p in qphases]
        cs = [(c["start"], c["end"])]
        shares, un = stats.layer_split((s, e), [("exec", ex), ("plans", pl), ("queries", cs)])
        unattributed += un
        wall += e - s
    for k, v in acc.items():
        out[k] = v / n
    out["exec.stage_skew"] = stats.median(skews) if skews else 0.0
    out["core.rows_read_per_row_out"] = (acc["core.input_rows"] / rows_out) if rows_out else 0.0
    out["trace.unattributed_share"] = unattributed / wall if wall else 0.0
    out["trace.unmatched_share"] = unmatched_share(t, roots) if roots else 0.0
    out.update(streaming_layer(record))
    return out


def unmatched_share(t, roots):
    """Share of the job and planning-phase time the listeners reported that
    no traced query claims: time outside the root span of the query the
    job is tagged with (phases carry no tag and may fall in any root). The
    listeners and the per-query split are independent records, so a job
    that is untagged, tagged wrongly, or runs past its query's end shows
    here. Queries are serial, so no time is claimed twice."""
    by_query = {}
    for r in roots:  # listener times are whole milliseconds: 1 ms slack
        by_query.setdefault(r["query"], []).append((r["start"] - 1, r["end"] + 1))
    every = [iv for ivs in by_query.values() for iv in ivs]
    total = claimed = 0.0
    events = [(j["start"], j["end"], by_query.get(j["query"], [])) for j in t["jobs"]]
    events += [(p["start"], p["end"], every) for p in t["phases"] if p["phase"] != "plan_shape"]
    for s, e, mine in events:
        total += e - s
        claimed += stats.length(stats.clip(mine, s, e))
    return (total - claimed) / total if total else 0.0


def streaming_layer(record):
    """Streaming per-layer metrics of an ingest_mv run (0 elsewhere)."""
    keys = ("batches", "batch_s", "add_batch_s", "latest_offset_s", "wal_commit_s",
            "backlog_files", "state_rows", "state_bytes", "mv_write_s",
            "mv_bytes_per_input_byte", "mv_read_s", "mv_partitions")
    out = {f"streaming.{k}": 0.0 for k in keys}
    out["gen.lateness_p90_s"] = 0.0
    bs = sorted((b for b in record.get("batches", []) if b["batch"] >= record["live_from_batch"]),
                key=lambda b: b["batch"])
    if not bs:
        return out

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def ms(b, k):
        return b.get(k + "_ms", 0) / 1e3
    fb = record["file_batches"]
    writes = {w["batch"]: w for w in record["mv_writes"] if w["batch"] >= record["live_from_batch"]}
    commit = {k: w["end"] for k, w in writes.items()}
    files = [(f["landed"], commit.get(fb.get(f["file"]), float("inf"))) for f in record["landed"]]
    reads = [(r["end"] - r["start"]) / 1e3 for r in record["reads"] if "error" not in r]
    live = record["landed"]
    out.update({
        "streaming.batches": len(bs),
        "streaming.batch_s": mean([ms(b, "triggerExecution") for b in bs]),
        "streaming.add_batch_s": mean([ms(b, "addBatch") for b in bs]),
        "streaming.latest_offset_s": mean([ms(b, "latestOffset") for b in bs]),
        "streaming.wal_commit_s": mean([ms(b, "walCommit") + ms(b, "commitOffsets") for b in bs]),
        "streaming.backlog_files": stats.median(
            [sum(1 for land, done in files if land <= w["start"] < done) for w in writes.values()]),
        "streaming.state_rows": max(b["state_rows"] for b in bs),
        "streaming.state_bytes": max(b["state_bytes"] for b in bs),
        "streaming.mv_write_s": mean([(w["end"] - w["start"]) / 1e3 for w in writes.values()]),
        "streaming.mv_bytes_per_input_byte": record["mv_bytes"] / record["input_bytes"],
        "streaming.mv_read_s": mean(reads),
        "streaming.mv_partitions": record["mv_partitions"],
        "gen.lateness_p90_s": stats.percentile(
            stats.lateness([f["due"] / 1e3 for f in live], [f["landed"] / 1e3 for f in live]), 0.9),
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="where to write the run's full record")
    args = ap.parse_args()
    if args.record and os.path.abspath(args.record) == os.path.join(ROOT, "BENCH_local.json"):
        die("refusing to overwrite the tracked BENCH_local.json")

    classes, digest = build()
    wl = WORKLOADS[args.workload]
    expected = load_expected(wl["expected"]) if wl["expected"] else None
    skipped = over_budget(expected) if expected else []
    names = inventory_sample(expected, args.seed) if expected else []

    t0, cpu0 = time.time(), cpu_times()
    record = run_jvm(args, classes, names)
    cpu1 = cpu_times()
    path = args.record or os.path.join(
        BUILD, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as fh:  # raw first, so a failed analysis can be looked into
        json.dump(record, fh)
    if args.workload == "ingest_mv":
        m, attempted, failures = ingest_metrics(record)
    else:
        m, attempted, failures = query_metrics(record, expected)
    m["setup_s"] = stats.median(record["setup_s"])

    layer = per_layer(record) if args.trace else {}
    if args.trace:
        layer["trace.overhead"] = (m["traced_latency_geomean_s"] / m["latency_geomean_s"]
                                   if "traced_latency_geomean_s" in m else 0.0)
    if args.trace and args.workload == "inventory":
        attempted += 1  # the trace's own check
        if layer["trace.unmatched_share"] > UNMATCHED_MAX:
            failures.append({"name": "trace", "why": f"{layer['trace.unmatched_share']:.4f} of the "
                             f"listener time lies outside the traced queries (limit {UNMATCHED_MAX})"})
    m["error_share"] = len(failures) / attempted

    spec = load_spec()
    record.update({
        "commit": commit(), "source_digest": digest, "over_budget": skipped,
        "cpu_steal_share": (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1) if cpu0 and cpu1 else None,
        "wall_s": time.time() - t0, "metrics": m, "per_layer": layer, "failures": failures,
        "attempted": attempted})
    with open(path, "w") as fh:
        json.dump(record, fh)

    for f in failures:
        print(f"FAIL {args.workload} {f['name']}: {f['why']}")
    for k, v in sorted(m.items()):  # traced_latency_geomean_s is trace.overhead's numerator
        if v is not None:
            print(f"{args.workload}/{k} {v:.6g} {UNITS.get(k, '')}".rstrip())
    for k, v in sorted(layer.items()):
        print(f"{args.workload}/{k} {v:.6g} {spec['per_layer'][k]}")
    if skipped:
        print(f"{args.workload}: over budget, not run: {' '.join(skipped)}")
    if record["cpu_steal_share"] is not None:
        print(f"{args.workload}: cpu steal share during the run {record['cpu_steal_share']:.3f}")
    print(f"record: {path}")

    if args.trace:
        metrics = {k: {"value": layer[k], "unit": u} for k, u in spec["per_layer"].items()}
    else:
        metrics = {k: {"value": m[k], "unit": u} for k, u in spec["end_to_end"].items()}
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))
    sys.exit(0 if not failures else 1)


UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_geomean_s": "s", "latency_p90_s": "s",
         "pass_s": "s", "error_share": "share", "freshness_p50_s": "s", "freshness_p90_s": "s",
         "drain_rows_per_s": "rows/s", "mv_read_p50_s": "s", "queries_timed": "count",
         "traced_latency_geomean_s": "s", "offered_share": "ratio", "busy_share": "share",
         "files_per_batch": "count",
         "executions_per_query": "count"}


def load_spec():
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        b = json.load(fh)
    return {"end_to_end": {x["name"]: x["unit"] for x in b["end_to_end"]},
            "per_layer": {x["name"]: x["unit"] for x in b["per_layer"]}}


if __name__ == "__main__":
    main()
