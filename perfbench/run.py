#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the repository. The first run builds the engine and
the benchmark JVM with sbt (cached in `.bench_build/` until a source changes) and
generates the input tables from a fixed data seed; `--seed` permutes the
order of the operations in every pass. The benchmark JVM (`perfbench.Main`)
warms the workload up with two passes, then runs passes in closed loop for
`--seconds`. Afterwards this script checks every output: batch results
against the registry's DuckDB oracle SQL, stream sink row totals against
the counts of the SQL recorded in `stream_oracle.json`.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics untraced, the
per-layer metrics traced. The line before it, and a record under
`.bench_build/results/`, hold the run's provenance. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("tpc_relational", "stream_stateful")
# input scale (lineitem = 6,000,000 x sf rows) and the generator's seed
SCALES = {"bench": 0.01, "smoke": 0.001}
DATA_SEED = 42
HEAP = "4g"
# A fixed heap and young generation, so the resident set's high-water mark
# follows the program's live data rather than heap-sizing decisions. C1
# only, compiling after a twentieth of the usual invocation counts: with
# C2, or with C1 at the default thresholds, the JIT kept compiling the
# engine through the timed window, so passes kept speeding up (by a quarter
# over 20 s) and a run's figures depended on how many passes fitted in it.
JVM_OPTS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn768m", "-XX:TieredStopAtLevel=1",
            "-XX:CompileThresholdScaling=0.05", "-XX:ReservedCodeCacheSize=512m"]
RUN_LIMIT_S = 175  # a run must end within 180 s, the build excluded

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "events_per_s": "1/s", "batch_p50_s": "s", "batch_p90_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "fail_ratio": "ratio",
    "build.s": "s", "build.jobs": "count",
    "sources.schema_jobs": "count", "sources.schema_s": "s",
    "catalyst.s": "s", "catalyst.optimize_s": "s", "catalyst.physical_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_failures": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.occupancy": "ratio", "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "streaming.batches": "count", "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_update_ms": "ms",
    "streaming.state_removal_ms": "ms", "streaming.state_rows_updated": "count",
    "streaming.state_rows_removed": "count", "streaming.state_memory_mb": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s",
    "trace.pass_s": "s", "trace.events_per_s": "1/s",
    "trace.accounted_share": "ratio", "trace.unaccounted_s": "s",
    "trace.spans": "count",
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Compiles the engine and the benchmark JVM; returns its classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
               os.path.join(ROOT, "project", "build.properties"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "src"),
               os.path.join(BENCH, "project", "build.properties")]
    missing = [p for p in sources if not os.path.exists(p)]
    if missing:
        fail("engine sources not found (run from the repository root): "
             + ", ".join(os.path.relpath(p, ROOT) for p in missing))
    stamp = tree_hash(sources)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln and not ln.startswith("[") and ".jar" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("sbt build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp


def ensure_data(build_dir, sf):
    """Generates the input tables once per scale and generator version."""
    gen = os.path.join(BENCH, "gen_data.py")
    stamp = tree_hash([gen]) + f"-{sf}-{DATA_SEED}"
    data = os.path.join(build_dir, "data", f"sf{sf}")
    stamp_file = data + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return data
    tmp = data + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(data, ignore_errors=True)
    subprocess.run([sys.executable, gen, tmp, str(sf), str(DATA_SEED)],
                   check=True, timeout=300)
    os.rename(tmp, data)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return data


def normalize(df):
    """The engine's oracle normalization: columns by name, doubles to 6
    places, timestamps to integer micros, rows sorted."""
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.round(6)
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif s.dtype == object:
            s = s.astype(str)
        out[c] = s
    n = pd.DataFrame(out)
    return n.sort_values(by=list(n.columns), kind="mergesort").reset_index(drop=True)


def oracle_db(data):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t)}.parquet')")
    return con


def check_batch(check, data):
    """{query: problem} for batch results that differ from the oracle."""
    con = oracle_db(data)
    problems = {}
    for name, path in check["outputs"].items():
        files = glob.glob(os.path.join(path, "*.parquet"))
        if not files:
            problems[name] = "no output"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        sql = check["oracle_sql"].get(name)
        if sql is None:
            # no SQL form (sketches): the result must at least be non-empty
            if len(got) == 0:
                problems[name] = "empty result and no oracle"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # the oracle itself must run
            problems[name] = f"oracle error {type(e).__name__}: {e}"
            continue
        a, b = normalize(got), normalize(want)
        if list(a.columns) != list(b.columns):
            problems[name] = f"columns {list(a.columns)} != {list(b.columns)}"
        elif len(a) != len(b):
            problems[name] = f"rows {len(a)} != {len(b)}"
        elif not a.equals(b):
            problems[name] = "values differ from the oracle"
    return problems


def check_stream(check, data):
    """{op: problem} for stream ops whose sink row total differs from the
    count the op's oracle SQL (stream_oracle.json) gives on the events."""
    with open(os.path.join(BENCH, "stream_oracle.json")) as f:
        oracles = json.load(f)
    con = oracle_db(data)
    problems = {}
    for name, rows in check["stream_rows"].items():
        want = con.execute(oracles[name]).fetchone()[0]
        if rows != want:
            problems[name] = f"sink rows {rows} != oracle count {want}"
    return problems


def meminfo_kb():
    try:
        with open("/proc/meminfo") as f:
            return int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return None


def cpu_ticks():
    """(steal, total) ticks of all CPUs since boot, or None."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench",
                    help="input scale: bench (default) or smoke")
    args = ap.parse_args()
    sf = SCALES[args.scale]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    t_build = time.time()
    classpath, source_stamp = build(build_dir)
    data = ensure_data(build_dir, sf)
    build_s = time.time() - t_build

    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.scale}"
    out = os.path.join(build_dir, "runs", f"{run_name}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *ADD_OPENS, *JVM_OPTS,
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
           str(args.seconds), str(args.trace), data, out]
    budget = RUN_LIMIT_S + build_s - (time.time() - t_start)
    log_path = os.path.join(build_dir, "runs", f"{run_name}.log")
    ticks0 = cpu_ticks()
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                  stdout=log, stderr=subprocess.STDOUT,
                                  timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {budget:.0f} s; log: {log_path}")
    ticks1 = cpu_ticks()
    # the share of CPU time the hypervisor gave to other guests while the
    # JVM ran: a run with much of it was slowed by the host, not the program
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) \
        if ticks0 and ticks1 else None
    result_path = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM failed (exit {proc.returncode}); log: {log_path}")
    with open(result_path) as f:
        res = json.load(f)

    if args.workload == "stream_stateful":
        problems = check_stream(res["check"], data)
    else:
        problems = check_batch(res["check"], data)
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    spans = os.path.join(out, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(results, f"{run_name}.spans.jsonl"))
    shutil.rmtree(out, ignore_errors=True)
    # an operation whose output is wrong fails on every execution
    units = res["units"]
    bad_execs = sum(units.get(n, {"n": 1})["n"] for n in problems)
    attempted = res["attempted"]
    failed = res["failed"] + bad_execs
    failures = res["failures"] + [
        {"op": n, "class": "OutputCheck", "message": m} for n, m in problems.items()]

    if args.trace:
        values = dict(res["layers"])
        values["fail_ratio"] = failed / attempted
        values["trace.events_per_s"] = res["metrics"]["events_per_s"]
        names = PER_LAYER
    else:
        values, names = res["metrics"], END_TO_END
    metrics = {k: {"value": values[k], "unit": u} for k, u in names.items()}

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, "sf": sf,
        "nproc": os.cpu_count(), "jvm_cores": res["cores"],
        "mem_total_kb": meminfo_kb(), "jvm_xmx": HEAP,
        "jvm_max_heap_mb": res["max_heap_mb"],
        "spark_version": res["spark_version"], "jdk_version": res["java_version"],
        "git_commit": commit, "source_sha256": source_stamp,
        "host_steal_share": steal,
        "failures": failures, "units": units,
        "pass_seconds": res["pass_seconds"],
        "metrics": metrics,
    }
    with open(os.path.join(results, f"{run_name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print("provenance: " + json.dumps({k: record[k] for k in (
        "workload", "seed", "trace", "sf", "nproc", "mem_total_kb", "jvm_xmx",
        "spark_version", "jdk_version", "git_commit", "host_steal_share")}))
    for fl in failures:
        print(f"FAILED {fl['op']}: {fl['class']}: {fl['message'][:300]}")
    for k, m in metrics.items():
        v = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {k:<30} {v:>14} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
