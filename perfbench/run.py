#!/usr/bin/env python3
"""The repository's benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload curation|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and caches the classpath
under .perfbench/, keyed by a hash of every source and build file; later
runs reuse it until a source changes. Each run then

  1. generates the workload's inputs from --seed (perfbench/gen.py),
  2. starts perfbench.Main in a fresh JVM, which sets up, runs the timed
     passes for --seconds, and writes raw samples,
  3. checks the outputs (DuckDB oracle via tools/check_oracle.compare_frames
     for pure-SQL jobs, digests and the ingest ledger for the rest),
  4. prints every metric with its unit and sample count, then, as the last
     line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.
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
REPO = os.path.dirname(BENCH)
WORK = os.path.join(REPO, ".perfbench")
WORKLOADS = ("curation", "ingest")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
DEADLINE_S = 170        # a run must end within 180 s
BUILD_DEADLINE_S = 850  # the first run in a checkout may take 900 s
JVM_HEAP = "-Xmx4g"

# per-layer metrics of layers a workload does not exercise read 0
NOT_MEASURED = {
    "curation": ("sources.", "streaming.", "dsl.", "reliability.", "gen."),
    "ingest": ("queries.", "operators.", "trace.reconcile_frac"),
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def quantile(xs, p):
    s = sorted(xs)
    if not s:
        return 0.0
    pos = p * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(REPO, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    files += glob.glob(os.path.join(REPO, "project", "*.sbt"))
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    missing = [f for f in files[:4] if not os.path.isfile(f)]
    if missing or not os.path.isdir(roots[0]):
        die(f"engine sources not found next to the benchmark ({missing or roots[0]})")
    return sorted(files)


def build():
    """Compile engine + harness if any source changed; return (classpath, jvm options)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cache = os.path.join(WORK, "build.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp:
            return c["classpath"], c["java_options"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchSpec"]
    spec = os.path.join(BENCH, "target", "launch.txt")
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, capture_output=True, text=True,
                           timeout=BUILD_DEADLINE_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die("build timed out")
    if p.returncode != 0 or not os.path.isfile(spec):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed")
    with open(spec) as fh:
        classpath, *java_options = fh.read().splitlines()
    os.makedirs(WORK, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath, "java_options": java_options}, fh)
    return classpath, java_options


def run_jvm(classpath, java_options, args, budget_s):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = (["java"] + [o for o in java_options if not o.startswith("-Xmx")] + [
        JVM_HEAP, f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-cp", classpath, "perfbench.Main"] + args)
    p = subprocess.Popen(jvm, cwd=WORK, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        rc = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die("benchmark JVM timed out")
    if rc != 0:
        die(f"benchmark JVM exited with {rc}")


def check_oracles(raw, data):
    """Compare each pure-SQL job's output with DuckDB on the same fixture.
    Returns the names of jobs whose output is wrong."""
    import duckdb
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_oracle import compare_frames
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    wrong = []
    for name, verdict in raw.get("check", {}).items():
        kind, _, rest = verdict.partition(":")
        err = None
        if kind == "oracle":
            files = glob.glob(f"{rest}/*.parquet")
            try:
                mine = con.sql(f"SELECT * FROM '{files[0]}'").df()
                err = compare_frames(mine, con.sql(raw["oracle_sql"][name]).df())
            except Exception as e:  # a failed read or oracle query is a failed check
                err = str(e)
        elif kind != "digest":
            err = verdict
        if err:
            print(f"perfbench: WRONG {name}: {err}", file=sys.stderr)
            wrong.append(name)
    return wrong


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    classpath, java_options = build()

    sys.path.insert(0, BENCH)
    import gen
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    rows = gen.write_fixture(a.seed, data)
    out = os.path.join(run_dir, "raw.json")
    cpus = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cpus), "--data", data,
            "--work", run_dir, "--out", out]
    run_jvm(classpath, java_options, args, DEADLINE_S - (time.monotonic() - t_start))
    with open(out) as fh:
        raw = json.load(fh)

    wrong = check_oracles(raw, data) if a.workload != "ingest" else []
    attempted = int(raw["attempted"]) + len(raw.get("check", {}))
    failed = int(raw["failed"]) + len(wrong)
    spec = benchmark_spec()

    # ingest: latency per event, from its due time to its commit. curation:
    # latency per job, from submission to complete result, each job's
    # latency being its median over the timed passes
    if "latency_ms" in raw:
        lat = raw["latency_ms"]
    else:
        names = raw["jobs"].split(",")
        lat = [1e3 * quantile(raw["job_s"][k::len(names)], 0.5) for k in range(len(names))]
    samples = {"setup_s": raw["setup_s"], "cold_pass_s": raw["cold_pass_s"], "pass_s": raw["pass_s"],
               "retained_heap_mb": raw["retained_heap_mb"], "latency_ms_p50": lat, "latency_ms_p99": lat}
    pct = {"latency_ms_p50": 0.5, "latency_ms_p99": 0.99}
    print(f"workload {a.workload} seed {a.seed} cpus {cpus} fixture rows {rows}")
    e2e = {}
    for m in spec["end_to_end"]:
        xs = samples[m["name"]]
        e2e[m["name"]] = quantile(xs, pct.get(m["name"], 0.5))
        print(f"  {m['name']:<34} {e2e[m['name']]:>14.4f} {m['unit']:<6} n={len(xs)}")
    print(f"  {'failed_frac':<34} {failed / attempted:>14.4f} {'frac':<6} n={attempted}")
    if "jobs" in raw:
        names = raw["jobs"].split(",")
        for k, name in enumerate(names):
            xs = raw["job_s"][k::len(names)]
            print(f"  job {name:<30} {quantile(xs, 0.5):>14.4f} s      n={len(xs)}")

    layers = raw.get("layers", {})
    per_layer = {}
    if a.trace:
        for name, (n, total, self_s) in raw.get("spans", {}).items():
            print(f"  span {name:<29} n={int(n):<6} total={total:10.3f}s self={self_s:10.3f}s")
        for m in spec["per_layer"]:
            name = m["name"]
            if name in layers:
                per_layer[name] = layers[name]
            elif name.startswith(NOT_MEASURED[a.workload]):
                per_layer[name] = 0.0  # the workload does not exercise this layer
            else:
                die(f"per-layer metric {name} was not measured")
            print(f"  {name:<34} {per_layer[name]:>14.4f} {m['unit']}")
    metrics = ({m["name"]: {"value": per_layer[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
               if a.trace else
               {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def benchmark_spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
