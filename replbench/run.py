#!/usr/bin/env python3
"""Benchmark for the replication pipeline and the query deck.

Run from the repository root:

    python3 replbench/run.py --workload tail|queries \
        --seed N --seconds S --trace 0|1

The first run builds the repository and the harness with sbt (offline)
and caches the classpath under replbench/target; later runs reuse it
while the sources are unchanged. Each run works in a fresh directory
under replbench/.run, which it removes when it ends (traced runs keep
their span file under replbench/.traces).

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics of BENCHMARK.json, or its per-layer
metrics with --trace 1). The lines before it list every metric with its
unit and sample count.

Harness-only flag, for calibration: --delay-us N adds a fixed stall to
every publish (the sensitivity check).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"replbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("run from the repository root: its build.sbt and src/main/scala are missing")
    cache = os.path.join(BENCH, "target", "replbench-classpath.json")
    stamp = source_stamp()
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    print("replbench: building with sbt ...", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def oracle_check(data_dir, results_dir):
    """Each deck result against its DuckDB oracle SQL, in the canonical
    form of tools/check.py. Returns the names that differ."""
    import duckdb
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    sys.dont_write_bytecode = True
    from check import table_rows
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "orders", "lineitem", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for name, sql in sorted(oracle.items()):
        got = table_rows(pq.read_table(os.path.join(results_dir, name)))
        want = table_rows(con.execute(sql).fetch_arrow_table())
        if got != want:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["tail", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--delay-us", type=int, default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    cp = classpath()
    # setup_s counts from here: the build is not part of a run's set-up
    start = time.time()

    work = os.path.join(BENCH, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        cmd += ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}", "-cp", cp,
                "graft.replbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--delay-us", str(a.delay_us)]
        data = os.path.join(work, "data")
        if a.workload == "queries":
            subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), data,
                            str(a.seed)], check=True, timeout=120)
            cmd += ["--data", data]
        env = dict(os.environ)
        env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                               env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM did not finish within {JVM_TIMEOUT_S} s")
        out = [l for l in p.stdout.splitlines() if l.startswith("REPLBENCH ")]
        if p.returncode != 0 or not out:
            sys.stderr.write(p.stderr[-6000:])
            fail(f"benchmark JVM exited with {p.returncode}")
        r = json.loads(out[-1][len("REPLBENCH "):])
        attempted, failed = r["attempted"], r["failed"]
        notes = r.get("notes", {})
        if a.workload == "queries":
            # one oracle check per deck query, outside the timed region
            bad = oracle_check(data, notes["results"])
            attempted += 6
            failed += len(bad)
            for b in bad:
                print(f"oracle mismatch: {b}", file=sys.stderr)
        if a.trace:
            for t in glob.glob(os.path.join(work, "trace-*.jsonl")):
                os.makedirs(os.path.join(BENCH, ".traces"), exist_ok=True)
                shutil.copy(t, os.path.join(BENCH, ".traces", os.path.basename(t)))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = dict(r["metrics"])
    values["setup_s"] = r["first_timed_epoch_ms"] / 1000.0 - start
    samples = r.get("samples", {})
    if a.trace:
        names, values = spec["per_layer"], r["layers"]
    else:
        names = spec["end_to_end"]
    metrics = {}
    correct = failed == 0
    for m in names:
        v = values.get(m["name"])
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            print(f"missing value for {m['name']}", file=sys.stderr)
            correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        n = samples.get(m["name"], 1 if m["name"] == "setup_s" else "")
        print(f"{a.workload:9s} {m['name']:38s} {v:16.6f} {m['unit']:8s} samples={n}")
    for k, v in sorted(notes.items()):
        if k != "results":
            print(f"{a.workload:9s} note {k} = {v}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
