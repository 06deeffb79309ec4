#!/usr/bin/env python3
"""Benchmark of the graft engine: each workload is a closed loop from one
process and one client thread on Spark local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
harness (perfbench/harness, an sbt build that depends on the checkout's
own build) into the checkout and caches the classpath under .bench_build/;
later runs reuse it while the sources are unchanged.

Workloads (see perfbench/README.md for the layer map; BENCHMARK.json runs
the first two):
  etl_pipeline  the paper's pipeline over seed-generated raw hit pages
  stack_ingest  a registry streaming drain that commits stack state per trigger
  stack_serve   lexical/vector/hybrid serves through the manifest stacks
  corpus_batch  registry dedup/ANN/text queries over sf0.1, noop sink

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones; a traced run also keeps its spans and jobs in
.bench_build/traces/. Every output is checked: registry results
against their DuckDB oracle over the same tables, the pipeline against the
generator's own counts, serves against the batch path over the raw tables.
A request that throws or answers wrong counts in `failed` and has no timing.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("etl_pipeline", "stack_ingest", "stack_serve", "corpus_batch")
HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.1")
BUILD_DIR = ".bench_build"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every build input: the library, its build, the harness."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(root, "src", "main"),
              os.path.join(root, "project", "build.properties"), HARNESS]
    for top in inputs:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, subdirs, names in os.walk(top):
                # skip build outputs: target/ and sbt's project/project/
                subdirs[:] = sorted(s for s in subdirs if s != "target" and not (
                    s == "project" and os.path.basename(d) == "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compile library + harness once per source state; return the classpath."""
    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    cp_file = os.path.join(root, BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(root, BUILD_DIR, "stamp.txt")
    with open(os.path.join(root, BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(root)
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as c:
                        return c.read()
        log = os.path.join(root, BUILD_DIR, "build.log")
        with open(log, "w") as out:
            p = subprocess.Popen(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
                stderr=out, text=True, start_new_session=True)
            try:
                stdout, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                fail(f"build timed out; see {log}")
            out.write(stdout)
        if p.returncode != 0:
            sys.stderr.write(stdout[-4000:])
            fail(f"build failed; see {log}")
        cp = [l for l in stdout.splitlines() if not l.startswith("[")][-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(root, cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    out = os.path.join(run_dir, "out")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", "-Xms3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-Dspark.sql.ansi.enabled=false",
              "-Dspark.callstack.depth=60",
              "-cp", cp, "graft.perfbench.Bench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", DATA, "--out", out])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    res = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.isfile(res):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with {p.returncode}")
    trace = os.path.join(out, "trace.jsonl")
    if os.path.isfile(trace):
        keep = os.path.join(root, BUILD_DIR, "traces")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(trace, os.path.join(keep, f"{args.workload}-{args.seed}.jsonl"))
    with open(res) as f:
        return json.load(f)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (sorted(cols),
            sorted((tuple(r[i] for i in order) for r in rows),
                   key=lambda t: tuple(repr(x) for x in t)))


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, float) or isinstance(b, float):
        return float(a) == float(b)
    return str(a) == str(b)


def oracle_mismatch(check):
    """Compare one registry result with its DuckDB oracle over the same
    tables; None when they agree, else what differs."""
    import duckdb
    if check["oracle"] is None:
        return "query has no oracle"
    con = duckdb.connect()
    for f in sorted(os.listdir(check["tables"])):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(check['tables'], f)}'")
    got = con.sql(f"SELECT * FROM '{check['result']}/*.parquet'")
    gcols, grows = canon(got.fetchall(), got.columns)
    exp = con.sql(check["oracle"])
    ecols, erows = canon(exp.fetchall(), exp.columns)
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    if len(grows) != len(erows):
        return f"rows {len(grows)} != {len(erows)}"
    bad = sum(1 for g, e in zip(grows, erows) if not all(map(same, g, e)))
    return f"{bad}/{len(grows)} rows differ" if bad else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"no {need} here: run from the root of a checkout of the library")

    cp = build(root)
    run_dir = os.path.join(root, BUILD_DIR, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        res = run_jvm(root, cp, args, run_dir)
        failures = dict(res["failures"])
        failed = res["failed"]
        for check in res["checks"]:
            try:
                why = oracle_mismatch(check)
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"oracle error: {e}"
            if why:
                name = check["name"]
                thrown = sum(1 for k in failures if k.split("#")[0] == name)
                failed += res["requests"].get(name, 0) - thrown
                failures[name] = why
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in failures.items():
        print(f"FAILED {k}: {v}")
    metrics = res["metrics"]
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
