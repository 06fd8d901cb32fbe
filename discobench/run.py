#!/usr/bin/env python3
"""Discogs-load benchmark: one run of one workload.

    python3 discobench/run.py --workload load|star|suite --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds
the library and the harness with sbt (see build.sbt beside this file)
into the checkout and keeps the class path in `.bench_build/`; later
runs reuse it while the sources are unchanged; the build also counts
the rows of the suite's oracle SQL with DuckDB. Each run starts its own
JVM at local[<cores>], which generates seeded inputs, sets up, drives
one closed-loop client for `--seconds` and writes a run record. This
script then checks the outputs with DuckDB (outside the timed window)
and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones. README.md beside this file says what each measures.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.json")
# the suite's fixed tables: sf0.01 timed, sf0.001 for its warm-up pass
DATA = os.path.join(HERE, "data")

# Dump scale, in label records: about 22k input records over four
# dumps per load.
LABELS = 1500
RUN_CAP_S = 175.0
# No hsperfdata file in the system temp directory: a run writes only
# inside the checkout.
JVM_FLAGS = ["-Xmx3g", "-XX:-UsePerfData"]

# JDK 17 module opens that spark-submit would otherwise add.
OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


def metric_units(kind):
    """Name -> unit of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def die(msg, code=2):
    print(f"discobench: {msg}", file=sys.stderr)
    sys.exit(code)


_child = None


def run_child(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout,
    or when this script is terminated, the whole group is killed and
    reaped. Returns the exit code, or None on timeout."""
    global _child
    _child = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return _child.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if _child.poll() is None:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
        _child = None


def _terminate(signum, _frame):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(128 + signum)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), DATA]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles library and harness once per source state; returns the
    class path."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} at the checkout root {ROOT}: nothing to build")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    digest = source_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = json.load(f)
        classes = [p for p in cached.get("classpath", "").split(":") if p.endswith("classes")]
        if cached.get("digest") == digest and classes and all(map(os.path.isdir, classes)):
            return cached["classpath"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # every JVM sbt starts, its version probe included
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        # resolve from the local caches only, as the repository's own
        # test command does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    with open(log, "w") as out:
        # sbt's scratch files (file-watcher library, server socket) go
        # under the build directory, not the system temp directory
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Djava.io.tmpdir={BUILD}/tmp", "-Dsbt.server.autostart=false",
                        "compile",
                        "export discobench/Runtime/fullClasspath"],
                       850, cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and "classes" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); log in {log}", 3)
    # the suite's oracle row counts, once per source and data state
    counts = checks.oracle_counts(oracle_sql(cp[-1]), os.path.join(DATA, "sf0.01"))
    with open(CLASSPATH, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1], "oracle_rows": counts}, f)
    return cp[-1]


def oracle_sql(cp):
    """SparkEntry.oracleSql, as the library states it: entry -> SQL."""
    out = os.path.join(BUILD, "oracle_sql.json")
    with open(os.path.join(BUILD, "oracle_sql.log"), "w") as log:
        rc = run_child(["java", *JVM_FLAGS, f"-Djava.io.tmpdir={BUILD}/tmp", "-cp", cp,
                        "discobench.Main", "--oracle-sql", out], 120,
                       stdout=log, stderr=subprocess.STDOUT)
    if rc != 0:
        die(f"could not list the suite's oracle SQL (exit {rc})", 3)
    with open(out) as f:
        return json.load(f)


def oracle_rows():
    with open(CLASSPATH) as f:
        return json.load(f)["oracle_rows"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *OPENS, *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
           "discobench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--cores", str(cores()), "--labels", str(LABELS),
           "--data", DATA]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_child(cmd, max(10.0, deadline - time.time()),
                       stdout=out, stderr=subprocess.STDOUT)
    record = os.path.join(work, "record.json")
    if rc != 0 or not os.path.exists(record):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"workload JVM ended with {'a timeout' if rc is None else rc}", 4)
    with open(record) as f:
        return json.load(f)


def end_to_end(rec):
    """op_gmean_s: the geometric mean, over the kinds of operation, of
    each kind's median wall, as TPC-H's power metric summarizes its
    queries. A plain median over `star`'s 13 operators or `suite`'s
    sampled entries lands on whichever kind sits in the middle, and
    neighbouring kinds differ by up to 40%."""
    walls = {}
    for o in rec["ops"]:
        if o["status"] == "ok" and not o["traced"]:
            walls.setdefault(o["name"], []).append(o["wall_s"])
    if not walls:
        return {}
    n = sum(len(w) for w in walls.values())
    return {
        "op_gmean_s": math.exp(statistics.fmean(
            math.log(statistics.median(w)) for w in walls.values())),
        "ops_per_s": n / sum(sum(w) for w in walls.values()),
        "setup_s": rec["setup_s"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["load", "star", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    cp = build()
    deadline = time.time() + RUN_CAP_S  # a first run's build has a budget of its own
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(cp, args, work, deadline - 20)
        results = list(rec["checks"]) + checks.run(
            rec, oracle_rows() if args.workload == "suite" else None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # on a disk mounted with online discard the freed blocks are
        # trimmed at the next journal commit; wait for it here rather
        # than inside the next run's measurement
        os.sync()

    failed_ops = [o for o in rec["ops"] if o["status"] != "ok"]
    failed_checks = [c for c in results if not c["ok"]]
    for c in failed_checks:
        print(f"discobench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
    for o in failed_ops:
        print(f"discobench: operation {o['name']} {o['status']}", file=sys.stderr)
    if args.trace:
        layers = rec.get("layers", {})
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in metric_units("per_layer").items()}
    else:
        values = end_to_end(rec)
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in metric_units("end_to_end").items() if n in values}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rec.pop("manifest", None)
    rec["check_results"] = results
    with open(os.path.join(BUILD, "records",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(rec, f)
    attempted = len(rec["ops"]) + len(results)
    failed = len(failed_ops) + len(failed_checks)
    # correct: every output that was made passed its checks; operations
    # that failed are counted in `failed` and named above
    print(json.dumps({
        "correct": not failed_checks and len(metrics) > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
