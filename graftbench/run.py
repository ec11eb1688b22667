#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload with one seed.

    python3 graftbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds graft and the
benchmark's JVM program with sbt (graftbench/build.sbt); later runs
reuse the build until a source file changes. Every run then

  1. generates its inputs from the seed (datagen.py) into a fresh
     directory under graftbench/target/runs;
  2. computes the DuckDB reference answers of the registry pipelines
     the workload runs (SparkEntry.oracleSql);
  3. starts one JVM (graftbench.Main) that builds the workload's
     artifacts into a fresh directory, warms every operation type up
     once, runs the closed-loop client for --seconds of client time and
     checks every answer outside the timed windows;
  4. prints one line per metric and, last, one JSON object with
     `correct`, `attempted`, `failed` and `metrics`: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

The benchmark reads and writes only inside the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402

JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840

# registry pipelines with a DuckDB reference answer, per workload
ORACLES = {"analytics": datagen.ANALYTICS, "serve_mixed": []}


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return (classpath, jvm options)."""
    launch = os.path.join(TARGET, "launch.txt")
    oracle = os.path.join(TARGET, "oracle_sql.json")
    stamp = os.path.join(TARGET, "build.stamp")
    digest = sources_digest()
    if not (os.path.exists(stamp) and open(stamp).read() == digest and
            os.path.exists(launch) and os.path.exists(oracle)):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        os.makedirs(TARGET, exist_ok=True)
        log = os.path.join(TARGET, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            fail(f"sbt build failed (exit {rc}); see {log}")
        cp, opts = read_launch(launch)
        rc = subprocess.run(["java", *opts, "-Xmx1g", "-cp", cp, "graftbench.Main",
                             "--dump-oracles", oracle], stdout=subprocess.DEVNULL,
                            stderr=subprocess.DEVNULL, timeout=120).returncode
        if rc != 0:
            fail("could not dump the oracle SQL")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return read_launch(launch)


def read_launch(path):
    with open(path) as fh:
        lines = [x for x in fh.read().splitlines() if x]
    return lines[0], lines[1:]


def heap_gb():
    """The Spark driver heap the repository's test command uses: half of
    RAM in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(x.split()[1]) for x in fh if x.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def reference_answers(workload, data, out):
    import duckdb
    sql = json.load(open(os.path.join(TARGET, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{out}/.duckdb'")
    for t in os.listdir(data):
        name = t[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{t}/*.parquet')")
    for q in ORACLES[workload]:
        os.makedirs(os.path.join(out, q))
        con.execute(f"COPY ({sql[q]}) TO '{out}/{q}/part-0.parquet' (FORMAT PARQUET)")
    con.close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=datagen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("graft's sources are not beside graftbench/; run from a full checkout")

    cp, opts = build()
    t_start = time.perf_counter()

    work = os.path.join(TARGET, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    t = time.perf_counter()
    rows = datagen.tables(args.seed, data)
    gen_s = time.perf_counter() - t
    warm, rounds = datagen.schedule(args.workload, args.seed)
    with open(os.path.join(work, "plan.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "rows": rows,
                   "warmup": warm, "rounds": rounds}, fh)

    t = time.perf_counter()
    oracles = os.path.join(work, "oracles")
    os.makedirs(oracles)
    reference_answers(args.workload, data, oracles)
    oracle_s = time.perf_counter() - t

    # the client collects the heap after every operation, outside the
    # timed window; MaxHeapFreeRatio=100 keeps that from shrinking the heap
    # the next operation runs in
    cmd = ["java", *opts, f"-Xmx{heap_gb()}g", "-XX:MaxHeapFreeRatio=100",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--work", work,
           "--plan", os.path.join(work, "plan.json"), "--oracles", oracles,
           "--launched", str(int(time.time() * 1000))]
    log = os.path.join(work, "jvm.log")
    t_jvm = time.perf_counter()
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run did not finish in {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the benchmark JVM exited with {rc}; see {log}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    # keep the plan, result and log for replay; drop the bulky inputs
    for d in ("data", "artifacts", "oracles", "spark-local", "user-bytes", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    report = metrics.report(res, rows, gen_s, oracle_s, bool(args.trace))
    print(f"# wall: {t_jvm - t_start:.3f} s before the JVM, JVM {time.perf_counter() - t_jvm:.3f} s")
    for line in report["lines"]:
        print(line)
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": report["metrics"]}))


if __name__ == "__main__":
    main()
