#!/usr/bin/env python3
"""Ingest benchmark: one workload, one seed, closed loop on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt, outputs under
.bench_build/). Each run starts one JVM that sets up, measures whole passes
of the workload for --seconds, checks its outputs and writes a run record;
this script turns the record into metrics (metrics.py), checks the query
sweep against its DuckDB oracles, prints a table to stdout and, as the last
line, one JSON object with the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1). Exits non-zero on any failed check.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ["cdc_tail", "lake_serve", "query_sweep"]
SPARK_JARS = "/opt/spark/jars"
RUN_BUDGET_S = 160
BUILD_BUDGET_S = 600
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    """nproc: the CPUs this process may run on."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem():
    """Heap size by the tier-1 test rule: half of RAM in GiB, within 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


CHILDREN = []


def stop_children(signum=None, frame=None):
    """Kills and reaps every child process group still running; as a
    signal handler it then exits."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_group(cmd, cwd, timeout, env=None):
    """Runs cmd in its own process group with output on stderr; on timeout
    the whole group is killed and reaped. Returns the exit code, or None on
    timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop_children()
        return None


def sources_digest(root):
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, out):
    classes = os.path.join(out, "target/scala-2.13/classes")
    stamp = os.path.join(out, "build.stamp")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building with sbt", file=sys.stderr)
    code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE,
                     BUILD_BUDGET_S, env)
    if code != 0:
        die("build failed" if code is not None else "build ran out of time", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_jvm(root, classes, work, args, n, deadline):
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{driver_mem()}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Duser.timezone=UTC",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(n), "--work", work, "--out", out])
    code = run_group(cmd, root, deadline - time.time())
    if code is None:
        die("benchmark JVM ran out of time", 4)
    if code != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed (exit {code})", 5)
    with open(out) as f:
        return json.load(f)


def check_sweep(raw, work):
    """Each query's result (written by the warm-up pass) against its DuckDB
    oracle over the same generated tables: row count and an
    order-independent digest must match."""
    import duckdb
    import sweep_oracle
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    data = raw["sizing"]["data_dir"]
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in sweep_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    checks = []
    for name in sorted(oracle):
        checks.append(sweep_oracle.compare(con, name, oracle[name], os.path.join(work, "out", name)))
    con.close()
    return checks


def fmt(v):
    return f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src/main/scala/graft")):
        die("run from the root of a checkout: src/main/scala/graft is missing")
    if not os.path.isdir(SPARK_JARS):
        die(f"{SPARK_JARS} is missing")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)
    start = time.time()

    n = cores()
    work = os.path.join(out, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        raw = run_jvm(root, classes, work, args, n, start + RUN_BUDGET_S)
        checks = [dict(c) for c in raw["checks"]]
        if args.workload == "query_sweep":
            checks += check_sweep(raw, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = metrics.end_to_end(raw)
    layer = metrics.per_layer(raw)
    bad = [c for c in checks if not c["ok"]]
    correct = not bad and bool(checks) and raw["failed"] == 0

    if args.trace:
        trace_dir = os.path.join(out, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        st = metrics.self_times(raw["spans"])
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump([dict(s, self_ms=st[s["id"]]) for s in raw["spans"]], f)

    # human-readable report
    ops = raw["samples"].get(metrics.OP_KIND[args.workload], [])
    pct, _, cnt = metrics.tail(ops)
    print(f"workload {args.workload} seed {args.seed} local[{n}] sizing {json.dumps(raw['sizing'])}")
    print(f"  op {metrics.OP_KIND[args.workload]}: tail = p{pct:g} of {cnt} samples; "
          f"passes {len(raw['passes'])}; attempted {raw['attempted']} failed {raw['failed']}")
    print("  setup parts (s): " + ", ".join(
        f"{k} {'/'.join(f'{x:.2f}' for x in v)}" for k, v in raw["setup"].items()))
    print("  pass wall (s): " + " ".join(f"{p['wall_s']:.2f}{'*' if p['traced'] else ''}"
                                         for p in raw["passes"]))
    for k, (val, unit) in e2e.items():
        print(f"  {k:32s} {fmt(val):>14s} {unit}")
    for k, (val, unit) in layer.items():
        if not k.startswith("sweep.") or val:
            print(f"  {k:32s} {fmt(val):>14s} {unit}")
    if args.trace:
        print("  self time by span (ms): " + ", ".join(
            f"{k} {t:.0f}" for k, t in metrics.self_time_by_name(raw["spans"])))
    for c in checks:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c.get('detail', '')}")
    for e in raw["errors"]:
        print(f"  error {e}")

    chosen = layer if args.trace else e2e
    result = {"correct": correct, "attempted": int(raw["attempted"]), "failed": int(raw["failed"]),
              "metrics": {k: {"value": val, "unit": unit} for k, (val, unit) in chosen.items()}}
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
