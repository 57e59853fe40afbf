#!/usr/bin/env python3
"""Seeded benchmark of the Spark crawl / index / search / dedup engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload index-serve --seed 1 --seconds 6 --trace 0 \
        [--conf spark.key=value]...

Builds the engine and the benchmark driver from source (once per source
change, into perfbench/target, stamped in .bench_build/), runs one workload
in one JVM, checks every output (the DuckDB oracle of the dedup ops runs
here), prints each metric with its unit and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_LIMIT_S = 170       # one run, build excluded
BUILD_LIMIT_S = 700     # the first run of a checkout also builds

# Spark 4 on JDK 17 outside spark-submit (same list as the repo's build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# A fixed heap with a fixed young generation and the stop-the-world
# parallel collector: no heap resizing and no concurrent GC threads competing
# with the 4 task threads. With G1, dedup-ops throughput spread 0.31 over ten
# seeds on a 4-vCPU host while the single-threaded probe stayed flat.
JVM_GC = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
          "-Xms4g", "-Xmx4g", "-Xmn1g"]

DEDUP_OPS = ["q_jaccard_pairs", "q_minhash_lsh", "q_simhash_pairs",
             "q_winnow_pairs", "q_dedup_clusters"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return files


def build(deadline):
    """Compile engine + driver with sbt unless the stamped sources match."""
    files = build_inputs()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=max(10, deadline - time.time()))
    with open(log) as fh:
        lines = fh.read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    cp = [l for l in lines if "classes" in l and os.pathsep in l]
    if not cp:
        fail(f"build printed no classpath (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1].strip(), True


def host_context():
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"host.nproc": (float(len(os.sched_getaffinity(0))), "count"),
            "host.mem_total_mb": (mem_kb / 1024.0, "MB")}


def val_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return abs(fa - fb) <= 1e-9 + 1e-9 * max(abs(fa), abs(fb))
    return a == b


def dedup_check(out_dir, docs_dir):
    """Strict ordered compare of each op's output with DuckDB running the
    op's oracle SQL over the same documents.parquet. Returns the ops that
    differ, each with a reason."""
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{docs_dir}/documents.parquet/*.parquet')")
    bad = {}
    for op in DEDUP_OPS:
        with open(os.path.join(out_dir, "dedup", f"{op}.sql")) as fh:
            sql = fh.read()
        got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/dedup/{op}/*.parquet')")
        gcols = [d[0].lower() for d in got.description]
        grows = got.fetchall()
        want = con.execute(sql)
        wcols = [d[0].lower() for d in want.description]
        wrows = want.fetchall()
        if gcols != wcols:
            bad[op] = f"columns {gcols} != oracle {wcols}"
        elif len(grows) != len(wrows):
            bad[op] = f"{len(grows)} rows != oracle {len(wrows)}"
        else:
            for i, (g, w) in enumerate(zip(grows, wrows)):
                if not all(val_eq(a, b) for a, b in zip(g, w)):
                    bad[op] = f"row {i}: {g!r} != oracle {w!r}"
                    break
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--conf", action="append", default=[])
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}; "
             "run from the root of a checkout of the repository")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    t_start = time.time()
    cp, built = build(t_start + BUILD_LIMIT_S)
    deadline = t_start + RUN_LIMIT_S + (BUILD_LIMIT_S if built else 0)
    host = host_context()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = a.conf + [
        f"spark.local.dir={os.path.join(BUILD, 'spark-local')}",
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    cmd = (["java"] + JVM_GC + ADD_OPENS +
           [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--out", run_dir])
    for c in confs:
        cmd += ["--conf", c]

    log_path = os.path.join(run_dir, "jvm.log")
    launch = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - launch))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded its time limit (log: {log_path})")
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM exited with {rc} (log: {log_path})")
    with open(os.path.join(run_dir, "result.json")) as fh:
        r = json.load(fh)

    metrics = dict((k, (v["value"], v["unit"])) for k, v in r["metrics"].items())
    report = dict((k, (v["value"], v["unit"])) for k, v in r["report"].items())
    metrics.update(host)
    attempted, failed = r["attempted"], r["failed"]
    wrong, unexpected = r["wrong"], r["unexpected"]
    notes = list(r["notes"])
    t_check = time.time()
    if a.workload == "dedup-ops":
        bad = dedup_check(run_dir, os.path.join(run_dir, "work", "docs"))
        for op, why in bad.items():
            calls = int(report.get(f"calls.{op}", (1, ""))[0])
            failed += calls
            wrong += calls
            notes.append(f"MISMATCH {op} vs DuckDB oracle: {why}")
    check_s = time.time() - t_check
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)

    setup_s = (r["setup_done_epoch_ms"] / 1000.0 - launch) - r["calib_ns"] / 1e9
    metrics["setup_s"] = (setup_s, "s")
    report["failed_share"] = (failed / attempted if attempted else 0.0, "ratio")
    correct = wrong == 0 and unexpected == 0

    # human-readable lines first; the JSON result is the last line
    print(f"# perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} nproc={host['host.nproc'][0]:.0f} "
          f"mem_total_mb={host['host.mem_total_mb'][0]:.0f} "
          f"calib_s={metrics['host.calib_s'][0]:.3f} "
          f"jvm_s={t_check - launch:.1f} oracle_check_s={check_s:.1f}")
    for name, (v, unit) in list(report.items()):
        print(f"  {name:32s} {v:14.4f} {unit}")
    for n in notes:
        print(f"  note: {n}")

    # a layer that is idle in this workload reports 0 for its per-layer
    # metrics; an end-to-end metric must always be measured
    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    out = {}
    for m in wanted:
        if a.trace == "1":
            v = metrics.get(m["name"], (0.0, m["unit"]))[0]
        elif m["name"] in metrics:
            v = metrics[m["name"]][0]
        else:
            fail(f"end-to-end metric {m['name']} was not measured")
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            fail(f"metric {m['name']} has no finite value")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"  {m['name']:32s} {v:14.4f} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}))


if __name__ == "__main__":
    main()
