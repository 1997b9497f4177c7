#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

Usage, from the repository root:
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (into
.bench_build/perfbench), runs the workload in one Spark JVM at local[4],
checks the gate outputs against the repository's DuckDB oracle SQL
(outside the timed window), and prints as its last stdout line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones, and the run's spans are kept under
.bench_build/perfbench/traces/.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# Per-workload JIT settings. vote_live runs the client compiler only: with
# C2 on, compilation of the streaming path was still running well into the
# measured window, and the median micro-batch time ranged from 0.43 to
# 0.60 s over five seeds; with C1 alone, five seeds spread by 0.08 of the
# median. gates keeps the default tiered compiler: C1 alone made its warm
# calls about 55% slower and no steadier.
JIT_FLAGS = {"vote_live": ["-XX:TieredStopAtLevel=1"], "gates": []}
WORKLOADS = tuple(JIT_FLAGS)
JVM_TIMEOUT_S = 170
SHM = "/dev/shm"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(files):
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Compile unless the classes were built from these exact sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources (src/main/scala) in this checkout")
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark")
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_jvm(args, work):
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JIT_FLAGS[args.workload]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BUILD}/classes:{jars}/*", "perfbench.Main", args.workload,
            str(args.seed), str(args.seconds), str(args.trace), work]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # the engine keeps streaming checkpoints and sink output on /dev/shm
    # when it is writable; remove the ones this run creates
    shm_before = set(os.listdir(SHM)) if os.path.isdir(SHM) else set()
    with open(f"{work}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
        finally:
            if os.path.isdir(SHM):
                for name in set(os.listdir(SHM)) - shm_before:
                    if name.startswith("graft-"):
                        shutil.rmtree(os.path.join(SHM, name), ignore_errors=True)
    if code != 0 or not os.path.exists(f"{work}/result.json"):
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"perfbench: JVM run failed (exit {code})")
    with open(f"{work}/result.json") as fh:
        return json.load(fh)


def oracle_failures(res):
    """Hash every gate output against the DuckDB oracle SQL, the way
    tools/check_oracle.py compares them, and cold against warm outputs.
    Returns one message per failed output."""
    if not res["gate_outputs"]:
        return []
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, normalize, table_glob

    corpus = res["corpus_dir"]
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{corpus}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_glob(corpus, t)}')")

    def digest(df):
        h = hashlib.sha256()
        h.update(repr(list(zip(df.columns, map(str, df.dtypes)))).encode())
        h.update(df.to_csv(index=False).encode())
        return h.hexdigest()

    want = {}
    for gate, sql in res["oracle_sql"].items():
        try:
            want[gate] = digest(normalize(con.execute(sql).fetchdf()))
        except Exception as e:  # a broken oracle fails every output of the gate
            want[gate] = f"oracle SQL failed: {e}"
    bad = []
    got = {}
    for o in res["gate_outputs"]:
        name = f"{o['gate']} {o['pass']}"
        try:
            d = digest(normalize(pd.read_parquet(o["path"])))
        except Exception as e:
            bad.append(f"{name}: unreadable output: {e}")
            continue
        got[(o["gate"], o["pass"])] = d
        if d != want[o["gate"]]:
            bad.append(f"{name}: result hash differs from the oracle ({want[o['gate']][:80]})")
        elif o["pass"].startswith("warm") and d != got.get((o["gate"], "cold" + o["pass"][4:])):
            bad.append(f"{name}: warm hash differs from cold")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ensure_built()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.monotonic()
        res = run_jvm(args, work)
        t1 = time.monotonic()
        failures = list(res["failures"])
        failed = res["failed"]
        oracle_bad = oracle_failures(res)
        log(f"jvm {t1 - t0:.1f} s, oracle check {time.monotonic() - t1:.1f} s")
        failures += oracle_bad
        failed += len(oracle_bad)
        if args.trace:
            wanted, values = spec["per_layer"], res["layers"]
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(f"{work}/spans.json", f"{traces}/{args.workload}-{args.seed}.json")
        else:
            wanted, values = spec["end_to_end"], res["e2e"]
        metrics = {}
        for m in wanted:
            v = values.get(m["name"])
            if v is None and args.trace:
                v = 0.0  # a layer this workload does not exercise
            if v is None:
                failures.append(f"{m['name']} not measured")
            else:
                metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        for f in failures:
            log(f"FAILED: {f}")
        print(json.dumps({"correct": not failures, "attempted": max(1, res["attempted"]),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
