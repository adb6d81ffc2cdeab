#!/usr/bin/env python3
"""graft's benchmark: one command for every workload in BENCHMARK.json.

  python3 perfbench/run.py --workload batch_arrays --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run compiles graft's
sources together with the benchmark's own JVM package (perfbench/src)
into .bench_build/; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from --seed, starts one JVM
(local[nproc], heap derived from physical memory), checks every output
and prints one JSON line last:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics,
measured with no listeners attached; with --trace 1 they are its
per_layer metrics from a traced run. The full record of a run (machine,
per-step and per-query detail, per-query layer splits) goes to
.bench_build/results/<workload>-seed<seed>-trace<trace>.json.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 140
CHECK_TIMEOUT_S = 30
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the pip-installed pyspark."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        home = os.path.dirname(spec.origin) if spec else "."
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        sys.exit("perfbench: no graft sources under src/main/scala; run from a checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build(jars):
    """Compile graft + the benchmark package once per source state."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-5000:])
        shutil.rmtree(out, ignore_errors=True)
        sys.exit("perfbench: build failed")
    resources = os.path.join(ROOT, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    open(os.path.join(out, ".done"), "w").close()
    log(f"built in {time.time() - t0:.1f} s")
    return out


def gen_data(sf, seed):
    d = os.path.join(BUILD, "data", f"sf{sf}-seed{seed}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    for old in glob.glob(os.path.join(BUILD, "data", "*")):
        shutil.rmtree(old, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"), "--sf", str(sf),
                    "--seed", str(seed), "--out", d], check=True)
    open(os.path.join(d, ".done"), "w").close()
    return d


def heap_gb():
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return min(8, max(2, kb // (2 * 1024 * 1024)))


def run_jvm(classes, jars, work, jargs):
    """One JVM in its own process group; killed with the group on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd = (["java"] + opens + [
        f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={work}/spark-local", f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dspark.sql.streaming.checkpointLocation={work}/checkpoints",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] +
        [str(x) for kv in jargs.items() for x in (f"--{kv[0]}", kv[1])])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: JVM exited with {rc}")


def oracle_failures(data_dir, check_dir, corrupt=False):
    """Run tools/check.py over the dumped results and their DuckDB oracle
    SQL and return {query: reason} for every query it does not pass.
    `corrupt` first perturbs one dumped value (self-test)."""
    if corrupt:
        corrupt_first_result(check_dir)
    verdict = os.path.join(check_dir, "verdict.json")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data_dir,
                    check_dir, "--json", verdict, "--sf", "run"],
                   stdout=subprocess.DEVNULL, timeout=CHECK_TIMEOUT_S)
    with open(verdict) as f:
        queries = json.load(f)["run"]["queries"]
    return {q: r["err"] or "cells differ" for q, r in queries.items() if not r["cells_match"]}


def corrupt_first_result(check_dir):
    """Add 1 to the first numeric cell of the first dumped result."""
    import pandas as pd
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        name = sorted(json.load(f))[0]
    path = os.path.join(check_dir, name)
    df = pd.read_parquet(path)
    col = next(c for c in df.columns if pd.api.types.is_numeric_dtype(df[c]))
    df.loc[0, col] += 1
    shutil.rmtree(path)
    df.to_parquet(path)


def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see BENCHMARK.json)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="self-test only: perturb one reference value")
    ap.add_argument("--workloads", default=os.path.join(HERE, "workloads.json"),
                    help="self-test only: another workload spec")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(a.workloads) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    w = spec["workloads"][a.workload]
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    jargs = {"kind": w["kind"], "seed": a.seed, "trace": a.trace, "cpus": cpus,
             "work": work, "out": os.path.join(work, "result.json"),
             "setups": spec["setups"]}
    if w["kind"] == "batch":
        data = gen_data(w["sf"], a.seed)
        jargs.update(data=data, queries=",".join(w["queries"]), warm_passes=w["warm_passes"])
    else:
        jargs.update({k: w[k] for k in ("grid", "chunk", "dup", "latency_rate", "warmup_ts")})
        jargs["latency_ts"] = max(11, round(w["latency_rate"] * a.seconds))
        jargs["corrupt_reference"] = int(a.corrupt_reference)
    t0 = time.time()
    run_jvm(classes, jars, work, jargs)
    with open(jargs["out"]) as f:
        res = json.load(f)

    if w["kind"] == "batch":
        failures = dict(res["failed_queries"])
        bad = oracle_failures(data, res["check_dir"], a.corrupt_reference)
        failures.update({k: v for k, v in bad.items() if k not in failures})
        failed = len(failures)
        res["failures"] = failures
    else:
        failed = res["failed_timesteps"]
    attempted = res["attempted"]

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            sys.exit(f"perfbench: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    res.update(workload=a.workload, seed=a.seed, trace=a.trace, seconds=a.seconds,
               run_wall_s=time.time() - t0, failed=failed)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    if failed:
        log(f"{failed} of {attempted} failed: "
            f"{json.dumps(res.get('failures') or res.get('errors'))[:2000]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
