#!/usr/bin/env python3
"""Self-test of the benchmark: tiny runs of each workload kind.

  python3 perfbench/selftest.py

For a batch sweep (sf0.001, one arrays and one relational query) and an
in-situ stream (a 2x2 grid of 16x16 chunks, a short latency step), checks
that an untraced run prints every end_to_end metric and a traced run
every per_layer metric, each with its unit, that the JVM measured each of
them itself, that all outputs are correct, and that a deliberately
corrupted value (a dumped batch result, an in-situ reference) makes the
run report a failure. Exits 0 when all of that holds.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SEED = 3
TINY = {
    "setups": 2,
    "workloads": {
        "batch_tiny": {"kind": "batch", "sf": 0.001,
                       "queries": ["arr_sum_ts", "q1_pricing_summary"], "warm_passes": 2},
        "insitu_tiny": {"kind": "insitu", "grid": 2, "chunk": 16,
                        "dup": 0.05, "latency_rate": 4, "warmup_ts": 2},
    },
}


def raw_metrics(workload, trace):
    """The metrics the JVM itself wrote, before run.py picks from them."""
    with open(os.path.join(ROOT, ".bench_build", "results",
                           f"{workload}-seed{SEED}-trace{trace}.json")) as f:
        return json.load(f)["metrics"]


def run(spec, workload, trace, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "3", "--trace", str(trace), "--workloads", spec]
    if corrupt:
        cmd.append("--corrupt-reference")
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=os.path.join(ROOT, ".bench_build"),
                                     delete=False) as f:
        json.dump(TINY, f)
        spec = f.name
    try:
        for w in TINY["workloads"]:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                out = run(spec, w, trace)
                want = {m["name"]: m["unit"] for m in bench[key]}
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if got != want:
                    problems.append(f"{w} trace={trace}: metrics {sorted(set(got) ^ set(want))}")
                missing = sorted(set(want) - set(raw_metrics(w, trace)))
                if missing:
                    problems.append(f"{w} trace={trace}: not measured by the JVM: {missing}")
                if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
                    problems.append(f"{w} trace={trace}: outputs not correct: {out}")
            bad = run(spec, w, 0, corrupt=True)
            if bad["correct"] or bad["failed"] < 1:
                problems.append(f"{w}: corrupted reference was not detected")
    finally:
        os.unlink(spec)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
