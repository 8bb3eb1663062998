#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports each end-to-end metric's
median, quartiles and spread (quartile distance over median) against the
bound in BENCHMARK.json.

Run from the root of a source checkout:

    python3 perfbench/spread.py --workload crawl-polite --seeds 1-10

Each run's result line is appended to --log (default
.bench_build/perfbench/spread.jsonl). Exit code 1 if a run fails its output
checks or a spread (setup_s excepted) exceeds a third of its bound.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--log", default=".bench_build/perfbench/spread.jsonl")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    ok = True
    Path(a.log).parent.mkdir(parents=True, exist_ok=True)
    for seed in seeds_of(a.seeds):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        wall = time.time() - t0
        line = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
        with open(a.log, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed, "result": line}) + "\n")
        if not line or not line["correct"]:
            print(f"seed {seed}: run failed or output incorrect", file=sys.stderr)
            ok = False
            continue
        for name in bounds:
            values[name].append(line["metrics"][name]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
              + f" (run {wall:.1f}s)", flush=True)
    for name, vals in values.items():
        if len(vals) < 4:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        limit = bounds[name] / 3
        flag = "" if name == "setup_s" or spread <= limit else "  <-- above bound/3"
        ok = ok and bool(name == "setup_s" or spread <= limit)
        print(f"{a.workload} {name}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {spread:.3f} (bound {bounds[name]}, n={len(vals)}){flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
