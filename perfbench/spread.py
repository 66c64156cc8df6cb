"""Run-to-run spread of the end-to-end metrics.

Runs one workload on several seeds, untraced, and prints for each metric of
BENCHMARK.json the median and the quartile spread (Q3 - Q1 over the median,
as statistics.quantiles(values, n=4) gives the quartiles) next to its bound.

Each run measures for BENCHMARK.json's run_seconds, as the gated runs do.

Usage: python3 perfbench/spread.py --workload <name> --seeds 1-10
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    first, last = (int(x) for x in args.seeds.split("-"))
    values = {}
    for seed in range(first, last + 1):
        out = subprocess.run(
            [sys.executable] + spec["command"][1:] + [
                "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=900)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        result = json.loads(out.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            sys.exit(f"seed {seed}: outputs wrong")
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
    for m in spec["end_to_end"]:
        vs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{m['name']:14s} median {med:.4g} spread {(q3 - q1) / med:.3f} "
              f"bound {m['bound']} (n={len(vs)})")


if __name__ == "__main__":
    main()
