"""Self-test of the benchmark on a tiny seeded corpus.

Runs every workload once untraced and once traced (run.py --tiny) and asserts
that each run ends with a result line whose metrics are exactly the ones
BENCHMARK.json lists, each with its unit; that every metric the run computes
is also printed by name with its unit; and that every output check passes.

Usage: python3 perfbench/selftest.py   (from the repository root)
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import END_TO_END_UNITS, WORKLOADS  # noqa: E402

# printed by every untraced run besides the gated end-to-end metrics
REPORTED = ["failed_frac", "query_slowdown_p90", "warmup_s", "setup_restart_s"]


def check_run(spec, workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}"
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0, f"{workload}: {lines[-8:]}"
    assert result["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in wanted], result["metrics"].keys()
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got["unit"], m["unit"])
        assert isinstance(got["value"], (int, float)), (m["name"], got)
    printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1] if len(ln.split()) == 3}
    names = list(result["metrics"])
    if not trace:
        names += REPORTED
        if workload.startswith("age"):
            names += ["encrypt_write_s", "read_decrypt_s"]
    for n in names:
        assert n in printed, f"{workload}: {n} not printed"
    for n in END_TO_END_UNITS:
        if n in printed:
            assert printed[n] == END_TO_END_UNITS[n], (n, printed[n])
    print(f"ok {workload} trace={trace}: {len(result['metrics'])} metrics, "
          f"{result['attempted']} calls run")


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    for w in WORKLOADS:
        for trace in (0, 1):
            check_run(spec, w, trace)
    print("selftest passed")


if __name__ == "__main__":
    main()
